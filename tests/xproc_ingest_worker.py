"""Subprocess worker for the cross-process writer-contention test.

Launched by ``test_two_process_ingest_cycles_single_winner``: builds its
OWN SparkSession (own JVM — this is the point: the threaded variant in
test_atomic_write.py shares one process, so it exercises the lease logic
but not the OS-level O_EXCL/rename claims the emulation rests on), signals
readiness, spin-waits for the shared "go" marker so both workers hit
``WriterLease.acquire`` within milliseconds, then runs one full
``IngestJob.run`` cycle and reports won/lost as JSON.

Reference analog: the single-writer daemon assumption (main.py:417-424) —
two independent daemon instances must never interleave one warehouse.

An optional fifth argument names a crash point for
``test_run_crash_points_recover_to_one_clean_run``: the worker hard-exits
(``os._exit``, no cleanup, as a killed process would) at the ledger write
that follows it —

- ``staged``: the batch's data is staged, its ``write begin`` marker not
  yet written;
- ``published``: its files are published into the live table, its
  ``write commit`` marker not yet written;
- ``committed``: the write is committed, the files' statuses not yet
  ledgered.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path


#: exit code of a worker that died at its crash point
CRASH_EXIT = 17


def crash_at(point: str) -> None:
    """Hard-exit at the first ledger write that follows ``point``."""
    from datawarehouse_backup_system_spark import ledger as ledger_mod

    trigger = {
        "staged": ledger_mod.STATUS_WRITE_BEGIN,
        "published": ledger_mod.STATUS_WRITE_COMMIT,
        "committed": ledger_mod.STATUS_UPLOADED,
    }[point]
    real = ledger_mod.Ledger.append_many

    def append_many(self, rows, cas_token=None):
        if any(status == trigger for _, status in rows):
            os._exit(CRASH_EXIT)
        return real(self, rows, cas_token)

    ledger_mod.Ledger.append_many = append_many


def main() -> int:
    repo, data_dir, sync_dir, tag = sys.argv[1:5]
    sys.path.insert(0, repo)
    if len(sys.argv) > 5:
        crash_at(sys.argv[5])

    from datawarehouse_backup_system_spark.plans.ingest import IngestJob
    from datawarehouse_backup_system_spark.plans.table_format import (
        ConcurrentWriterError,
    )
    from datawarehouse_backup_system_spark.registry import SchemaRegistry
    from datawarehouse_backup_system_spark.session import get_spark
    from datawarehouse_backup_system_spark.sources.catalog import Router

    data = Path(data_dir)
    sync = Path(sync_dir)
    spark = get_spark(app_name=f"xproc-ingest-{tag}", shuffle_partitions=4)
    registry = SchemaRegistry.from_files(
        data / "table_schema.json", data / "rename_mapping.json"
    )
    router = Router().add(r"^last24h__", "mini_campaign_events")
    job = IngestJob(
        spark=spark,
        registry=registry,
        warehouse_dir=data / "warehouse",
        router=router,
    )

    (sync / f"ready-{tag}").touch()
    deadline = time.time() + 120
    while not (sync / "go").exists():
        if time.time() > deadline:
            (sync / f"out-{tag}.json").write_text(
                json.dumps({"outcome": "timeout"})
            )
            return 1
        time.sleep(0.005)

    try:
        res = job.run(data)
        out = {"outcome": "won", "statuses": [r.status for r in res]}
    except ConcurrentWriterError as exc:
        out = {"outcome": "lost", "err": str(exc)[:200]}
    (sync / f"out-{tag}.json").write_text(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
