"""The ledger and the cycle's other metadata steps run on the driver.

Ledger batches are written and read with pyarrow; these tests pin that
the driver-side folds give exactly what Spark folds over the same files
(including a batch written by Spark's own parquet writer), that a
stranded hidden batch file stays invisible until it is swept, and that
no metadata step of a cycle launches a Spark job.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from datawarehouse_backup_system_spark import ledger as ledger_mod
from datawarehouse_backup_system_spark.ledger import (
    STATUS_WRITE_ABORTED as ABORTED,
    STATUS_WRITE_BEGIN as BEGIN,
    STATUS_WRITE_COMMIT as COMMIT,
    STATUS_WRITE_RESTORED as RESTORED,
    Ledger,
)
from datawarehouse_backup_system_spark.plans.ingest import IngestJob, _sniff
from datawarehouse_backup_system_spark.registry import SchemaRegistry
from datawarehouse_backup_system_spark.sources.catalog import Router

from fixtures import generate_f1


def _spark_fold(led: Ledger, table: str) -> dict:
    """The ledger queries as one Spark job each over ``led.read()``."""
    df = led.read()
    processed = {
        r[0] for r in df.select("file_name").distinct().collect()
        if not r[0].startswith(ledger_mod.WRITE_MARKER_PREFIX)
    }
    markers = (
        df.where(F.col("file_name").startswith(ledger_mod.WRITE_MARKER_PREFIX))
        .groupBy("file_name")
        .agg(
            F.collect_set("status").alias("states"),
            F.min(F.when(F.col("status") == COMMIT, F.col("created_at")))
            .alias("committed_at"),
        )
        .collect()
    )
    incomplete, committed, tombstoned = [], [], []
    for r in markers:
        states = set(r["states"])
        _, t, wid = r["file_name"].split(":", 2)
        if BEGIN in states and not {COMMIT, ABORTED} & states:
            incomplete.append((t, wid))
        if t != table:
            continue
        if COMMIT in states and RESTORED not in states:
            committed.append((wid, r["committed_at"]))
        if RESTORED in states or (ABORTED in states and COMMIT not in states):
            tombstoned.append(wid)
    return {
        "processed": processed,
        "incomplete": sorted(incomplete),
        "committed": sorted(committed, key=lambda t: (t[1], t[0])),
        "tombstoned": sorted(tombstoned),
    }


def _driver_fold(led: Ledger, table: str) -> dict:
    return {
        "processed": led.processed_set(),
        "incomplete": sorted(led.incomplete_writes()),
        "committed": led.committed_writes(table),
        "tombstoned": sorted(led.tombstoned_writes(table)),
    }


def _marker(wid: str, table: str = "t") -> str:
    return f"{ledger_mod.WRITE_MARKER_PREFIX}{table}:{wid}"


def test_driver_ledger_reads_spark_written_batches(spark, tmp_path):
    path = tmp_path / "_ledger"
    led = Ledger(spark, path)
    # one batch the way Spark's writer stored it: INT96 timestamps, a
    # nullable schema and a _SUCCESS marker next to the part file
    parent_rows = [
        ("a.csv", ledger_mod.STATUS_UPLOADED),
        (_marker("w1"), BEGIN), (_marker("w1"), COMMIT),
        (_marker("w2"), BEGIN),
        (_marker("w9", "u"), BEGIN),
    ]
    (
        spark.createDataFrame(pd.DataFrame(parent_rows,
                                           columns=["file_name", "status"]))
        .withColumn("created_at", F.current_timestamp())
        .coalesce(1).write.mode("append").parquet(str(path))
    )
    assert (path / "_SUCCESS").exists()
    time.sleep(0.01)
    led.append_many([("b.csv", ledger_mod.STATUS_EMPTY),
                     (_marker("w2"), COMMIT),
                     (_marker("w3"), BEGIN), (_marker("w3"), ABORTED)])
    led.append(_marker("w4"), BEGIN)
    # a CAS batch: the commit plus a tombstone, and a losing second try
    assert led.append_many([(_marker("w4"), COMMIT), (_marker("w1"), RESTORED)],
                           cas_token="tok")
    assert not led.append_many([(_marker("w4"), COMMIT)], cas_token="tok")
    # abort-then-replay of one write-id: live, not tombstoned
    led.append_many([(_marker("w5"), BEGIN), (_marker("w5"), ABORTED)])
    led.append_many([(_marker("w5"), BEGIN), (_marker("w5"), COMMIT)])

    want = _spark_fold(led, "t")
    assert want == {
        "processed": {"a.csv", "b.csv"},
        "incomplete": [("u", "w9")],
        "committed": want["committed"],
        "tombstoned": ["w1", "w3"],
    }
    assert [w for w, _ in want["committed"]] == ["w2", "w4", "w5"]
    assert _driver_fold(led, "t") == want
    assert all(ts.tzinfo is None for _, ts in led.committed_writes("t"))
    assert led.ever_committed_writes("t") == {"w1", "w2", "w4", "w5"}
    assert led.read().count() == len(parent_rows) + 4 + 1 + 2 + 2 + 2

    # a batch stranded between write and rename: invisible to both
    # readers, kept while young, swept by the next append once old
    stranded = pa.table({"file_name": ["ghost.csv", _marker("ghost")],
                         "status": [ledger_mod.STATUS_UPLOADED, BEGIN]})
    old = path / f"{ledger_mod._TMP_PREFIX}old"
    young = path / f"{ledger_mod._TMP_PREFIX}young"
    pq.write_table(stranded, old)
    pq.write_table(stranded, young)
    assert _driver_fold(led, "t") == want == _spark_fold(led, "t")
    assert "ghost.csv" not in {r[0] for r in led.read().collect()}
    day_ago = time.time() - ledger_mod._TMP_TTL_S - 60
    os.utime(old, (day_ago, day_ago))
    led.append("c.csv", ledger_mod.STATUS_UPLOADED)
    assert not old.exists() and young.exists()
    assert led.processed_set() == {"a.csv", "b.csv", "c.csv"}


def _jobs_in(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _job(spark, tmp_path, fx) -> IngestJob:
    registry = SchemaRegistry.from_files(fx["schema_path"], fx["rename_path"])
    router = Router().add(r"^last24h__", "mini_campaign_events")
    return IngestJob(spark=spark, registry=registry,
                     warehouse_dir=tmp_path / "warehouse", router=router)


def test_cycle_metadata_launches_no_spark_job(spark, tmp_path):
    """Ledger writes and reads, the recovery sweep, a sniffed profile's
    scan and the snapshot read with its declared schema plan with no
    Spark job: the only jobs a cycle runs are its table's plan."""
    fx = generate_f1(tmp_path)
    job = _job(spark, tmp_path, fx)
    schema = job.registry.get("mini_campaign_events")
    job.run(tmp_path)  # a non-empty table and ledger to read
    led = job.ledger
    paths = sorted(tmp_path.glob("last24h__*.csv"))
    assert paths
    enc, delim, header = _sniff(paths[0])

    steps = {
        "append_many": lambda: led.append_many([("x.csv", "processed"),
                                                ("y.csv", "processed")]),
        "append_cas": lambda: led.append_many([(_marker("w0"), COMMIT)],
                                              cas_token="c0"),
        "processed_set": led.processed_set,
        "incomplete_writes": led.incomplete_writes,
        "committed_writes": lambda: led.committed_writes(schema.table_name),
        "recover": job.recover_writes,
        "scan_with_seq": lambda: job._scan_with_seq(
            [paths[0]], [0], enc, delim, header).columns,
        "read_table": lambda: job.read_table(schema).columns,
    }
    jobs = {name: _jobs_in(spark, f"no-job-{name}", fn)
            for name, fn in steps.items()}
    assert jobs == dict.fromkeys(steps, 0)
