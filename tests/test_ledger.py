"""The ledger and the cycle's other metadata steps run on the driver.

Ledger batches are written and read with pyarrow; these tests pin that
the driver-side folds give exactly what Spark folds over the same files
(including a batch written by Spark's own parquet writer), that a
stranded hidden batch file stays invisible until it is swept, and that
no metadata step of a cycle launches a Spark job. The id watermark is
folded from parquet footers the same way, and must equal MAX(id).
"""

from __future__ import annotations

import json
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
from datawarehouse_backup_system_spark.operators.ids import next_id_watermark
from datawarehouse_backup_system_spark.plans.ingest import IngestJob, _sniff
from datawarehouse_backup_system_spark.registry import SchemaRegistry
from datawarehouse_backup_system_spark.sources.catalog import Router
from datawarehouse_backup_system_spark.sources.csv_source import has_rows

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


def test_append_sweeps_legacy_ledger_stage_dirs(spark, tmp_path):
    """CAS staging dirs that earlier versions stranded next to the ledger
    dir go with the same sweep: an old one is removed, a young one kept."""
    led = Ledger(spark, tmp_path / "_ledger")
    old = tmp_path / "_ledger_stage-0ld00000"
    young = tmp_path / "_ledger_stage-y0ung000"
    for d in (old, young):
        d.mkdir()
        (d / "part-00000.parquet").write_bytes(b"stranded")
    day_ago = time.time() - ledger_mod._TMP_TTL_S - 60
    os.utime(old, (day_ago, day_ago))
    led.append("a.csv", ledger_mod.STATUS_UPLOADED)
    assert not old.exists() and young.exists()
    assert led.processed_set() == {"a.csv"}


def test_watermark_from_footers_matches_aggregate(spark, tmp_path):
    """``next_id_watermark`` folds the parquet footers of a bare local
    scan, and an absent table's empty frame, with no Spark job, and
    equals MAX(id) on every frame: files written by pyarrow (with and
    without statistics) or by the append, a ``_stats/`` manifest that
    must not count, and the frames that still run the aggregate
    (filtered, in-memory)."""
    fx = generate_f1(tmp_path)
    job = _job(spark, tmp_path, fx)
    schema = job.registry.get("mini_campaign_events")
    absent = job.read_table(schema)
    job.run(tmp_path)
    written = job.read_table(schema)
    assert all(u.rsplit("/", 1)[-1].startswith("w") for u in written.inputFiles())

    ids = pa.table({"id": pa.array([3, None, 41, 7], pa.int64()),
                    "v": ["a", "b", "c", "d"]})
    boot, nostats, manifest = (tmp_path / n for n in ("boot", "nostats", "manifest"))
    for d in (boot, nostats, manifest / "_stats"):
        d.mkdir(parents=True)
    pq.write_table(ids, boot / "part-0.parquet", row_group_size=2)
    pq.write_table(ids, nostats / "part-0.parquet", row_group_size=2,
                   write_statistics=False)
    pq.write_table(ids, manifest / "part-0.parquet")
    pq.write_table(pa.table({"id": pa.array([10**12], pa.int64())}),
                   manifest / "_stats" / "part-0.parquet")

    footers = {
        "pyarrow_bootstrap": spark.read.parquet(str(boot)),
        "append_files": written,
        "no_statistics": spark.read.parquet(str(nostats)),
        "stats_manifest": spark.read.parquet(str(manifest)),
        "absent_table": absent,
    }
    aggregates = {
        "filtered": written.where(F.col("id") < 100),
        "in_memory": spark.createDataFrame([(4,), (11,), (None,)], "id long"),
    }
    for name, df in {**footers, **aggregates}.items():
        want = df.agg(F.max("id")).collect()[0][0] or 0
        assert next_id_watermark(df) == want, name
    assert next_id_watermark(footers["stats_manifest"]) == 41
    assert next_id_watermark(absent) == 0
    jobs = {name: _jobs_in(spark, f"wm-{name}", lambda df=df: next_id_watermark(df))
            for name, df in footers.items()}
    assert jobs == dict.fromkeys(footers, 0)


def test_cycle_decisions_launch_no_spark_job(spark, tmp_path):
    """Besides the append, a cycle decides on the driver: the watermark
    (parquet footers), its export (also for a table never ingested),
    and which files are EMPTY. So a landing dir of header-only,
    over-wide and unroutable files costs no Spark job at all."""
    from fixtures import generate_dirty_day

    fx = generate_f1(tmp_path)
    job = _job(spark, tmp_path, fx)
    schema = job.registry.get("mini_campaign_events")
    job.run(tmp_path)
    wm = next_id_watermark(job.read_table(schema))
    assert wm > 0

    day = generate_dirty_day(tmp_path / "day")
    landing = tmp_path / "landing"
    landing.mkdir()
    want = {
        "last24h__20240301_04.csv": ledger_mod.STATUS_EMPTY,            # header only
        "last24h__20240301_06.csv": ledger_mod.STATUS_EMPTY,            # wide, header only
        "last24h__20240301_08.csv": ledger_mod.STATUS_COLUMN_MISMATCH,  # wide, with rows
        "zz_unroutable.csv": ledger_mod.STATUS_NO_SCHEMA,
    }
    for n in want:
        (day["dir"] / n).rename(landing / n)
    quiet = _job(spark, tmp_path / "quiet", day)
    results = []
    wm_out = tmp_path / "watermarks.json"
    fresh = _job(spark, tmp_path / "fresh", fx)
    fresh_out = tmp_path / "fresh_watermarks.json"

    steps = {
        "watermark": lambda: next_id_watermark(job.read_table(schema)),
        "export_watermarks": lambda: job.export_watermarks(fx["schema_path"], wm_out),
        "export_never_ingested": lambda: fresh.export_watermarks(
            fx["schema_path"], fresh_out),
        "has_rows": lambda: has_rows(landing / "last24h__20240301_08.csv"),
        "run_without_data": lambda: results.extend(quiet.run(landing)),
    }
    jobs = {name: _jobs_in(spark, f"no-job-{name}", fn)
            for name, fn in steps.items()}
    assert jobs == dict.fromkeys(steps, 0)
    assert {r.file_name: r.status for r in results} == want
    assert json.loads(wm_out.read_text())["mini_campaign_events"]["last_id"] == wm
    declared = json.loads(fx["schema_path"].read_text())
    assert json.loads(fresh_out.read_text()) == declared
