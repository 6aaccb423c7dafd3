"""Atomic snapshot append (write-id protocol), export sinks, BOM scan.

The write-id protocol brackets every snapshot append with ledger markers
(begin → publish renames → commit); these tests drive the two crash
windows and the recovery path, plus the S10/S11 CSV export and the
reference-format watermark write-back (util/data_pushing.py:430-460).
"""

from __future__ import annotations

import json
import shutil

import pytest
from pyspark.sql import functions as F

from datawarehouse_backup_system_spark import ledger as ledger_mod
from datawarehouse_backup_system_spark.plans.ingest import IngestJob
from datawarehouse_backup_system_spark.registry import SchemaRegistry
from datawarehouse_backup_system_spark.sources.catalog import Router

from fixtures import generate_f1


def make_job(spark, tmp_path, fx, warehouse="warehouse") -> IngestJob:
    registry = SchemaRegistry.from_files(fx["schema_path"], fx["rename_path"])
    router = Router().add(r"^last24h__", "mini_campaign_events")
    return IngestJob(spark=spark, registry=registry,
                     warehouse_dir=tmp_path / warehouse, router=router)


def test_recover_deletes_uncommitted_files(spark, tmp_path):
    """A planted begin-without-commit write (crash mid-publish) is rolled
    back exactly: its prefixed files deleted, marker aborted, committed
    data untouched."""
    fx = generate_f1(tmp_path, n=40)
    job = make_job(spark, tmp_path, fx)
    res = job.process_file(fx["files"][0])
    assert res.status == ledger_mod.STATUS_UPLOADED
    schema = job.registry.get("mini_campaign_events")
    baseline = job.read_table(schema).count()
    table_dir = job.table_path(schema)

    # fake a crashed write: begin marker + one published file, no commit
    part_dir = next(table_dir.glob("ingest_date=*"))
    src = next(part_dir.glob("*.parquet"))
    planted = part_dir / "wdeadbeefdeadbeef-part-crashed.parquet"
    shutil.copy(src, planted)
    job.ledger.append(
        f"{ledger_mod.WRITE_MARKER_PREFIX}{schema.table_name}:deadbeefdeadbeef",
        ledger_mod.STATUS_WRITE_BEGIN,
    )
    assert job.read_table(schema).count() == 2 * baseline  # dup rows visible

    aborted = job.recover_writes()
    assert aborted == ["deadbeefdeadbeef"]
    assert not planted.exists()
    assert job.read_table(schema).count() == baseline
    # idempotent: a second recovery pass finds nothing
    assert job.recover_writes() == []
    states = {
        (r["file_name"], r["status"]) for r in job.ledger.read().collect()
        if r["file_name"].startswith(ledger_mod.WRITE_MARKER_PREFIX)
    }
    assert any(s == ledger_mod.STATUS_WRITE_ABORTED for _, s in states)


def test_crash_during_publish_rolls_back(spark, tmp_path, monkeypatch):
    """Kill the publish loop on its first rename: the live table must stay
    empty, recovery aborts the write, and a retry ingests cleanly."""
    import pathlib

    fx = generate_f1(tmp_path, n=40)
    job = make_job(spark, tmp_path, fx)
    schema = job.registry.get("mini_campaign_events")

    real_rename = pathlib.Path.rename

    def exploding_rename(self, target):
        if "w" in str(target) and str(target).endswith(".parquet"):
            raise OSError("simulated crash during publish")
        return real_rename(self, target)

    monkeypatch.setattr(pathlib.Path, "rename", exploding_rename)
    res = job.process_file(fx["files"][0])
    assert res.status == ledger_mod.STATUS_INSERT_ERROR
    monkeypatch.undo()

    # rollback happened IN-PROCESS: nothing leaked, write already aborted
    assert job.read_table(schema).count() == 0
    assert job.recover_writes() == []

    # retry is clean: dense ids from 1, full content
    res2 = job.process_file(fx["files"][0])
    assert res2.status == ledger_mod.STATUS_UPLOADED
    table = job.read_table(schema)
    ids = table.agg(F.min("id"), F.max("id"), F.countDistinct("id")).collect()[0]
    assert list(ids) == [1, table.count(), table.count()]


def test_nonatomic_publish_crash_recovers_without_reading(spark, tmp_path,
                                                          monkeypatch):
    """Object-store semantics: 'rename' is copy+delete, and a crash
    mid-copy leaves a PARTIAL (corrupt) destination object. The marker
    protocol must recover by NAME — deleting the partial without ever
    parsing it — and leave the table exactly at baseline."""
    from datawarehouse_backup_system_spark.plans.ingest import IngestJob

    fx = generate_f1(tmp_path, n=40)
    job = make_job(spark, tmp_path, fx)
    res = job.process_file(fx["files"][0])
    assert res.status == ledger_mod.STATUS_UPLOADED
    schema = job.registry.get("mini_campaign_events")
    baseline = job.read_table(schema).count()

    def copy_then_die(self, src, dst):
        # simulated S3A copy cut off mid-stream by a process kill (no
        # in-process rollback runs): a torn object lands at the final key
        data = src.read_bytes()
        dst.write_bytes(data[: max(1, len(data) // 2)])
        raise KeyboardInterrupt("simulated process kill mid-copy")

    monkeypatch.setattr(IngestJob, "_publish_file", copy_then_die)
    with pytest.raises(KeyboardInterrupt):
        # BaseException models a kill: the except-Exception rollback in
        # _atomic_append must NOT swallow it; recovery happens on restart
        job.process_file(fx["files"][1])
    monkeypatch.undo()

    # the torn object exists and would corrupt any reader that opened it
    leaked = list(job.table_path(schema).rglob("w*-*.parquet"))
    # recovery deletes the crashed write's files purely by prefix
    aborted = job.recover_writes()
    assert len(aborted) == 1
    for f in leaked:
        assert f.exists() is (f"w{aborted[0]}-" not in f.name)
    assert job.read_table(schema).count() == baseline

    # retry ingests the same landing file cleanly after recovery
    res2 = job.process_file(fx["files"][1])
    assert res2.status == ledger_mod.STATUS_UPLOADED
    assert job.read_table(schema).count() > baseline


def test_snapshot_format_seam_swappable(spark, tmp_path):
    """The table-format seam: a custom SnapshotFormat (stand-in for a
    Delta/Iceberg backend) receives every snapshot read/append/recover
    the job issues, with no other job code aware of the storage."""
    from datawarehouse_backup_system_spark.plans.table_format import (
        SnapshotFormat,
    )

    calls = []

    class RecordingFormat(SnapshotFormat):
        def __init__(self, inner):
            self.inner = inner

        def read(self, spark_, path, fallback):
            calls.append(("read", path.name))
            return self.inner.read(spark_, path, fallback)

        def append(self, plan, path, table_name):
            calls.append(("append", table_name))
            return self.inner.append(plan, path, table_name)

        def recover(self, table_dirs, inflight_ttl_s=3600.0):
            calls.append(("recover", None))
            return self.inner.recover(table_dirs, inflight_ttl_s)

    fx = generate_f1(tmp_path, n=40)
    job = make_job(spark, tmp_path, fx)
    job.fmt = RecordingFormat(job.fmt)
    res = job.process_file(fx["files"][0])
    assert res.status == ledger_mod.STATUS_UPLOADED
    assert ("append", "mini_campaign_events") in calls
    assert any(op == "read" for op, _ in calls)
    job.recover_writes()
    assert ("recover", None) in calls


def test_run_recovers_before_ingesting(spark, tmp_path):
    """run() rolls back crashed writes before the cycle, so a crashed
    batch's landing file is re-ingested without duplicates."""
    fx = generate_f1(tmp_path, n=40)
    job = make_job(spark, tmp_path, fx)
    schema = job.registry.get("mini_campaign_events")
    job.ledger.append(
        f"{ledger_mod.WRITE_MARKER_PREFIX}{schema.table_name}:feedfacefeedface",
        ledger_mod.STATUS_WRITE_BEGIN,
    )
    results = job.run(tmp_path)
    assert [r.status for r in results] == [ledger_mod.STATUS_UPLOADED] * 3
    assert ("feedfacefeedface" not in
            {w for _, w in job.ledger.incomplete_writes()})


def test_export_csv_roundtrip(spark, tmp_path):
    """S10/S11 parity: the cleaned snapshot renders back to headered CSV
    and reads back with identical row content."""
    fx = generate_f1(tmp_path, n=40)
    job = make_job(spark, tmp_path, fx)
    job.process_file(fx["files"][0])
    schema = job.registry.get("mini_campaign_events")
    table = job.read_table(schema)

    out = job.export_table_csv("mini_campaign_events", tmp_path / "csv_out",
                               single_file=True)
    files = list(out.glob("*.csv"))
    assert len(files) == 1  # reference-style one-file handoff
    back = (
        spark.read.option("header", True).option("inferSchema", False)
        .csv(str(out))
    )
    assert back.count() == table.count()
    assert back.columns == table.columns
    assert ({r["email"] for r in back.select("email").collect()}
            == {r["email"] for r in table.select("email").collect()})
    # timestamps survive with full microsecond precision (lossless handoff)
    back_ts = {r["event_datetime"] for r in back.collect()}
    snap_ts = {
        r["event_datetime"].strftime("%Y-%m-%d %H:%M:%S.%f")
        if r["event_datetime"] is not None else None
        for r in table.select("event_datetime").collect()
    }
    assert back_ts == snap_ts


def test_recover_sweeps_orphaned_inflight(spark, tmp_path):
    """An _inflight dir with NO ledger marker (crash during the staging
    write, before begin) is swept once past the TTL; a fresh unmarked
    dir is left alone."""
    fx = generate_f1(tmp_path, n=30)
    job = make_job(spark, tmp_path, fx)
    orphan = job.warehouse_dir / "_inflight" / "0123456789abcdef"
    orphan.mkdir(parents=True)
    (orphan / "part-junk.parquet").write_bytes(b"junk")
    job.recover_writes(inflight_ttl_s=3600)
    assert orphan.exists()  # younger than TTL: kept (concurrent-job safety)
    job.recover_writes(inflight_ttl_s=0)
    assert not orphan.exists()


def test_export_watermarks_updates_last_id_only(spark, tmp_path):
    fx = generate_f1(tmp_path, n=40)
    job = make_job(spark, tmp_path, fx)
    job.process_file(fx["files"][0])
    schema = job.registry.get("mini_campaign_events")
    max_id = job.read_table(schema).agg(F.max("id")).collect()[0][0]

    out = job.export_watermarks(fx["schema_path"], tmp_path / "registry_out.json")
    exported = json.loads(out.read_text())
    original = json.loads(open(fx["schema_path"]).read())
    assert exported["mini_campaign_events"]["last_id"] == max_id
    for key, decl in original.items():
        for field, value in decl.items():
            if field != "last_id":
                assert exported[key][field] == value


def test_export_watermarks_rejects_unknown_table(tmp_path):
    from datawarehouse_backup_system_spark.operators.export import (
        export_registry_watermarks,
    )

    schema_path = tmp_path / "s.json"
    schema_path.write_text(json.dumps({"t1": {"last_id": 0}}))
    with pytest.raises(KeyError, match="nope"):
        export_registry_watermarks(schema_path, tmp_path / "o.json", {"nope": 5})


def test_status_vocabulary_for_bad_inputs(spark, tmp_path):
    """Reference status parity: corrupt zip → 'extraction failed',
    non-CSV landing file → 'not a valid CSV file'."""
    fx = generate_f1(tmp_path, n=30)
    job = make_job(spark, tmp_path, fx)

    bad_zip = tmp_path / "last24h__broken.csv.zip"
    bad_zip.write_bytes(b"this is not a zip archive")
    assert job.process_file(bad_zip).status == ledger_mod.STATUS_EXTRACTION_FAILED

    not_csv = tmp_path / "last24h__notes.txt"
    not_csv.write_text("hello")
    assert job.process_file(not_csv).status == ledger_mod.STATUS_NOT_CSV

    statuses = {r["status"] for r in job.ledger.read().collect()}
    assert {ledger_mod.STATUS_EXTRACTION_FAILED,
            ledger_mod.STATUS_NOT_CSV} <= statuses


def test_bom_utf8_through_distributed_scan(spark, tmp_path):
    """Round-1 leftover: a UTF-8-BOM file must come through the
    DISTRIBUTED scan (read_raw_csv), not just the driver-side
    read_header, with a clean first column name and value."""
    from datawarehouse_backup_system_spark.sources.csv_source import (
        read_header,
        read_raw_csv,
    )

    p = tmp_path / "bom.csv"
    p.write_bytes(b"\xef\xbb\xbfEmail;Name\na@x.com;Ann\n")
    assert read_header(p) == ["Email", "Name"]
    df = read_raw_csv(spark, str(p))
    assert df.columns == ["Email", "Name"]  # no U+FEFF residue
    row = df.collect()[0]
    assert (row["Email"], row["Name"]) == ("a@x.com", "Ann")


def test_time_travel_versions_and_as_of(spark, tmp_path):
    """read_as_of replays the table at any committed version, and the
    committed-only default hides a mid-publish write (snapshot
    isolation the bare directory read lacks)."""
    fx = generate_f1(tmp_path, n=40)
    job = make_job(spark, tmp_path, fx)
    schema = job.registry.get("mini_campaign_events")
    table_dir = job.table_path(schema)

    assert job.process_file(fx["files"][0]).status == ledger_mod.STATUS_UPLOADED
    n1 = job.read_table(schema).count()
    assert job.process_file(fx["files"][1]).status == ledger_mod.STATUS_UPLOADED
    n2 = job.read_table(schema).count()
    assert n2 > n1

    hist = job.fmt.versions(schema.table_name)
    assert [h["version"] for h in hist] == [1, 2]
    assert hist[0]["committed_at"] <= hist[1]["committed_at"]

    def as_of(**kw):
        return job.fmt.read_as_of(
            spark, table_dir, schema.to_struct_type(),
            schema.table_name, **kw,
        ).count()

    assert as_of(version=1) == n1
    assert as_of(version=2) == n2
    assert as_of(version=0) == 0          # nothing before the first commit
    assert as_of(as_of=hist[0]["committed_at"]) == n1
    assert as_of() == n2

    # a mid-publish (uncommitted) write is invisible to read_as_of but
    # pollutes the bare directory read
    part_dir = next(table_dir.glob("ingest_date=*"))
    src = next(part_dir.glob("*.parquet"))
    shutil.copy(src, part_dir / "wfeedfacefeedface-part-inflight.parquet")
    job.ledger.append(
        f"{ledger_mod.WRITE_MARKER_PREFIX}{schema.table_name}:feedfacefeedface",
        ledger_mod.STATUS_WRITE_BEGIN,
    )
    assert job.read_table(schema).count() > n2      # dirty raw read
    assert as_of() == n2                            # consistent view


def test_diff_versions_change_feed(spark, tmp_path):
    """diff_versions reports exactly the rows a commit added (Delta CDF
    analog on the write-id format): v1→v2 inserts = file-2 rows, empty
    reverse diff, and v→v is empty both ways."""
    from datawarehouse_backup_system_spark.plans.table_format import diff_versions

    fx = generate_f1(tmp_path, n=40)
    job = make_job(spark, tmp_path, fx)
    schema = job.registry.get("mini_campaign_events")
    table_dir = job.table_path(schema)

    assert job.process_file(fx["files"][0]).status == ledger_mod.STATUS_UPLOADED
    n1 = job.read_table(schema).count()
    assert job.process_file(fx["files"][1]).status == ledger_mod.STATUS_UPLOADED
    n2 = job.read_table(schema).count()

    def diff(a, b):
        return diff_versions(
            spark, job.fmt, table_dir, schema.to_struct_type(),
            schema.table_name, a, b, key_cols=["row_hash"],
        )

    d12 = diff(1, 2).collect()
    assert len(d12) == n2 - n1
    assert {r["change"] for r in d12} == {"insert"}
    # the inserted rows are exactly version-2 minus version-1 content
    v1_hashes = {
        r["row_hash"]
        for r in job.fmt.read_as_of(
            spark, table_dir, schema.to_struct_type(),
            schema.table_name, version=1,
        ).collect()
    }
    assert all(r["row_hash"] not in v1_hashes for r in d12)
    assert diff(2, 2).count() == 0
    assert diff(0, 1).count() == n1


def test_restore_and_vacuum(spark, tmp_path):
    """restore_to_version rewinds the table (live reads, history, and
    time travel all agree), tombstone-first ordering leaves stragglers
    for vacuum, and vacuum deletes ONLY tombstoned write-ids' files."""
    from datawarehouse_backup_system_spark.plans.table_format import (
        restore_to_version,
        vacuum,
    )

    fx = generate_f1(tmp_path, n=40)
    job = make_job(spark, tmp_path, fx)
    schema = job.registry.get("mini_campaign_events")
    table_dir = job.table_path(schema)

    assert job.process_file(fx["files"][0]).status == ledger_mod.STATUS_UPLOADED
    n1 = job.read_table(schema).count()
    assert job.process_file(fx["files"][1]).status == ledger_mod.STATUS_UPLOADED
    assert job.read_table(schema).count() > n1

    wid2 = job.fmt.ledger.committed_writes(schema.table_name)[1][0]
    # plant a straggler for the doomed write-id: restore deletes the real
    # files; vacuum must sweep this one (same wid, survives the rglob by
    # being re-created after) — simulate by copying a v1 file under wid2
    part_dir = next(table_dir.glob("ingest_date=*"))
    keeper = next(f for f in part_dir.glob("w*-*.parquet")
                  if not f.name.startswith(f"w{wid2}-"))

    assert restore_to_version(job.fmt, table_dir, schema.table_name, 1) == 1

    # table is back at v1 for live reads, history, and time travel
    assert job.read_table(schema).count() == n1
    hist = job.fmt.versions(schema.table_name)
    assert [h["version"] for h in hist] == [1]
    assert job.fmt.read_as_of(
        spark, table_dir, schema.to_struct_type(), schema.table_name
    ).count() == n1

    # a straggler file under the tombstoned wid (crash between tombstone
    # and unlink): invisible to the committed view, bare reads see it
    # until vacuum sweeps it
    straggler = part_dir / f"w{wid2}-straggler.parquet"
    shutil.copy(keeper, straggler)
    assert job.fmt.read_as_of(
        spark, table_dir, schema.to_struct_type(), schema.table_name
    ).count() == n1

    # vacuum sweeps exactly the tombstoned straggler, never live files
    n_live_before = len(list(table_dir.rglob("w*-*.parquet")))
    assert vacuum(job.fmt, table_dir, schema.table_name) == 1
    assert not straggler.exists()
    assert len(list(table_dir.rglob("w*-*.parquet"))) == n_live_before - 1
    assert job.read_table(schema).count() == n1

    # appending after a restore starts a clean v2
    assert job.process_file(fx["files"][1]).status == ledger_mod.STATUS_UPLOADED
    hist = job.fmt.versions(schema.table_name)
    assert [h["version"] for h in hist] == [1, 2]
    # restore to the current tip is a no-op; out-of-range raises
    assert restore_to_version(job.fmt, table_dir, schema.table_name, 2) == 0
    with pytest.raises(ValueError):
        restore_to_version(job.fmt, table_dir, schema.table_name, 5)


def test_optimize_zorder_preserves_content_and_retires_versions(spark, tmp_path):
    """OPTIMIZE rewrites the committed rows as ONE clustered version in
    an atomic composite commit: content identical (order-insensitive
    fingerprint), prior write-ids tombstoned + swept, history collapses
    to the single optimized version, appends keep working after."""
    from datawarehouse_backup_system_spark.operators.audit import (
        table_fingerprint,
    )
    from datawarehouse_backup_system_spark.plans.table_format import (
        optimize_zorder,
    )

    fx = generate_f1(tmp_path, n=60)
    job = make_job(spark, tmp_path, fx)
    schema = job.registry.get("mini_campaign_events")
    table_dir = job.table_path(schema)
    for f in fx["files"][:2]:
        assert job.process_file(f).status == ledger_mod.STATUS_UPLOADED
    name = schema.table_name
    struct = schema.to_struct_type()

    def committed():
        return job.fmt.read_as_of(spark, table_dir, struct, name)

    cols = [c for c in committed().columns if c != "ingest_date"]
    fp_before = table_fingerprint(committed(), columns=cols).collect()[0]
    n_before = committed().count()
    assert len(job.fmt.versions(name)) == 2

    res = optimize_zorder(
        spark, job.fmt, table_dir, struct, name,
        zorder_cols=["id", "total_order_amount_eur"],
    )
    assert res["rewritten"] == n_before
    assert res["files_retired"] >= 1

    fp_after = table_fingerprint(committed(), columns=cols).collect()[0]
    assert (fp_before["n_rows"], fp_before["fingerprint"]) == (
        fp_after["n_rows"], fp_after["fingerprint"],
    )
    # history collapsed to the optimized version; bare reads agree too
    assert len(job.fmt.versions(name)) == 1
    assert job.read_table(schema).count() == n_before

    # the table keeps working: another append becomes version 2
    assert job.process_file(fx["files"][2]).status == ledger_mod.STATUS_UPLOADED
    assert len(job.fmt.versions(name)) == 2
    assert job.read_table(schema).count() > n_before


def test_optimize_zorder_refuses_preprotocol_files(spark, tmp_path):
    from datawarehouse_backup_system_spark.plans.table_format import (
        optimize_zorder,
    )

    fx = generate_f1(tmp_path, n=40)
    job = make_job(spark, tmp_path, fx)
    schema = job.registry.get("mini_campaign_events")
    table_dir = job.table_path(schema)
    assert job.process_file(fx["files"][0]).status == ledger_mod.STATUS_UPLOADED
    part_dir = next(table_dir.glob("ingest_date=*"))
    src = next(part_dir.glob("w*-*.parquet"))
    shutil.copy(src, part_dir / "bootstrap-no-writeid.parquet")
    with pytest.raises(RuntimeError, match="pre-protocol"):
        optimize_zorder(
            spark, job.fmt, table_dir, schema.to_struct_type(),
            schema.table_name, ["id", "total_order_amount_eur"],
        )


def test_transactional_merge_and_delete(spark, tmp_path):
    """MERGE and DELETE commit as atomic rewritten versions: same-key
    rows replaced / matching rows removed, history collapses to the new
    version, old files swept, and time-travel-free reads agree with
    bare directory reads after vacuum."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from datawarehouse_backup_system_spark.ledger import Ledger
    from datawarehouse_backup_system_spark.plans.table_format import (
        WriteIdParquetFormat,
        delete_from_table,
        merge_into_table,
    )

    root = tmp_path / "w"
    fmt = WriteIdParquetFormat(
        Ledger(spark, root / "_ledger"), root, move=lambda s, d: s.rename(d)
    )
    table = root / "t"
    struct = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
    )

    def rows(lo, hi, mult):
        return spark.range(lo, hi).select(
            F.col("id"), (F.col("id") * mult).alias("v"),
            F.lit("2024-01-05").cast("date").alias("ingest_date"),
        )

    fmt.append(rows(0, 100, 1), table, "t")

    # MERGE: ids 50..149 with v = id*1000 (50 updates + 50 inserts)
    res = merge_into_table(
        spark, fmt, table, struct, "t", rows(50, 150, 1000), key="id"
    )
    assert res["rewritten"] == 150
    cur = fmt.read_as_of(spark, table, struct, "t")
    assert cur.count() == 150
    assert cur.where("id = 60").collect()[0]["v"] == 60_000   # updated
    assert cur.where("id = 10").collect()[0]["v"] == 10       # untouched
    assert len(fmt.versions("t")) == 1                        # collapsed

    # DELETE WHERE id >= 100: transactional row removal
    res = delete_from_table(spark, fmt, table, struct, "t", "id >= 100")
    assert res["rewritten"] == 100
    cur = fmt.read_as_of(spark, table, struct, "t")
    assert cur.count() == 100 and cur.agg(F.max("id")).collect()[0][0] == 99
    # after vacuum the bare directory read agrees (no stale files)
    assert spark.read.parquet(str(table)).count() == 100


def test_delete_keeps_null_condition_rows(spark, tmp_path):
    """SQL DELETE semantics: only condition=TRUE rows go; NULL-condition
    rows are KEPT (the naive where(~cond) would silently drop them)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from datawarehouse_backup_system_spark.ledger import Ledger
    from datawarehouse_backup_system_spark.plans.table_format import (
        WriteIdParquetFormat,
        delete_from_table,
    )

    root = tmp_path / "w"
    fmt = WriteIdParquetFormat(
        Ledger(spark, root / "_ledger"), root, move=lambda s, d: s.rename(d)
    )
    table = root / "t"
    struct = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
    )
    rows = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id long, v long"
    ).withColumn("ingest_date", F.lit("2024-01-05").cast("date"))
    fmt.append(rows, table, "t")
    delete_from_table(spark, fmt, table, struct, "t", "v > 20")
    kept = sorted(
        r["id"] for r in fmt.read_as_of(spark, table, struct, "t").collect()
    )
    assert kept == [1, 2]   # id=2 (NULL condition) survives; id=3 deleted


def test_read_as_of_ignores_stats_manifest_dir(spark, tmp_path):
    """ADVICE r4 (medium): after write_stats_manifest() drops its
    default <table>/_stats dir, read_as_of's explicit file listing must
    skip it like Spark's file index does — previously the manifest's
    parquet joined the listing and the read failed with
    CONFLICTING_DIRECTORY_STRUCTURES, breaking every DML built on it."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from datawarehouse_backup_system_spark.ledger import Ledger
    from datawarehouse_backup_system_spark.plans.table_format import (
        WriteIdParquetFormat,
        delete_from_table,
        write_stats_manifest,
    )

    root = tmp_path / "w"
    fmt = WriteIdParquetFormat(
        Ledger(spark, root / "_ledger"), root, move=lambda s, d: s.rename(d)
    )
    table = root / "t"
    struct = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
    )
    rows = spark.range(0, 100).select(
        F.col("id"), (F.col("id") * 2).alias("v"),
        F.lit("2024-01-05").cast("date").alias("ingest_date"),
    )
    fmt.append(rows, table, "t")
    write_stats_manifest(spark, table, ["id"], fmt=fmt, table_name="t")
    assert (table / "_stats").exists()
    # committed read works and sees exactly the data rows
    assert fmt.read_as_of(spark, table, struct, "t").count() == 100
    # ...and so does DML built on read_as_of (rewrite_table path)
    delete_from_table(spark, fmt, table, struct, "t", "id >= 50")
    assert fmt.read_as_of(spark, table, struct, "t").count() == 50


def test_stats_manifest_committed_files_only(spark, tmp_path):
    """ADVICE r4: on a write-id table the manifest must index only
    COMMITTED files — an uncommitted (crashed mid-publish) write-id's
    file must not be statted, or read_pruned would surface rows the
    committed view excludes. The warehouse path holds a space, which
    input_file_name() percent-escapes: the pruned read must decode it,
    not read '%20' literally (ADVICE r4)."""
    from pyspark.sql import functions as F

    from datawarehouse_backup_system_spark.ledger import Ledger
    from datawarehouse_backup_system_spark.plans.table_format import (
        WriteIdParquetFormat,
        pruned_files,
        read_pruned,
        write_stats_manifest,
    )

    root = tmp_path / "my wh"
    fmt = WriteIdParquetFormat(
        Ledger(spark, root / "_ledger"), root, move=lambda s, d: s.rename(d)
    )
    table = root / "t"
    rows = spark.range(0, 100).select(
        F.col("id"),
        F.lit("2024-01-05").cast("date").alias("ingest_date"),
    )
    fmt.append(rows.coalesce(1), table, "t")
    # simulate a crash mid-publish: a write-id-prefixed file on disk
    # with a 'begin' marker but no commit
    part = table / "ingest_date=2024-01-05"
    orphan_src = tmp_path / "orphan"
    spark.range(10_000, 10_050).select(F.col("id")).coalesce(1) \
        .write.parquet(str(orphan_src))
    orphan_file = next(orphan_src.glob("*.parquet"))
    import datawarehouse_backup_system_spark.ledger as ledger_mod
    fmt.ledger.append(
        f"{ledger_mod.WRITE_MARKER_PREFIX}t:deadbeefdeadbeef",
        ledger_mod.STATUS_WRITE_BEGIN,
    )
    orphan_file.rename(part / f"wdeadbeefdeadbeef-{orphan_file.name}")

    write_stats_manifest(spark, table, ["id"], fmt=fmt, table_name="t")
    # the uncommitted id range must be invisible through the manifest
    assert pruned_files(spark, table, "id", 10_000, 10_049) == []
    assert read_pruned(spark, table, "id", 10_000, 10_049).count() == 0
    # the committed range is fully served
    assert read_pruned(spark, table, "id", 0, 99).count() == 100


def test_writer_lease_blocks_concurrent_writer(tmp_path):
    """Single-writer enforcement (VERDICT r4 item 5): a second live
    writer on the same warehouse fails LOUDLY; a stale (crashed) lease
    past its TTL is stolen; release is token-guarded so the original
    owner's late release never clobbers a stolen lease."""
    import time as _time

    from datawarehouse_backup_system_spark.plans.table_format import (
        ConcurrentWriterError,
        WriterLease,
    )

    import pytest

    w = tmp_path / "wh"
    a = WriterLease(w, owner="job-a").acquire()
    # concurrent second writer: loud failure, not interleaving
    with pytest.raises(ConcurrentWriterError):
        WriterLease(w, owner="job-b").acquire()
    a.release()
    assert not (w / "_writer.lease").exists()

    # stale lease (crashed writer): stolen after ttl
    c = WriterLease(w, owner="job-c", ttl_s=0.05).acquire()
    _time.sleep(0.1)
    d = WriterLease(w, owner="job-d", ttl_s=0.05).acquire()
    assert (w / "_writer.lease").read_text() == "job-d"
    # job-c's late release must NOT remove job-d's lease
    c.release()
    assert (w / "_writer.lease").read_text() == "job-d"
    d.release()


def test_ingest_run_rejects_second_concurrent_run(spark, tmp_path):
    """IngestJob.run holds the warehouse lease for the cycle: a second
    concurrent run on the same warehouse raises instead of racing the
    ledger."""
    from datawarehouse_backup_system_spark.plans.table_format import (
        ConcurrentWriterError,
        WriterLease,
    )

    fx = generate_f1(tmp_path, n=10)
    inbox = tmp_path / "in"
    inbox.mkdir()
    job = make_job(spark, tmp_path, fx)
    wh = job.warehouse_dir
    # simulate writer #1 mid-cycle by holding its lease
    other = WriterLease(wh, owner="other-job").acquire()
    with pytest.raises(ConcurrentWriterError):
        job.run(inbox)
    other.release()
    # lease released -> the run proceeds (empty inbox: no results)
    assert job.run(inbox) == []


def test_writer_lease_touch_prevents_steal(tmp_path):
    """ADVICE r5: a live writer whose cycle outlasts ttl_s must not be
    stolen from — ``touch()`` refreshes the lease mtime so the holder
    stays visibly alive."""
    import time as _time

    from datawarehouse_backup_system_spark.plans.table_format import (
        ConcurrentWriterError,
        WriterLease,
    )

    w = tmp_path / "wh"
    a = WriterLease(w, owner="long-job", ttl_s=0.3).acquire()
    deadline = _time.time() + 0.6  # two TTLs of heartbeat
    while _time.time() < deadline:
        _time.sleep(0.1)
        a.touch()
    # without the heartbeat this steal would succeed (age > ttl)
    with pytest.raises(ConcurrentWriterError):
        WriterLease(w, owner="thief", ttl_s=0.3).acquire()
    a.release()
    assert not (w / "_writer.lease").exists()


def test_stale_lease_steal_is_single_winner(tmp_path):
    """ADVICE r5: stealing renames the stale lease to a per-owner
    tombstone before re-racing the create — the loser of the rename
    retries and then fails against the winner's FRESH lease instead of
    unlinking it (the two-live-writers interleaving)."""
    import time as _time

    from datawarehouse_backup_system_spark.plans.table_format import (
        ConcurrentWriterError,
        WriterLease,
    )

    w = tmp_path / "wh"
    WriterLease(w, owner="crashed", ttl_s=0.05).acquire()  # never released
    _time.sleep(0.1)
    # winner steals the stale lease
    win = WriterLease(w, owner="winner", ttl_s=0.05).acquire()
    assert (w / "_writer.lease").read_text() == "winner"
    # a second stealer arriving now sees a FRESH lease: loud failure,
    # and crucially the winner's lease survives the attempt
    with pytest.raises(ConcurrentWriterError):
        WriterLease(w, owner="loser", ttl_s=60).acquire()
    assert (w / "_writer.lease").read_text() == "winner"
    # no tombstone litter left behind
    assert list(w.glob("_writer.lease.stale.*")) == []
    win.release()


def test_empty_stats_manifest_prunes_cleanly(spark, tmp_path):
    """ADVICE r5: a manifest written before any commit must carry the
    min_/max_/nulls_ columns pruned_files filters on — the bare-_file
    schema raised UNRESOLVED_COLUMN instead of the documented empty
    result."""
    from datawarehouse_backup_system_spark.ledger import Ledger
    from datawarehouse_backup_system_spark.plans.table_format import (
        WriteIdParquetFormat,
        pruned_files,
        read_pruned,
        write_stats_manifest,
    )

    root = tmp_path / "w"
    fmt = WriteIdParquetFormat(
        Ledger(spark, root / "_ledger"), root, move=lambda s, d: s.rename(d)
    )
    table = root / "t"
    table.mkdir(parents=True)
    assert write_stats_manifest(
        spark, table, ["id", "v"], fmt=fmt, table_name="t"
    ) == 0
    # both filter columns resolve; result is empty, not AnalysisException
    assert pruned_files(spark, table, "id", 0, 10) == []
    assert pruned_files(spark, table, "v", -5, 5) == []
    assert read_pruned(spark, table, "id", 0, 10).count() == 0


def test_rewrite_optimistic_version_check(spark, tmp_path):
    """rewrite_table(expected_version=N) refuses when the table has
    advanced past the version the transform was planned against, and
    succeeds after re-planning at the current version."""
    from pyspark.sql import functions as F

    from datawarehouse_backup_system_spark.ledger import Ledger
    from datawarehouse_backup_system_spark.plans.table_format import (
        VersionConflictError,
        WriteIdParquetFormat,
        rewrite_table,
    )

    root = tmp_path / "w"
    fmt = WriteIdParquetFormat(
        Ledger(spark, root / "_ledger"), root, move=lambda s, d: s.rename(d)
    )
    table = root / "t"
    rows = spark.range(0, 100).select(
        F.col("id"), F.lit("2024-01-05").cast("date").alias("ingest_date")
    )
    fmt.append(rows, table, "t")
    planned_at = len(fmt.ledger.committed_writes("t"))  # = 1

    # another append lands after the plan was made -> version advanced
    fmt.append(
        spark.range(100, 150).select(
            F.col("id"),
            F.lit("2024-01-06").cast("date").alias("ingest_date"),
        ),
        table, "t",
    )

    with pytest.raises(VersionConflictError):
        rewrite_table(
            spark, fmt, table, rows.schema, "t",
            lambda cur: cur.where(F.col("id") < 10),
            expected_version=planned_at,
        )
    # nothing was committed by the refused attempt
    got = fmt.read(spark, table, rows.schema)
    assert got.count() == 150

    # re-planned at the current version: proceeds
    out = rewrite_table(
        spark, fmt, table, rows.schema, "t",
        lambda cur: cur.where(F.col("id") < 10),
        expected_version=len(fmt.ledger.committed_writes("t")),
    )
    assert out["rewritten"] == 10
    assert fmt.read(spark, table, rows.schema).count() == 10


def test_two_threaded_ingest_cycles_single_winner(spark, tmp_path):
    """VERDICT r5 item 7: two ``IngestJob.run`` cycles in separate
    THREADS contend on one warehouse — exactly one wins the lease and
    processes the whole inbox; the loser raises before touching the
    ledger, so the ledger holds one coherent batch (every file exactly
    once, no interleaving, idempotent re-run empty)."""
    import threading

    from datawarehouse_backup_system_spark.plans.table_format import (
        ConcurrentWriterError,
    )

    fx = generate_f1(tmp_path, n=10)
    jobs = [make_job(spark, tmp_path, fx) for _ in range(2)]
    barrier = threading.Barrier(2)
    outcomes: list[tuple[int, object]] = []
    lock = threading.Lock()

    def cycle(i: int) -> None:
        barrier.wait()
        try:
            res = jobs[i].run(tmp_path)
        except ConcurrentWriterError as exc:
            res = exc
        with lock:
            outcomes.append((i, res))

    threads = [threading.Thread(target=cycle, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert len(outcomes) == 2
    winners = [r for _, r in outcomes if isinstance(r, list)]
    losers = [r for _, r in outcomes if isinstance(r, ConcurrentWriterError)]
    assert len(winners) == 1 and len(losers) == 1
    # the winner processed the full inbox in one coherent batch
    assert [r.status for r in winners[0]] == [ledger_mod.STATUS_UPLOADED] * 3
    ledger = jobs[0].ledger
    names = {p.name for p in fx["files"]}
    assert ledger.processed_set() >= names
    # each file has exactly ONE uploaded row — no interleaved batch
    rows = ledger.read().collect()
    uploads = [r for r in rows if r["status"] == ledger_mod.STATUS_UPLOADED
               and r["file_name"] in names]
    assert len(uploads) == 3
    # lease released: a fresh cycle proceeds and is idempotent-empty
    assert jobs[1].run(tmp_path) == []


def test_rewrite_with_retry_replans_on_mid_transaction_conflict(spark, tmp_path):
    """Optimistic concurrency: a concurrent append landing INSIDE the
    rewrite transaction (after the plan check, before the commit) trips
    the commit-point re-check; re-planning against the advanced table
    commits a version that includes the concurrent writer's rows — no
    write is ever based on stale state."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from datawarehouse_backup_system_spark.ledger import Ledger
    from datawarehouse_backup_system_spark.plans.table_format import (
        VersionConflictError,
        WriteIdParquetFormat,
        rewrite_table,
    )

    root = tmp_path / "w"
    fmt = WriteIdParquetFormat(
        Ledger(spark, root / "_ledger"), root, move=lambda s, d: s.rename(d)
    )
    table = root / "t"
    rows = spark.range(0, 100).select(
        F.col("id"), F.lit("2024-01-05").cast("date").alias("ingest_date")
    )
    fmt.append(rows, table, "t")

    fired = {"n": 0}

    def transform(cur):
        # simulate a concurrent writer landing mid-transaction, once
        if fired["n"] == 0:
            fired["n"] += 1
            fmt.append(
                spark.range(100, 150).select(
                    F.col("id"),
                    F.lit("2024-01-06").cast("date").alias("ingest_date"),
                ),
                table, "t",
            )
        return cur.where(F.col("id") % 2 == 0)

    def rewrite():
        return rewrite_table(
            spark, fmt, table, rows.schema, "t", transform,
            expected_version=len(fmt.ledger.committed_writes("t")),
        )

    with _pytest.raises(VersionConflictError):
        rewrite()
    rewrite()  # re-planned against the advanced table
    got = fmt.read(spark, table, rows.schema)
    # the re-plan covered BOTH batches: evens of 0..149
    assert got.count() == 75
    assert got.agg(F.max("id")).collect()[0][0] == 148


def test_steal_verifies_tombstone_token(tmp_path, monkeypatch):
    """ADVICE r6: rename succeeds on WHATEVER is at the lease path — if a
    faster stealer tombstoned the stale lease and re-created a FRESH one
    between our read and our rename, we must detect the token change in
    the tombstone, restore the fresh lease, and treat the steal as lost
    (never two live writers)."""
    import os as _os

    from datawarehouse_backup_system_spark.plans import table_format as tf

    w = tmp_path / "wh"
    w.mkdir()
    lease = w / "_writer.lease"
    lease.write_text("crashed")
    old = _os.stat(lease).st_mtime - 100
    _os.utime(lease, (old, old))

    real_rename = _os.rename
    fired = {"n": 0}

    def racing_rename(src, dst):
        # simulate the faster stealer: between the thief's read of the
        # stale holder and its rename, the lease is replaced by a FRESH
        # one with a different token
        if str(src) == str(lease) and fired["n"] == 0:
            fired["n"] = 1
            lease.write_text("fresh-winner")
        return real_rename(src, dst)

    monkeypatch.setattr(tf.os, "rename", racing_rename)
    with pytest.raises(tf.ConcurrentWriterError):
        tf.WriterLease(w, owner="thief", ttl_s=0.3).acquire()
    # the fresh winner's lease was restored, not destroyed
    assert lease.read_text() == "fresh-winner"
    assert list(w.glob("_writer.lease.stale.*")) == []


def test_two_process_ingest_cycles_single_winner(spark, tmp_path):
    """VERDICT r6 item 4: the threaded contention test shares one
    process, so it proves the lease LOGIC but not the OS-level
    O_EXCL/rename claims. Here two independent Python processes (own
    JVMs) race one warehouse: exactly one commits the batch, the loser
    fails loudly before touching the ledger, and the committed view is
    coherent (each file exactly once; re-run idempotent-empty)."""
    import os
    import subprocess
    import sys as _sys
    import time as _time
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    worker = repo / "tests" / "xproc_ingest_worker.py"
    fx = generate_f1(tmp_path, n=10)
    sync = tmp_path / "sync"
    sync.mkdir()

    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = "4"
    env["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    procs = [
        subprocess.Popen(
            [_sys.executable, str(worker), str(repo), str(tmp_path),
             str(sync), tag],
            env=env, cwd=str(repo),
        )
        for tag in ("a", "b")
    ]
    try:
        deadline = _time.time() + 180
        while not ((sync / "ready-a").exists() and (sync / "ready-b").exists()):
            assert _time.time() < deadline, "workers never became ready"
            assert all(p.poll() is None for p in procs), "worker died early"
            _time.sleep(0.05)
        (sync / "go").touch()  # both hit acquire() within milliseconds
        for p in procs:
            assert p.wait(timeout=300) == 0
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()

    outs = [json.loads((sync / f"out-{t}.json").read_text()) for t in ("a", "b")]
    outcomes = sorted(o["outcome"] for o in outs)
    assert outcomes == ["lost", "won"], outs
    (winner,) = [o for o in outs if o["outcome"] == "won"]
    assert winner["statuses"] == [ledger_mod.STATUS_UPLOADED] * 3

    # committed view is coherent from a THIRD session (the test's):
    # every inbox file has exactly one uploaded ledger row
    job = make_job(spark, tmp_path, fx)
    names = {p.name for p in fx["files"]}
    rows = job.ledger.read().collect()
    uploads = [r for r in rows if r["status"] == ledger_mod.STATUS_UPLOADED
               and r["file_name"] in names]
    assert len(uploads) == 3
    assert job.ledger.processed_set() >= names
    # lease was released by the winner; recovery finds nothing to roll
    # back and a fresh cycle is idempotent-empty
    assert job.recover_writes() == []
    assert job.run(tmp_path) == []


@pytest.mark.parametrize("point", ["staged", "published", "committed"])
def test_run_crash_points_recover_to_one_clean_run(spark, tmp_path, point):
    """A batched ``run`` killed (hard process exit) after staging, after
    publish but before the commit marker, or after the commit but before
    the status write: recovery plus one re-run leaves the snapshot equal
    to one clean run, and every landing file ledgered exactly once, as
    its expected status."""
    import os
    import subprocess
    import sys as _sys
    from pathlib import Path

    from fixtures import generate_dirty_day

    repo = Path(__file__).resolve().parents[1]
    data = tmp_path / "data"
    day = generate_dirty_day(data)
    sync = tmp_path / "sync"
    sync.mkdir()
    (sync / "go").touch()
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = "4"
    env["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    worker = subprocess.run(
        [_sys.executable, str(repo / "tests" / "xproc_ingest_worker.py"),
         str(repo), str(data), str(sync), "crash", point],
        env=env, cwd=str(repo), timeout=300,
    )
    assert worker.returncode == 17, "worker did not die at its crash point"
    # the dead worker still holds the lease: let its TTL (1 h) run out
    lease = data / "warehouse" / "_writer.lease"
    stale = lease.stat().st_mtime - 7200
    os.utime(lease, (stale, stale))

    crashed = make_job(spark, data, day)
    crashed.run(data)
    assert crashed.ledger.incomplete_writes() == []
    clean = make_job(spark, tmp_path, day, warehouse="clean")
    clean.run(data)

    schema = clean.registry.get("mini_campaign_events")

    def rows(job):
        return sorted(map(tuple, job.read_table(schema).collect()), key=repr)

    assert rows(crashed) == rows(clean)
    ledgered = [
        (r["file_name"], r["status"]) for r in crashed.ledger.read().collect()
        if not r["file_name"].startswith(ledger_mod.WRITE_MARKER_PREFIX)
    ]
    assert sorted(ledgered) == sorted(day["expected"].items())


def test_three_writer_steal_race_no_lost_commit(spark, tmp_path):
    """VERDICT r7 item 5: `table_format.py` documents a residual
    3-writer steal window backstopped by the commit-point OCC re-check.
    Prove the backstop: three writers race to steal one STALE lease,
    then each commits a whole-table rewrite (add-my-marker transform)
    through rewrite_table, re-planning on VersionConflictError.
    Invariants: every writer's committed
    marker survives to the end (no lost committed write — a rewrite
    based on stale state would erase an earlier winner's marker),
    markers are committed exactly once, and the final ledger holds a
    coherent set of unique live write-ids."""
    import os as _os
    import threading
    import time as _time

    from datawarehouse_backup_system_spark.ledger import Ledger
    from datawarehouse_backup_system_spark.plans.table_format import (
        ConcurrentWriterError,
        VersionConflictError,
        WriteIdParquetFormat,
        WriterLease,
        rewrite_table,
    )

    root = tmp_path / "w"
    fmt = WriteIdParquetFormat(
        Ledger(spark, root / "_ledger"), root, move=lambda s, d: s.rename(d)
    )
    table = root / "t"
    rows = spark.range(0, 10).select(
        F.col("id"), F.lit("2024-01-05").cast("date").alias("ingest_date")
    )
    fmt.append(rows, table, "t")

    # a crashed writer's stale lease — all three contenders must steal
    lease_path = root / "_writer.lease"
    lease_path.write_text("crashed")
    old = _os.stat(lease_path).st_mtime - 3600
    _os.utime(lease_path, (old, old))

    n_writers = 3
    barrier = threading.Barrier(n_writers)
    results: dict[int, object] = {}
    lock = threading.Lock()

    def writer(i: int) -> None:
        marker = spark.range(1000 + i, 1001 + i).select(
            F.col("id"),
            F.lit("2024-02-01").cast("date").alias("ingest_date"),
        )
        barrier.wait()
        lease = None
        deadline = _time.time() + 120
        while _time.time() < deadline and lease is None:
            try:
                lease = WriterLease(
                    root, owner=f"writer-{i}", ttl_s=60
                ).acquire()
            except ConcurrentWriterError:
                _time.sleep(0.02)  # live holder — wait, don't steal
        try:
            if lease is None:
                out: object = "never-acquired"
            else:
                for _ in range(6):
                    try:
                        out = rewrite_table(
                            spark, fmt, table, rows.schema, "t",
                            lambda cur: cur.unionByName(marker),
                            run_vacuum=False,
                            expected_version=len(
                                fmt.ledger.committed_writes("t")
                            ),
                        )
                        break
                    except VersionConflictError as exc:
                        out = exc  # re-plan against the advanced table
        except Exception as exc:  # noqa: BLE001 — record, assert below
            out = exc
        finally:
            if lease is not None:
                lease.release()
        with lock:
            results[i] = out

    threads = [
        threading.Thread(target=writer, args=(i,)) for i in range(n_writers)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)

    assert len(results) == n_writers, results
    assert all(isinstance(r, dict) for r in results.values()), results

    # exactly one commit per version: the three rewrites observed a
    # strictly growing chain of committed states (10→11→12→13 rows) —
    # two rewrites based on the same version would both report the
    # same count and one marker would vanish
    assert sorted(r["rewritten"] for r in results.values()) == [11, 12, 13]

    # no lost committed write: all three markers present exactly once,
    # and the base rows survived every rewrite (committed view —
    # run_vacuum=False leaves retired files on disk for time travel)
    got = fmt.read_as_of(spark, table, rows.schema, "t")
    ids = sorted(r["id"] for r in got.select("id").collect())
    assert ids == list(range(10)) + [1000, 1001, 1002]

    # the live committed view is a coherent set of unique write-ids
    live = [w for w, _ in fmt.ledger.committed_writes("t")]
    assert len(live) == len(set(live))
    # the stale lease was stolen (the crashed token is gone) and the
    # last writer released: no live lease file remains
    assert not lease_path.exists() or lease_path.read_text() != "crashed"


def test_reader_snapshot_isolation_across_rewrite(spark, tmp_path):
    """Concurrent-reader guarantee the write-id format claims (the
    rewrite_table docstring's commit→vacuum window): a DataFrame pinned
    by read_as_of keeps returning its consistent committed view after a
    DML rewrite commits a NEWER version with ``run_vacuum=False`` —
    tombstone-first means the old files persist, so the reader never
    observes a torn half-old/half-new state. After VACUUM (the default
    DML behavior runs it inline), stale readers are out of retention
    exactly as in Delta; fresh reads see the new version throughout."""
    from pyspark.sql import types as T

    from datawarehouse_backup_system_spark.ledger import Ledger
    from datawarehouse_backup_system_spark.plans.table_format import (
        WriteIdParquetFormat,
        delete_from_table,
        vacuum,
    )

    root = tmp_path / "w"
    fmt = WriteIdParquetFormat(
        Ledger(spark, root / "_ledger"), root, move=lambda s, d: s.rename(d)
    )
    table = root / "t"
    struct = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("ingest_date", T.DateType()),
    ])
    fmt.append(
        spark.range(0, 100).selectExpr(
            "id", "CAST('2024-01-05' AS DATE) AS ingest_date"
        ),
        table, "t",
    )

    snap = fmt.read_as_of(spark, table, struct, "t")  # pin BEFORE the DML
    delete_from_table(
        spark, fmt, table, struct, "t", "id % 2 = 0", run_vacuum=False
    )

    # acted on only AFTER the rewrite committed: still the exact pinned
    # version — 100 rows, never 50, never a mixed 150
    assert snap.count() == 100
    assert fmt.read_as_of(spark, table, struct, "t").count() == 50

    # vacuum sweeps the tombstoned pre-rewrite files; fresh reads are
    # unaffected (the stale snapshot is now beyond retention, as in
    # Delta after VACUUM)
    assert vacuum(fmt, table, "t") >= 1
    assert fmt.read_as_of(spark, table, struct, "t").count() == 50


def test_append_many_writes_one_file(spark, tmp_path):
    """Review r7 (confirmed): the Arrow local relation split a multi-row
    batch into one parquet file PER ROW, voiding the whole-or-nothing
    visibility the composite commit+tombstone transition depends on."""
    from datawarehouse_backup_system_spark.ledger import Ledger

    led = Ledger(spark, tmp_path / "ledger")
    led.append_many([(f"f{i}", "processed") for i in range(5)])
    files = list((tmp_path / "ledger").glob("*.parquet"))
    assert len(files) == 1
    assert led.read().count() == 5
