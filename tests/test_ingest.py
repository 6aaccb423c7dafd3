"""End-to-end ingest pipeline tests over the F-1 dirty-CSV fixtures.

Asserts the reference's semantics (SURVEY §3 E1): which rows survive
dedup, dense id assignment, dirty-value coercions, ledger idempotency.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawarehouse_backup_system_spark.plans.ingest import IngestJob
from datawarehouse_backup_system_spark.registry import SchemaRegistry
from datawarehouse_backup_system_spark.sources.catalog import Router

from fixtures import generate_f1


def make_job(spark, tmp_path, fx) -> IngestJob:
    registry = SchemaRegistry.from_files(fx["schema_path"], fx["rename_path"])
    router = Router().add(r"^last24h__", "mini_campaign_events")
    return IngestJob(spark=spark, registry=registry,
                     warehouse_dir=tmp_path / "warehouse", router=router)


def test_full_cycle(spark, tmp_path):
    fx = generate_f1(tmp_path)
    job = make_job(spark, tmp_path, fx)
    results = job.run(tmp_path)

    assert [r.status for r in results] == ["uploaded to ClickHouse"] * 3

    schema = job.registry.get("mini_campaign_events")
    table = job.read_table(schema)

    # --- dedup semantics: J1 within each file, J2 across files ----------
    set1 = {tuple(r) for r in fx_rows(fx, 0)}
    set2 = {tuple(r) for r in fx_rows(fx, 1)} - set1
    set3 = {tuple(r) for r in fx_rows(fx, 2)}  # 12-col space, no smtp
    expected_total = len(set1) + len(set2) + len(set3)
    assert table.count() == expected_total
    assert results[0].rows_loaded == len(set1)
    assert results[1].rows_loaded == len(set2)
    assert results[2].rows_loaded == len(set3)

    # row_hash is a true content key: distinct everywhere
    assert table.select("row_hash").distinct().count() == expected_total

    # --- dense ids: 1..N, no gaps, watermark carried across files -------
    ids = table.agg(F.min("id"), F.max("id"), F.count("id"),
                    F.countDistinct("id")).collect()[0]
    assert list(ids) == [1, expected_total, expected_total, expected_total]

    # --- typed output ----------------------------------------------------
    out_schema = dict((f.name, f.dataType.simpleString()) for f in table.schema.fields)
    assert out_schema["event_datetime"] == "timestamp"
    assert out_schema["number_of_children"] == "bigint"
    assert out_schema["total_order_amount_eur"] == "double"
    assert out_schema["date_of_birth"] == "string"

    # --- dirty-value coercions (F2-F7) -----------------------------------
    # F5: no trailing '.0' survives on string columns; leading zeros kept
    assert table.where(F.col("mobile").rlike(r"\.0$")).count() == 0
    assert table.where(F.col("billing_postal_code").rlike(r"\.0$")).count() == 0
    assert table.where(F.col("billing_postal_code").startswith("0")).count() > 0
    # F7: 'nan'/'<NA>' scrubbed to real nulls
    assert table.where(F.col("email").isin("nan", "<NA>")).count() == 0
    assert table.where(F.col("email").isNull()).count() > 0
    # F2: unparseable dates coerced to null, parseable ones kept
    assert table.where(F.col("event_date").isNull()).count() > 0
    assert table.where(F.col("event_date").isNotNull()).count() > 0
    # F3: non-numeric ints coerced to null
    assert table.where(F.col("number_of_children").isNull()).count() > 0
    # F6: DOB stored as 'yyyy-MM-dd' string or null
    bad_dob = table.where(
        F.col("date_of_birth").isNotNull()
        & ~F.col("date_of_birth").rlike(r"^\d{4}-\d{2}-\d{2}$")
    )
    assert bad_dob.count() == 0
    # P2: file 3 had no smtp column -> backfilled NULL
    assert table.where(F.col("smtp_response").isNull()).count() >= len(set3)

    # --- ledger idempotency (P4): second cycle is a no-op ----------------
    again = job.run(tmp_path)
    assert again == []
    assert table.count() == expected_total


def fx_rows(fx, i):
    import csv

    with open(fx["files"][i], encoding="utf-8") as f:
        rows = list(csv.reader(f, delimiter=";"))
    return rows[1:]


def test_ingest_files_equals_sequential(spark, tmp_path):
    """``_ingest_files`` (one plan over N files) must produce the same
    table state as sequential process_file calls — same survivors, same
    dedup winners, dense ids."""
    fx = generate_f1(tmp_path)
    seq_job = make_job(spark, tmp_path / "seq", fx)
    for f in fx["files"][:2]:  # files 1+2 share the full header layout
        seq_job.process_file(f)
    batch_job = make_job(spark, tmp_path / "batch", fx)
    res = batch_job._ingest_files(fx["files"][:2], "mini_campaign_events")
    assert [r.status for r in res] == ["uploaded to ClickHouse"] * 2

    schema = seq_job.registry.get("mini_campaign_events")
    seq_tbl = seq_job.read_table(schema)
    batch_tbl = batch_job.read_table(schema)
    assert batch_tbl.count() == seq_tbl.count()
    # identical surviving content (hash sets equal)
    seq_h = {r["row_hash"] for r in seq_tbl.select("row_hash").collect()}
    bat_h = {r["row_hash"] for r in batch_tbl.select("row_hash").collect()}
    assert seq_h == bat_h
    # dense ids across the whole batch
    n = batch_tbl.count()
    ids = batch_tbl.agg(F.min("id"), F.max("id"), F.countDistinct("id")).collect()[0]
    assert list(ids) == [1, n, n]
    # ledger has one entry per source file (write markers excluded)
    assert batch_job.ledger.processed_set() == {f.name for f in fx["files"][:2]}


def test_batch_divergent_profile_falls_back_per_file(spark, tmp_path):
    """Review r8: a valid file whose (encoding, delimiter, header)
    profile differs from the batch's first file must still be INGESTED
    (its own profile's scan, read under its own sniffed settings) — the
    old behavior ledgered it COLUMN_MISMATCH, which processed_set()
    treats as done, permanently losing its rows."""
    from datawarehouse_backup_system_spark import ledger as ledger_mod

    fx = generate_f1(tmp_path)
    # make file 3 a comma-delimited variant of file 1's content: valid,
    # same header NAMES, different sniffed delimiter → profile diverges
    src = fx["files"][0].read_text(encoding="utf-8")
    comma = tmp_path / "last24h__comma_variant.csv"
    comma.write_text(
        "\n".join(line.replace(";", ",") for line in src.splitlines())
        + "\n",
        encoding="utf-8",
    )
    job = make_job(spark, tmp_path, fx)
    res = job._ingest_files(
        [fx["files"][0], fx["files"][1], comma], "mini_campaign_events"
    )
    assert [r.status for r in res] == [ledger_mod.STATUS_UPLOADED] * 3
    # the divergent file was ingested, not blacklisted
    rows = job.ledger.read().collect()
    mine = [r for r in rows if r["file_name"] == comma.name]
    assert [r["status"] for r in mine] == [ledger_mod.STATUS_UPLOADED]

    # an empty listing is a total-function no-op, not an IndexError
    assert job._ingest_files([], "mini_campaign_events") == []


def test_ingest_files_divergent_mid_batch_preserves_sequential_order(
    spark, tmp_path
):
    """Review r9 (ADVICE): a divergent file MID-batch whose rows also
    appear in a LATER conforming file must keep sequential semantics —
    ids follow the original path order and first-occurrence dedup
    credits the earlier file. The old code ingested all divergent
    files FIRST, which both shifted every id and flipped the dedup
    winner. The (row_hash → id) map pins both."""
    from datawarehouse_backup_system_spark import ledger as ledger_mod

    fx = generate_f1(tmp_path)
    # comma-delimited variant of file 2's FULL content: divergent
    # profile, placed BETWEEN files 1 and 2 — its rows duplicate the
    # later conforming file's rows, so the dedup winner is order-defined
    src = fx["files"][1].read_text(encoding="utf-8")
    comma = tmp_path / "last24h__comma_mid.csv"
    comma.write_text(
        "\n".join(line.replace(";", ",") for line in src.splitlines())
        + "\n",
        encoding="utf-8",
    )
    order = [fx["files"][0], comma, fx["files"][1]]
    seq_job = make_job(spark, tmp_path / "seq9", fx)
    for f in order:
        seq_job.process_file(f)
    batch_job = make_job(spark, tmp_path / "batch9", fx)
    res = batch_job._ingest_files(order, "mini_campaign_events")
    assert [r.status for r in res] == [ledger_mod.STATUS_UPLOADED] * 3

    schema = seq_job.registry.get("mini_campaign_events")
    seq_map = {
        r["row_hash"]: r["id"]
        for r in seq_job.read_table(schema).select("row_hash", "id").collect()
    }
    bat_map = {
        r["row_hash"]: r["id"]
        for r in batch_job.read_table(schema).select("row_hash", "id").collect()
    }
    assert bat_map == seq_map
    assert sum(r.rows_loaded for r in res) == len(seq_map)


def test_ingest_date_partitioning_and_retention(spark, tmp_path):
    """Snapshots are partitioned by ingest_date, so retention is a
    partition-directory drop: the remaining rows read back whole."""
    import shutil

    from datawarehouse_backup_system_spark.registry import SchemaRegistry

    fx = generate_f1(tmp_path, n=60)
    registry = SchemaRegistry.from_files(fx["schema_path"], fx["rename_path"])
    router = Router().add(r"^last24h__", "mini_campaign_events")
    old_job = IngestJob(spark=spark, registry=registry,
                        warehouse_dir=tmp_path / "warehouse", router=router,
                        ingest_date="2024-01-05")
    old_job.process_file(fx["files"][0])
    new_job = IngestJob(spark=spark, registry=registry,
                        warehouse_dir=tmp_path / "warehouse", router=router,
                        ingest_date="2024-03-01")
    new_job.process_file(fx["files"][2])

    schema = registry.get("mini_campaign_events")
    table_dir = old_job.table_path(schema)
    parts = sorted(d.name for d in table_dir.glob("ingest_date=*"))
    assert parts == ["ingest_date=2024-01-05", "ingest_date=2024-03-01"]

    # partition pruning: a dated read touches only one directory
    pruned = spark.read.parquet(str(table_dir)).where(
        F.col("ingest_date") == "2024-03-01"
    )
    assert "2024-01-05" not in pruned._jdf.queryExecution().executedPlan().toString()

    shutil.rmtree(table_dir / "ingest_date=2024-01-05")
    left = spark.read.parquet(str(table_dir))
    assert {r["ingest_date"].isoformat() for r in left.select("ingest_date").distinct().collect()} \
        == {"2024-03-01"}


def test_zip_ledgered_under_original_name(spark, tmp_path):
    """Idempotency must key on the LANDING name (the .zip), not the
    extracted member — otherwise every cycle reprocesses the zip."""
    import zipfile

    fx = generate_f1(tmp_path, n=30)
    job = make_job(spark, tmp_path, fx)
    inner = fx["files"][0]
    zpath = tmp_path / "last24h__zipped.csv.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.write(inner, inner.name)
    inner.unlink()  # only the zip remains in the landing dir
    for f in fx["files"][1:]:
        f.unlink()

    first = job.run(tmp_path)
    assert [r.status for r in first] == ["uploaded to ClickHouse"]
    assert job.ledger.processed_set() == {zpath.name}
    assert job.run(tmp_path) == []  # second cycle: skipped


def test_unroutable_file_gets_ledgered(spark, tmp_path):
    fx = generate_f1(tmp_path, n=40)
    job = make_job(spark, tmp_path, fx)
    weird = tmp_path / "mystery_export.csv"
    weird.write_text("a;b\n1;2\n")
    res = job.process_file(weird)
    assert res.status == "no schema found"
    ledger = job.ledger.read()
    assert ledger.where(F.col("status") == "no schema found").count() == 1


def test_extra_columns_rejected(spark, tmp_path):
    """Q4 asymmetry: more columns than schema -> reject."""
    fx = generate_f1(tmp_path, n=40)
    job = make_job(spark, tmp_path, fx)
    bad = tmp_path / "last24h__extra.csv"
    header = "Email;prénom;Campaign Event Type;Event Date;Event Datetime;Mobile;" \
             "CODEPOSTAL_FACTURATION;DATE DE NAISSANCE;NB_ENFANTS;NB_TOTAL_COMMANDES;" \
             "MONTANT_TOTAL_COMMANDES_EUR;Campaign Name;SMTP response;BONUS COLUMN"
    bad.write_text(header + "\n" + ";".join(["x"] * 14) + "\n")
    res = job.process_file(bad)
    assert res.status == "column count mismatch"
    assert "BONUS COLUMN" in (res.error or "")


def test_gzip_csv_ingests_like_plain(spark, tmp_path):
    """A .csv.gz export ingests identically to its plain sibling: the
    sniffers gunzip transparently, routing/ledgering keys on the landing
    name, and Spark's codec reads the compressed scan."""
    import gzip

    from datawarehouse_backup_system_spark.sources.csv_source import (
        detect_delimiter,
        detect_encoding,
        read_header,
    )

    fx = generate_f1(tmp_path, n=30)
    job = make_job(spark, tmp_path, fx)
    plain = fx["files"][0]
    gz = tmp_path / (plain.name + ".gz")
    gz.write_bytes(gzip.compress(plain.read_bytes()))
    # sniffers see the TEXT, not the gzip stream
    assert detect_encoding(gz) == detect_encoding(plain)
    assert detect_delimiter(gz) == detect_delimiter(plain)
    assert read_header(gz) == read_header(plain)

    for f in fx["files"]:
        f.unlink()  # only the gz remains

    first = job.run(tmp_path)
    assert [r.status for r in first] == ["uploaded to ClickHouse"]
    assert job.ledger.processed_set() == {gz.name}
    schema = job.registry.get("mini_campaign_events")
    assert job.read_table(schema).count() > 0
    assert job.run(tmp_path) == []  # idempotent


def test_run_default_ids_dense_from_watermark(spark, tmp_path):
    """``IngestJob.run`` with default arguments numbers every new row
    densely from the stored watermark, with no duplicate ids, even when
    each landing file spans several scan partitions. Two daily cycles:
    the second continues from the first one's MAX(id)."""
    import shutil

    (tmp_path / "fx").mkdir()
    fx = generate_f1(tmp_path / "fx", n=2400)
    assert fx["n_file1"] >= 2000 and fx["n_file2"] >= 2000
    day1, day2 = tmp_path / "day1", tmp_path / "day2"
    day1.mkdir()
    day2.mkdir()
    shutil.copy(fx["files"][0], day1)
    for f in fx["files"][1:]:
        shutil.copy(f, day2)
    job = make_job(spark, tmp_path, fx)
    schema = job.registry.get("mini_campaign_events")
    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    # ~60 KB splits: every 2 000-row export becomes several scan partitions
    spark.conf.set(conf, str(60 * 1024))
    try:
        watermark = 0
        for day in (day1, day2):
            results = job.run(day)
            assert all(r.status == "uploaded to ClickHouse" for r in results)
            loaded = sum(r.rows_loaded for r in results)
            assert loaded > 0
            s = job.read_table(schema).agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("id").alias("ids"),
                F.min("id").alias("lo"),
                F.max("id").alias("hi"),
            ).collect()[0]
            assert (s["n"], s["ids"], s["lo"], s["hi"]) == (
                watermark + loaded, watermark + loaded, 1, watermark + loaded
            )
            watermark += loaded
    finally:
        spark.conf.set(conf, old)


def test_ingest_job_rejects_other_id_strategies(spark, tmp_path):
    """Dense ids have one path; any other ``id_strategy`` is an error
    rather than a silent switch to another numbering."""
    IngestJob(spark=spark, registry=SchemaRegistry(),
              warehouse_dir=tmp_path / "ok", id_strategy="global")
    with pytest.raises(ValueError, match="unknown id strategy"):
        IngestJob(spark=spark, registry=SchemaRegistry(),
                  warehouse_dir=tmp_path / "bad", id_strategy="distributed")


def _table_rows(job):
    schema = job.registry.get("mini_campaign_events")
    return sorted(map(tuple, job.read_table(schema).collect()), key=repr)


def _landing_statuses(job):
    from datawarehouse_backup_system_spark import ledger as ledger_mod

    return sorted(
        (r["file_name"], r["status"]) for r in job.ledger.read().collect()
        if not r["file_name"].startswith(ledger_mod.WRITE_MARKER_PREFIX)
    )


def test_batched_run_equals_sequential_process_file(spark, tmp_path):
    """One dirty day: ``run`` (each table one plan over every profile)
    leaves the same table — every column, ``id`` and ``row_hash``
    included — the same per-file (status, rows_in, rows_loaded) and the
    same ledger as sequential ``process_file`` calls in listing order,
    against the same history. Each such call is a one-file listing, so
    this pins one plan per table against one plan per file."""
    from fixtures import generate_dirty_day

    from datawarehouse_backup_system_spark.sources.catalog import discover_files

    day = generate_dirty_day(tmp_path / "day")
    seq = make_job(spark, tmp_path / "seq", day)
    bat = make_job(spark, tmp_path / "bat", day)
    for job in (seq, bat):
        assert job.process_file(day["history"]).rows_loaded > 0

    seq_res = [seq.process_file(p) for p in discover_files(day["dir"])]
    bat_res = bat.run(day["dir"])

    def outcome(results):
        return [(r.file_name, r.status, r.rows_in, r.rows_loaded)
                for r in results]

    assert outcome(bat_res) == outcome(seq_res)
    assert {r.file_name: r.status for r in bat_res} == day["expected"]
    by_name = {r.file_name: r for r in bat_res}
    # the file made only of earlier rows uploads and loads nothing
    assert (by_name["last24h__20240301_07.csv"].rows_in,
            by_name["last24h__20240301_07.csv"].rows_loaded) == (20, 0)
    assert _table_rows(bat) == _table_rows(seq)
    assert _landing_statuses(bat) == _landing_statuses(seq)


def test_run_removes_transcoded_copies(spark, tmp_path, monkeypatch):
    """The UTF-8 copy that the scan of a UTF-16 export reads lives in the
    cycle's staging dir and is gone when ``run`` returns; a long-lived
    process must not keep a copy of every UTF-16 file it ingested. The
    results, table and ledger equal a run over the same day with that
    export re-encoded as UTF-8 beforehand."""
    import shutil
    from pathlib import Path

    from fixtures import generate_dirty_day

    from datawarehouse_backup_system_spark.sources import csv_source

    copies: list[str] = []
    real = csv_source._transcode_to_utf8

    def spy(paths, encoding, *rest):
        copies.extend(real(paths, encoding, *rest))
        return copies[-len(paths):]

    monkeypatch.setattr(csv_source, "_transcode_to_utf8", spy)
    day = generate_dirty_day(tmp_path / "day")
    job = make_job(spark, tmp_path / "utf16", day)
    job.process_file(day["history"])
    res = job.run(day["dir"])
    assert [Path(c).name for c in copies] == ["last24h__20240301_05.csv"]
    assert not any(Path(c).exists() for c in copies)

    utf8 = tmp_path / "utf8"
    shutil.copytree(day["dir"], utf8)
    f5 = utf8 / "last24h__20240301_05.csv"
    with open(f5, encoding="utf-16", newline="") as f:
        text = f.read()
    with open(f5, "w", encoding="utf-8", newline="") as f:
        f.write(text)
    ref = make_job(spark, tmp_path / "ref", day)
    ref.process_file(day["history"])
    assert _outcome(res) == _outcome(ref.run(utf8))
    assert _table_rows(job) == _table_rows(ref)
    assert _landing_statuses(job) == _landing_statuses(ref)


def _outcome(results):
    return [(r.file_name, r.status, r.rows_in, r.rows_loaded) for r in results]


def _count_plans(job) -> list[list[str]]:
    """The landing names of each plan ``job`` makes from here on (each
    :meth:`IngestJob._ingest_table` call, fallback calls included)."""
    planned: list[list[str]] = []
    real = job._ingest_table

    def counted(files, table_key, staging):
        planned.append([f.path.name for f in files])
        return real(files, table_key, staging)

    job._ingest_table = counted
    return planned


def _run_in_one_plan(spark, tmp_path, fx, landing, caplog):
    """``run`` over ``landing`` and sequential ``process_file`` calls in
    listing order: ``run`` plans the table once, with no fallback, and
    gives the same results, table and ledger. Returns ``run``'s results."""
    import logging

    from datawarehouse_backup_system_spark.sources.catalog import discover_files

    listing = discover_files(landing)
    seq = make_job(spark, tmp_path / "seq", fx)
    seq_res = [seq.process_file(p) for p in listing]
    bat = make_job(spark, tmp_path / "bat", fx)
    planned = _count_plans(bat)
    with caplog.at_level(logging.WARNING):
        bat_res = bat.run(landing)

    assert planned == [[p.name for p in listing]]
    assert "ingesting them one by one" not in caplog.text
    assert _outcome(bat_res) == _outcome(seq_res)
    assert _table_rows(bat) == _table_rows(seq)
    assert _landing_statuses(bat) == _landing_statuses(seq)
    return bat_res


def test_run_shared_member_name_takes_one_plan(spark, tmp_path, caplog):
    """Two zips whose first members share a name share one scan: the
    file rank keys on each file's full scan URI, not its basename. So
    ``run`` plans the table once, and the table, results and ledger
    equal sequential ``process_file`` calls in listing order."""
    import zipfile

    from datawarehouse_backup_system_spark import ledger as ledger_mod

    (tmp_path / "fx").mkdir()
    fx = generate_f1(tmp_path / "fx", n=60)
    landing = tmp_path / "landing"
    landing.mkdir()
    for name, src in (("last24h__a.csv.zip", fx["files"][0]),
                      ("last24h__b.csv.zip", fx["files"][1])):
        with zipfile.ZipFile(landing / name, "w") as zf:
            zf.write(src, "last24h__x.csv")
    (landing / "last24h__c.csv").write_bytes(fx["files"][2].read_bytes())

    res = _run_in_one_plan(spark, tmp_path, fx, landing, caplog)
    assert [(r.file_name, r.status) for r in res] == [
        (n, ledger_mod.STATUS_UPLOADED)
        for n in ("last24h__a.csv.zip", "last24h__b.csv.zip", "last24h__c.csv")
    ]
    assert all(r.rows_loaded > 0 for r in res)


def test_run_names_spark_spells_or_globs_take_one_plan(spark, tmp_path, caplog):
    """Names that Spark spells percent-encoded in ``input_file_name()``
    (a space, ``é``, a literal ``%20``) or would read as a glob
    (``[ ] { } * ? \\``) upload in one plan, with the rows and ids of
    sequential ``process_file`` calls. Each was once ledgered an error
    and skipped forever: an unmatched file rank, or PATH_NOT_FOUND."""
    from datawarehouse_backup_system_spark import ledger as ledger_mod

    (tmp_path / "fx").mkdir()
    fx = generate_f1(tmp_path / "fx", n=60)
    landing = tmp_path / "landing"
    landing.mkdir()
    sources = {  # in listing (name) order
        "last24h__a[1].csv": fx["files"][0],
        "last24h__b{x}*?\\.csv": fx["files"][1],
        "last24h__é 1.csv": fx["files"][2],
        "last24h__é%201.csv": fx["files"][0],
    }
    for name, src in sources.items():
        (landing / name).write_bytes(src.read_bytes())

    res = _run_in_one_plan(spark, tmp_path, fx, landing, caplog)
    assert {r.file_name: r.status for r in res} == dict.fromkeys(
        sources, ledger_mod.STATUS_UPLOADED)
    # the last file repeats the first: it counts its rows, loads none
    copy = res[-1]
    assert copy.rows_in > 0 and copy.rows_loaded == 0


def test_read_raw_csv_of_glob_name_logs_no_stream_sink_warning(
    spark, tmp_path
):
    """A single-path read of a landing name with a glob metacharacter
    reads its rows and logs no ``FileStreamSink`` warning. Spark's
    streaming-sink probe stats the escaped path literally and used to
    log a WARN with a FileNotFoundException stack trace on every such
    read. The JVM writes its log to its own stderr, which pytest's
    ``capfd`` cannot see, so a log4j appender captures it here."""
    from datawarehouse_backup_system_spark.sources.csv_source import (
        read_raw_csv,
    )

    path = tmp_path / "last24h__a[1].csv"
    path.write_text("a,b\n1,2\n3,4\n")
    jvm = spark._jvm
    core = jvm.org.apache.logging.log4j.core
    ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
    root = ctx.getConfiguration().getRootLogger()
    log = jvm.java.io.StringWriter()
    appender = core.appender.WriterAppender.createAppender(
        core.layout.PatternLayout.newBuilder().withPattern("%c %m%n").build(),
        None, log, "dwbss-capture", False, True,
    )
    appender.start()
    root.addAppender(appender, None, None)
    ctx.updateLoggers()
    try:
        rows = read_raw_csv(spark, str(path)).collect()
    finally:
        root.removeAppender("dwbss-capture")
        ctx.updateLoggers()
    assert sorted(map(tuple, rows)) == [("1", "2"), ("3", "4")]
    assert "FileStreamSink" not in log.toString()


def test_run_dirty_day_appends_in_three_jobs(spark, tmp_path):
    """A dirty day of four scan profiles (``;``, latin-1 ``,``, UTF-16
    transcoded, a zip's narrow member) against existing history runs 3
    Spark jobs: the history broadcast, one single-partition exchange
    that J1, J2 and the ids all run after, and the write. The file rank
    is a literal map, so no local rank frame is scanned or broadcast,
    and history's hashes are anti-joined as they are, not aggregated."""
    import re

    from fixtures import generate_dirty_day
    from test_ledger import _jobs_in

    day = generate_dirty_day(tmp_path / "day")
    job = make_job(spark, tmp_path, day)
    assert job.process_file(day["history"]).rows_loaded > 0
    plans: list[str] = []
    real = job._atomic_append

    def append(plan, schema):
        plans.append(plan._jdf.queryExecution().executedPlan().toString())
        return real(plan, schema)

    job._atomic_append = append
    results = []
    jobs = _jobs_in(spark, "dirty-day-run",
                    lambda: results.extend(job.run(day["dir"])))

    assert {r.file_name: r.status for r in results} == day["expected"]
    assert jobs <= 3
    [plan] = plans
    assert "Scan ExistingRDD" not in plan and "HashAggregate" not in plan, plan
    assert re.findall(r"\bExchange (\w+)", plan) == ["SinglePartition"], plan
    assert plan.count("BroadcastExchange") == 1, plan


def test_all_duplicate_file_counts_within_the_append_jobs(spark, tmp_path):
    """A file made only of rows already ingested loads none, yet its
    ``rows_in`` still comes from the Observation on the append: no job
    beyond the append's 3 recounts it."""
    from fixtures import generate_dirty_day
    from test_ledger import _jobs_in

    from datawarehouse_backup_system_spark import ledger as ledger_mod

    day = generate_dirty_day(tmp_path / "day")
    job = make_job(spark, tmp_path, day)
    assert job.process_file(day["dir"] / "last24h__20240301_01.csv").rows_loaded > 0
    res = []
    jobs = _jobs_in(spark, "all-duplicate", lambda: res.append(
        job.process_file(day["dir"] / "last24h__20240301_07.csv")))
    assert [(r.status, r.rows_in, r.rows_loaded) for r in res] == [
        (ledger_mod.STATUS_UPLOADED, 20, 0)]
    assert jobs <= 3


def test_run_failed_sniff_sinks_only_its_file(spark, tmp_path, monkeypatch):
    """A file whose sniff raises is ledgered ``unexpected: <ExcType>``
    exactly once, and its table's other files upload with the rows and
    ids that sequential ``process_file`` calls give."""
    import shutil

    from datawarehouse_backup_system_spark import ledger as ledger_mod
    from datawarehouse_backup_system_spark.plans import ingest
    from datawarehouse_backup_system_spark.sources.catalog import discover_files

    (tmp_path / "fx").mkdir()
    fx = generate_f1(tmp_path / "fx", n=60)
    landing = tmp_path / "landing"
    landing.mkdir()
    for f in fx["files"]:
        shutil.copy(f, landing)
    listing = discover_files(landing)
    bad = listing[1].name
    real_sniff = ingest._sniff

    def sniff(path):
        if path.name == bad:
            raise RuntimeError("unreadable export")
        return real_sniff(path)

    monkeypatch.setattr(ingest, "_sniff", sniff)
    seq = make_job(spark, tmp_path / "seq", fx)
    seq_res = [seq.process_file(p) for p in listing]
    bat = make_job(spark, tmp_path / "bat", fx)
    bat_res = bat.run(landing)

    failed = f"{ledger_mod.STATUS_UNEXPECTED}: RuntimeError"
    assert [r.status for r in bat_res] == [
        ledger_mod.STATUS_UPLOADED, failed, ledger_mod.STATUS_UPLOADED]
    assert bat_res[1].error == "unreadable export"
    assert _outcome(bat_res) == _outcome(seq_res)
    assert [r["status"] for r in bat.ledger.read().collect()
            if r["file_name"] == bad] == [failed]
    assert _table_rows(bat) == _table_rows(seq)
    assert _landing_statuses(bat) == _landing_statuses(seq)


def test_batched_run_all_empty_table_commits_nothing(spark, tmp_path):
    """Header-only files only — one of them wide, which stays EMPTY rather
    than COLUMN_MISMATCH, because emptiness is decided before the width
    check: the table batch writes no data and commits no write-id."""
    from fixtures import generate_dirty_day

    from datawarehouse_backup_system_spark import ledger as ledger_mod

    day = generate_dirty_day(tmp_path / "day")
    landing = tmp_path / "landing"
    landing.mkdir()
    for n in ("last24h__20240301_04.csv", "last24h__20240301_06.csv"):
        (day["dir"] / n).rename(landing / n)
    job = make_job(spark, tmp_path, day)
    res = job.run(landing)
    assert [(r.status, r.rows_in, r.rows_loaded) for r in res] == [
        (ledger_mod.STATUS_EMPTY, 0, 0)] * 2
    markers = [r for r in job.ledger.read().collect()
               if r["file_name"].startswith(ledger_mod.WRITE_MARKER_PREFIX)]
    assert markers == []
    assert _landing_statuses(job) == [
        ("last24h__20240301_04.csv", ledger_mod.STATUS_EMPTY),
        ("last24h__20240301_06.csv", ledger_mod.STATUS_EMPTY),
    ]


@pytest.mark.parametrize(
    "content",
    [
        "a,,A,b, c \n1,2,3,4,5\n6,,8,9,10\n",        # empty cell, dup names
        "id,Name,NAME,name\n1,x,y,z\n",               # case-insensitive dups
        "\ufeffk;v\n1;one\n2;two\n",                   # UTF-8 BOM
        '"a,b","c""d",e\n"1,5",2,3\n',                # ""-quoted cells
        "p,q,r\n",                                    # no data rows
    ],
    ids=["empty_cell", "case_dups", "utf8_bom", "quoted", "header_only"],
)
def test_sniffed_header_scan_matches_spark_inference(spark, tmp_path, content):
    """A profile's scan names its columns from the sniffed header, so no
    job reads it; the columns and rows must be those Spark's own header
    inference gives."""
    from datawarehouse_backup_system_spark.plans.ingest import _sniff

    path = tmp_path / "landing" / "export.csv"
    path.parent.mkdir()
    path.write_text(content, encoding="utf-8")
    fx = generate_f1(tmp_path)
    job = make_job(spark, tmp_path, fx)
    enc, delim, header = _sniff(path)
    sniffed = job._scan_with_seq([path], [0], enc, delim, header)
    inferred = job._scan_with_seq([path], [0], enc, delim)
    assert sniffed.columns == inferred.columns
    assert sorted(map(tuple, sniffed.collect())) == sorted(
        map(tuple, inferred.collect()))


_EMPTINESS_SHAPES = {
    "header_only": b"a,b\n",
    "header_no_newline": b"a,b",
    "blank_after_header": b"a,b\n\n\n",
    "whitespace_lines": b"a,b\n   \n",
    "tab_line": b"a,b\n\t\t\n",
    "vt_ff_line": b"a,b\n\x0b\x0c\n",
    "crlf_blank_lines": b"a,b\r\n\r\n\r\n",
    "cr_only_with_data": b"a,b\r1,2\r",
    "leading_blanks_header": b"\n \na,b\n",
    "leading_blanks_data": b"\n \na,b\n1,2\n",
    "delimiters_only_row": b"a;b\n;\n",
    "nul_line": b"a,b\n\x00\n",
    "nbsp_line": "a,b\n \n".encode("utf-8"),
    "utf8_bom_header": b"\xef\xbb\xbfa,b\n",
    "utf16_header": "a,b\n".encode("utf-16"),
    "utf16_row": "a,b\n1,2\n".encode("utf-16"),
    "gz_header": b"a,b\n",
    "gz_row": b"a,b\n1,2\n",
    "quoted_newline_header": b'"a\nb",c\n',
}


@pytest.mark.parametrize("shape", list(_EMPTINESS_SHAPES))
def test_has_rows_matches_spark_scan(spark, tmp_path, shape):
    """The driver's emptiness sniff agrees with Spark's scan: blank means
    all chars <= U+0020 (Java's trim, so NUL is blank and NBSP is not),
    the first other line is the header, and multiLine is off, so a
    quoted newline in the header leaves one row."""
    import gzip

    from datawarehouse_backup_system_spark.sources.csv_source import (
        has_rows,
        read_raw_csv,
    )

    data = _EMPTINESS_SHAPES[shape]
    if shape.startswith("gz_"):
        path = tmp_path / "export.csv.gz"
        path.write_bytes(gzip.compress(data))
    else:
        path = tmp_path / "export.csv"
        path.write_bytes(data)
    assert has_rows(path) == (read_raw_csv(spark, str(path)).count() > 0)
