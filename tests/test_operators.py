"""Unit tests for individual operators: ids, dedup, casts, sources, retention."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from datawarehouse_backup_system_spark.operators.cast import (
    parse_timestamp,
    scrub_nulls,
    strip_trailing_dot_zero,
)
from datawarehouse_backup_system_spark.operators.dedup import (
    anti_join_history,
    self_dedup_first,
)
from datawarehouse_backup_system_spark.operators.hashing import with_row_hash
from datawarehouse_backup_system_spark.operators.ids import (
    assign_dense_ids,
    next_id_watermark,
)
from datawarehouse_backup_system_spark.operators import retention
from datawarehouse_backup_system_spark.sources.csv_source import (
    detect_delimiter,
    detect_encoding,
    extract_zip_first_member,
)


def test_assign_dense_ids_both_strategies(spark):
    df = spark.range(1000).withColumnRenamed("id", "k").repartition(7)
    out = assign_dense_ids(df, ["k"], start=100, id_col="id")
    rows = out.orderBy("k").select("id").collect()
    assert [r["id"] for r in rows] == list(range(101, 1101))
    assert next_id_watermark(assign_dense_ids(df, ["k"], start=0)) == 1000


def test_self_dedup_keeps_first_occurrence(spark):
    rows = [(1, "a", "x"), (2, "a", "y"), (3, "b", "z"), (4, "a", "w")]
    df = spark.createDataFrame(rows, "seq int, content string, payload string")
    df = df.withColumn("row_hash", F.md5("content"))
    out = self_dedup_first(df, order_col="seq")
    kept = {(r["seq"], r["content"]) for r in out.collect()}
    assert kept == {(1, "a"), (3, "b")}  # seq=1 survives, not 2 or 4


def test_int_coercion_nulls_fractions(spark):
    """pandas errors='coerce' parity: '3.0' casts to 3, '3.7' must be
    NULL — the ungated double round-trip fabricated 3 (review r8)."""
    from datawarehouse_backup_system_spark.operators.cast import (
        apply_typed_casts,
    )
    from datawarehouse_backup_system_spark.registry import TableSchema

    schema = TableSchema(
        key="t", table_name="t",
        column_names=("n",), column_types=("Int64",),
        int_columns=("n",),
    )
    df = spark.createDataFrame(
        [("3",), ("3.0",), ("3.7",), ("9e99",), ("x",)], "n string"
    )
    got = [r["n"] for r in apply_typed_casts(df, schema).collect()]
    assert got == [3, 3, None, None, None]


def test_self_dedup_rejects_reserved_columns(spark):
    """A pre-existing '_rn' (or '_seq' in auto-order mode) would be
    silently overwritten then dropped — fail loudly instead (review r8)."""
    import pytest

    df = spark.createDataFrame(
        [(1, "a", 9)], "seq int, row_hash string, _rn int"
    )
    with pytest.raises(ValueError, match="_rn"):
        self_dedup_first(df, order_col="seq")
    df2 = spark.createDataFrame([(1, "a")], "_seq int, row_hash string")
    with pytest.raises(ValueError, match="_seq"):
        self_dedup_first(df2)


def test_anti_join_history(spark):
    new = spark.createDataFrame([("h1", 1), ("h2", 2), ("h3", 3)], "row_hash string, v int")
    hist = spark.createDataFrame([("h2",), ("h4",)], "row_hash string")
    out = anti_join_history(new, hist)
    assert {r["row_hash"] for r in out.collect()} == {"h1", "h3"}


def test_expectations_report(spark):
    from datawarehouse_backup_system_spark.operators import expectations as ex

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, None, -1.0), (2, "b", 50.0), (3, "zz", 5.0)],
        "k long, s string, v double",
    )
    report = {r["check_name"]: (r["violations"], r["passed"])
              for r in ex.run_checks(df, [
                  ex.not_null("s"),
                  ex.unique("k"),
                  ex.in_range("v", 0, 10),
                  ex.matches("s", "^[ab]$"),
              ]).collect()}
    assert report["not_null(s)"] == (1, False)
    assert report["unique(k)"] == (1, False)        # k=2 twice
    assert report["in_range(v,0,10)"] == (2, False)  # -1 and 50
    assert report["matches(s)"] == (1, False)        # 'zz'

    # names with quotes/backslashes pass through verbatim — the long
    # format binds literals, it never splices names into SQL (review r8)
    hostile = r"can't \ break \" it"
    rep2 = {r["check_name"]: r["passed"]
            for r in ex.run_checks(df, [
                ex.satisfies(hostile, F.col("v") > -100),
            ]).collect()}
    assert rep2 == {hostile: True}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="at least one"):
        ex.run_checks(df, [])
    parent = spark.createDataFrame([(1,), (2,)], "k long")
    fk = ex.fk_exists(df, "k", parent, "k").collect()[0]
    assert (fk["violations"], fk["passed"]) == (1, False)  # k=3 orphan


def test_hash_sampling_and_split(spark):
    from datawarehouse_backup_system_spark.operators.sampling import (
        hash_split,
    )

    df = spark.range(10_000).withColumnRenamed("id", "k")
    split = hash_split(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"]
              for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 10_000    # exhaustive + disjoint
    assert abs(counts["train"] - 8000) < 300
    # rerun-stable: the split is a pure function of the key
    again = split.groupBy("split").agg(F.count("*").alias("n")).collect()
    assert {r["split"]: r["n"] for r in again} == counts

    import pytest

    with pytest.raises(ValueError):
        hash_split(df, "k", {"a": 0.5, "b": 0.4})


def test_salted_join_matches_plain_join(spark):
    from datawarehouse_backup_system_spark.operators.skew import salted_join

    # heavily skewed probe: one hot key with 500 rows
    probe = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(k, 0) for k in range(2, 10)],
        "k long, payload long",
    )
    build = spark.createDataFrame([(k, f"v{k}") for k in range(1, 6)], "k long, v string")
    plain = {(r["k"], r["payload"], r["v"]) for r in probe.join(build, "k").collect()}
    salted = {(r["k"], r["payload"], r["v"])
              for r in salted_join(probe, build, "k", salt=8).collect()}
    assert salted == plain and len(plain) == 504

    # left join preserves unmatched probe rows exactly once
    left_plain = probe.join(build, "k", "left").count()
    left_salted = salted_join(probe, build, "k", salt=8, how="left").count()
    assert left_plain == left_salted == 508


def test_scalar_cleaning_semantics(spark):
    df = spark.createDataFrame(
        [("nan", "123.0", "2024-03-05 10:30:00"),
         ("<NA>", "07500", "05/03/2024 12:40"),
         (" ok ", "abc.0.0", "31/31/2024")],
        "a string, b string, c string",
    )
    out = df.select(
        scrub_nulls(F.col("a")).alias("a"),
        strip_trailing_dot_zero(F.col("b")).alias("b"),
        parse_timestamp(F.col("c")).alias("c"),
    ).collect()
    assert out[0]["a"] is None and out[1]["a"] is None and out[2]["a"] == " ok "
    assert [r["b"] for r in out] == ["123", "07500", "abc.0"]
    assert out[0]["c"] is not None and out[1]["c"] is not None and out[2]["c"] is None


def test_row_hash_null_vs_empty_distinct(spark):
    df = spark.createDataFrame([(None, "x"), ("", "x")], "a string, b string")
    hashes = [r["row_hash"] for r in with_row_hash(df).collect()]
    assert hashes[0] != hashes[1]  # NULL and '' are different content


def test_sniffers(tmp_path):
    p = tmp_path / "semi.csv"
    p.write_text("a;b;c\n1;2;3\n", encoding="utf-8")
    assert detect_encoding(p) == "utf-8"
    assert detect_delimiter(p) == ";"
    p16 = tmp_path / "utf16.csv"
    p16.write_bytes("a,b\n1,2\n".encode("utf-16"))  # writes BOM
    assert detect_encoding(p16) in ("utf-16", "utf-16-le")
    assert detect_delimiter(p16, "utf-16") == ","


def test_zip_first_member(tmp_path):
    import zipfile

    z = tmp_path / "x.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("data.csv", "a,b\n1,2\n")
        zf.writestr("ignored.txt", "nope")
    out = extract_zip_first_member(z, tmp_path / "staging")
    assert out.name == "data.csv"
    assert out.read_text() == "a,b\n1,2\n"


def test_retention_policies(tmp_path):
    d = tmp_path / "uploads"
    d.mkdir()
    now = time.time()
    old, fresh = d / "old.csv", d / "fresh.csv"
    old.write_bytes(b"x" * 100)
    fresh.write_bytes(b"y" * 100)
    os.utime(old, (now - 10 * 86400, now - 10 * 86400))
    removed = retention.cleanup_old_files(d, max_age_days=7, now=now)
    assert removed == 1 and fresh.exists() and not old.exists()

    # size-capped eviction: oldest evicted first until <= 90% of cap
    for i in range(10):
        p = d / f"f{i}.bin"
        p.write_bytes(b"z" * 1000)
        os.utime(p, (now - (10 - i) * 3600, now - (10 - i) * 3600))
    removed = retention.check_storage_and_cleanup(d, max_bytes=5000, target_ratio=0.9)
    left = sorted(p.name for p in d.glob("f*.bin"))
    assert removed == 6  # 10100 bytes total incl fresh.csv -> keep <= 4500
    assert left == ["f6.bin", "f7.bin", "f8.bin", "f9.bin"]


def test_asof_join_directions_tolerance_and_ties(spark):
    """backward takes the most recent right at-or-before (inclusive at
    equal ts), forward the earliest at-or-after; tolerance nulls out
    matches beyond the gap; keys never cross."""
    from datawarehouse_backup_system_spark.operators.asof import asof_join

    right = spark.createDataFrame(
        [(1, 100, "a"), (1, 200, "b"), (2, 150, "c"), (1, None, "nullts")],
        "k long, rts long, tag string",
    ).select("k", F.timestamp_seconds("rts").alias("rts"), "tag")
    left = spark.createDataFrame(
        [(10, 1, 50), (11, 1, 100), (12, 1, 199), (13, 1, 5000), (14, 2, 149),
         (15, 3, 100), (16, 1, None)],
        "lid long, k long, lts long",
    ).select("lid", "k", F.timestamp_seconds("lts").alias("lts"))

    # NULL-timestamp rows (right 'nullts', left lid 16) must never match
    # in either direction — DuckDB ASOF / pandas merge_asof semantics
    back = {r["lid"]: r["tag_right"] for r in
            asof_join(left, right, ["k"], "lts", "rts", "backward").collect()}
    assert back == {10: None, 11: "a", 12: "a", 13: "b", 14: None, 15: None,
                    16: None}

    fwd = {r["lid"]: r["tag_right"] for r in
           asof_join(left, right, ["k"], "lts", "rts", "forward").collect()}
    assert fwd == {10: "a", 11: "a", 12: "b", 13: None, 14: "c", 15: None,
                   16: None}

    tol = {r["lid"]: r["tag_right"] for r in
           asof_join(left, right, ["k"], "lts", "rts", "backward",
                     tolerance_seconds=60).collect()}
    # lid 13 matched 'b' at gap 4800s > 60s -> nulled; lid 12 gap 99s -> nulled
    assert tol == {10: None, 11: "a", 12: None, 13: None, 14: None, 15: None,
                   16: None}


def test_range_join_buckets_match_naive_theta(spark):
    """Bucketed range join == the naive theta join on every (point,
    interval) pair: inclusive bounds, intervals spanning many buckets,
    overlapping intervals (a point matches both exactly once each), and
    no cross-key leakage."""
    from datawarehouse_backup_system_spark.operators.asof import range_join

    intervals = spark.createDataFrame(
        [(1, 100, 100, 200), (1, 101, 150, 10_000), (2, 102, 0, 50)],
        "k long, iid long, s long, e long",
    ).select("k", "iid",
             F.timestamp_seconds("s").alias("s"),
             F.timestamp_seconds("e").alias("e"))
    points = spark.createDataFrame(
        [(1, 10, 100), (1, 11, 200), (1, 12, 175), (1, 13, 9_999),
         (1, 14, 201000), (2, 15, 50), (3, 16, 100)],
        "k long, pid long, t long",
    ).select("k", "pid", F.timestamp_seconds("t").alias("t"))

    got = {(r["pid"], r["iid"]) for r in
           range_join(points, intervals, ["k"], "t", "s", "e",
                      bucket_seconds=60).collect()}
    naive = {(r["pid"], r["iid"]) for r in
             points.join(intervals, "k")
             .where((F.col("t") >= F.col("s")) & (F.col("t") <= F.col("e")))
             .collect()}
    assert got == naive
    assert got == {(10, 100), (11, 100), (11, 101), (12, 100), (12, 101),
                   (13, 101), (15, 102)}


def test_rollup_cascade_reaggregation_and_nulls(spark):
    """Coarser tiers derive from finer partials: counts include
    null-value rows, sums/mins/maxes ignore them (all-null bucket gives
    NULL sum), and non-nested resolution lists are rejected."""
    import pytest

    from datawarehouse_backup_system_spark.operators.rollup import rollup_cascade

    rows = [
        (30, 1.0), (90, 2.0), (3700, None), (3800, 5.0), (90000, 7.0),
    ]
    df = spark.createDataFrame(rows, "t long, v double").select(
        F.timestamp_seconds("t").alias("ts"),
        F.col("v"),
    )
    cents = F.floor(F.col("v") * 100 + 0.5).cast("bigint")
    tiers = rollup_cascade(df, "ts", cents)
    day = {r["bucket_s"]: r for r in tiers["day"].collect()}
    assert day[0]["n"] == 4 and day[0]["sum_v"] == 800
    assert day[0]["min_v"] == 100 and day[0]["max_v"] == 500
    assert day[86400]["n"] == 1 and day[86400]["sum_v"] == 700
    hour = {r["bucket_s"]: r for r in tiers["hour"].collect()}
    assert hour[0]["n"] == 2 and hour[3600]["n"] == 2 and hour[3600]["sum_v"] == 500

    with pytest.raises(ValueError):
        rollup_cascade(df, "ts", cents, resolutions=["hour", "minute"])
