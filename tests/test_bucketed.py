"""Bucketed-table co-located joins: the write-once/shuffle-never path."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from datawarehouse_backup_system_spark.operators import bucketed


@pytest.fixture()
def no_broadcast(spark):
    """Force SortMergeJoin so the Exchange-elision claim is actually
    tested (broadcast joins have no exchange trivially)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_exchange_and_matches_plain_join(
    spark, tmp_path, no_broadcast
):
    tag = uuid.uuid4().hex[:8]
    lt, rt = f"orders_b_{tag}", f"cust_b_{tag}"
    orders = spark.range(0, 1000).select(
        F.col("id").alias("o_id"),
        (F.col("id") % 100).alias("cust_id"),
        (F.col("id") * 7 % 1000).alias("cents"),
    )
    cust = spark.range(0, 100).select(
        F.col("id").alias("cust_id"),
        F.concat(F.lit("c"), F.col("id")).alias("name"),
    )
    try:
        bucketed.write_bucketed(
            orders, lt, ["cust_id"], 8, sort_cols=["cust_id"],
            path=str(tmp_path / "orders"),
        )
        bucketed.write_bucketed(
            cust, rt, ["cust_id"], 8, sort_cols=["cust_id"],
            path=str(tmp_path / "cust"),
        )
        joined = spark.table(lt).join(spark.table(rt), ["cust_id"])
        plan = bucketed.assert_no_exchange(joined)
        assert "SortMergeJoin" in plan
        # value parity with the plain shuffle join
        expected = sorted(
            map(tuple, orders.join(cust, "cust_id").collect())
        )
        got = sorted(map(tuple, joined.select(*orders.join(cust, "cust_id").columns).collect()))
        assert got == expected
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {lt}")
        spark.sql(f"DROP TABLE IF EXISTS {rt}")


def test_mismatched_bucket_counts_still_correct(spark, tmp_path, no_broadcast):
    """Different bucket counts: Spark may re-shuffle one side; results
    must stay correct regardless (the guard is assert_no_exchange raising,
    not silent wrongness)."""
    tag = uuid.uuid4().hex[:8]
    lt, rt = f"l_{tag}", f"r_{tag}"
    a = spark.range(0, 200).select(F.col("id").alias("k"), F.col("id").alias("va"))
    b = spark.range(0, 200).select(F.col("id").alias("k"), (F.col("id") * 2).alias("vb"))
    try:
        bucketed.write_bucketed(a, lt, ["k"], 8, path=str(tmp_path / "a"))
        bucketed.write_bucketed(b, rt, ["k"], 4, path=str(tmp_path / "b"))
        joined = spark.table(lt).join(spark.table(rt), ["k"])
        assert joined.count() == 200
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {lt}")
        spark.sql(f"DROP TABLE IF EXISTS {rt}")


def test_bucketed_history_antijoin_never_shuffles_history(
    spark, tmp_path, no_broadcast
):
    """The reference's J2 cross-file dedup at 100 TB: history bucketed on
    row_hash means each new batch anti-joins WITHOUT re-shuffling the
    (huge) history side — only the small batch side gets an Exchange."""
    tag = uuid.uuid4().hex[:8]
    ht = f"hist_{tag}"
    history = spark.range(0, 10_000).select(
        F.md5(F.col("id").cast("string")).alias("row_hash"),
        F.col("id").alias("payload"),
    )
    try:
        bucketed.write_bucketed(
            history, ht, ["row_hash"], 8, sort_cols=["row_hash"],
            path=str(tmp_path / "hist"),
        )
        batch = spark.range(5_000, 15_000).select(
            F.md5(F.col("id").cast("string")).alias("row_hash"),
            F.col("id").alias("payload"),
        )
        fresh = batch.join(
            spark.table(ht).select("row_hash"), "row_hash", "left_anti"
        )
        plan = fresh._jdf.queryExecution().executedPlan().toString()
        # exactly one Exchange: the batch side aligning to the history
        # bucketing; the history scan itself must not re-shuffle
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert fresh.count() == 5_000  # ids 10k..15k are genuinely new
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ht}")
