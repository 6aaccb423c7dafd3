"""Unit tests for the behavioral-analytics / sampling / bloom / PQ
operators behind queries/analytics_ext.py."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from datawarehouse_backup_system_spark.operators import behavior, bloom
from datawarehouse_backup_system_spark.operators.quantize import (
    pq_adc_topk,
    pq_encode,
    pq_seed_codebook,
)
from datawarehouse_backup_system_spark.operators.sampling import weighted_sample


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute)


# --------------------------------------------------------------------------
# funnel
# --------------------------------------------------------------------------
def test_funnel_requires_order(spark):
    rows = [
        # u1 completes in order: view@1 click@2 purchase@3
        (1, _ts(1), "view"), (1, _ts(2), "click"), (1, _ts(3), "purchase"),
        # u2 purchased BEFORE viewing: purchase must not count
        (2, _ts(1), "purchase"), (2, _ts(2), "view"), (2, _ts(3), "click"),
        # u3 views only
        (3, _ts(1), "view"),
    ]
    df = spark.createDataFrame(rows, "user_id INT, ts TIMESTAMP, event_type STRING")
    per = behavior.funnel_steps(df, "user_id", "ts", "event_type", ["view", "click", "purchase"])
    got = {r["user_id"]: (r["step1_ts"], r["step2_ts"], r["step3_ts"])
           for r in per.collect()}
    assert got[1] == (_ts(1), _ts(2), _ts(3))
    assert got[2] == (_ts(2), _ts(3), None)  # out-of-order purchase ignored
    assert got[3] == (_ts(1), None, None)

    counts = behavior.funnel_counts(
        df, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    ).orderBy("step_index").collect()
    assert [r["n_entities"] for r in counts] == [3, 2, 1]


def test_funnel_strictly_after_ties(spark):
    # click at the SAME timestamp as view: strict > means not counted
    rows = [(1, _ts(1), "view"), (1, _ts(1), "click")]
    df = spark.createDataFrame(rows, "user_id INT, ts TIMESTAMP, event_type STRING")
    per = behavior.funnel_steps(df, "user_id", "ts", "event_type", ["view", "click"]).collect()
    assert per[0]["step2_ts"] is None


# --------------------------------------------------------------------------
# cohort retention
# --------------------------------------------------------------------------
def test_cohort_retention_offsets(spark):
    wk0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, wk0), (1, wk0 + dt.timedelta(days=8)),       # offsets 0, 1
        (2, wk0 + dt.timedelta(days=8)),                 # later cohort, offset 0
    ]
    df = spark.createDataFrame(rows, "user_id INT, ts TIMESTAMP")
    got = {(r["cohort_week"], r["week_offset"]): r["n_entities"]
           for r in behavior.cohort_retention(df, "user_id", "ts").collect()}
    cohorts = sorted({c for c, _ in got})
    assert len(cohorts) == 2 and cohorts[1] == cohorts[0] + 1
    assert got[(cohorts[0], 0)] == 1
    assert got[(cohorts[0], 1)] == 1
    assert got[(cohorts[1], 0)] == 1


# --------------------------------------------------------------------------
# transitions / anomaly
# --------------------------------------------------------------------------
def test_path_transitions_counts(spark):
    rows = [
        (1, _ts(1), 10, "a"), (1, _ts(2), 11, "b"), (1, _ts(3), 12, "a"),
        (2, _ts(1), 20, "a"), (2, _ts(2), 21, "b"),
    ]
    df = spark.createDataFrame(rows, "user_id INT, ts TIMESTAMP, event_id INT, event_type STRING")
    got = {(r["src_type"], r["dst_type"]): r["n"]
           for r in behavior.path_transitions(df, "user_id", "ts", "event_type", "event_id").collect()}
    assert got == {("a", "b"): 2, ("b", "a"): 1}


def test_rolling_anomaly_flags_spike(spark):
    # 40 steady values then one huge spike: only the spike flags
    rows = [("k", _ts(i), i, 100) for i in range(40)] + [("k", _ts(40), 40, 100000)]
    df = spark.createDataFrame(rows, "key STRING, ts TIMESTAMP, event_id INT, cents LONG")
    out = behavior.rolling_anomaly_flags(
        df, "key", "ts", "cents", "event_id", lookback=100, min_n=30
    ).collect()
    assert [r["event_id"] for r in out] == [40]


def test_rolling_anomaly_flags_survive_large_cents(spark):
    """$1M-scale cent values: n·ssq ~ 1e20 overflows int64; the
    DECIMAL(38,0) products must still flag exactly the spike
    (review r8 — raw bigint wrapped and emitted false flags)."""
    base = 100_000_000  # 1e8 cents = $1M
    rows = [("k", _ts(i), i, base + i) for i in range(40)] + [
        ("k", _ts(40), 40, base * 50)
    ]
    df = spark.createDataFrame(
        rows, "key STRING, ts TIMESTAMP, event_id INT, cents LONG"
    )
    out = behavior.rolling_anomaly_flags(
        df, "key", "ts", "cents", "event_id", lookback=100, min_n=30
    ).collect()
    assert [r["event_id"] for r in out] == [40]


# --------------------------------------------------------------------------
# weighted sampling
# --------------------------------------------------------------------------
def test_weighted_sample_exact_probabilities(spark):
    df = spark.range(2000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 800).alias("w")
    )
    out = weighted_sample(df, "doc_id", "w", scale=400)
    rows = out.collect()
    # weight 0 rows can never be sampled; weight >= scale always are
    assert all(r["w"] > 0 for r in rows)
    n_saturated = df.where(F.col("w") >= 400).count()
    got_saturated = sum(1 for r in rows if r["w"] >= 400)
    assert got_saturated == n_saturated
    # p_num/p_den is the exact inclusion probability
    assert all(r["p_num"] == min(r["w"], 400) and r["p_den"] == 400 for r in rows)
    # deterministic across invocations
    again = {r["doc_id"] for r in weighted_sample(df, "doc_id", "w", scale=400).collect()}
    assert again == {r["doc_id"] for r in rows}


# --------------------------------------------------------------------------
# bloom
# --------------------------------------------------------------------------
def test_bloom_semi_join_exact_even_with_tiny_filter(spark):
    fact = spark.range(2000).select(F.col("id").alias("k"))
    dim = spark.range(0, 2000, 13).select(F.col("id").alias("dk"))
    expect = {r["k"] for r in
              fact.join(dim, fact.k == dim.dk, "left_semi").collect()}
    # a deliberately undersized filter (64 bits for ~154 keys) is almost
    # all false positives — the closing semi-join must still be exact
    got = {r["k"] for r in
           bloom.bloom_semi_join(fact, "k", dim, "dk", n_bits=64, n_hashes=2).collect()}
    assert got == expect
    # and a properly sized filter gives the same answer
    got2 = {r["k"] for r in
            bloom.bloom_semi_join(fact, "k", dim, "dk", n_bits=1 << 14).collect()}
    assert got2 == expect


def test_bloom_no_false_negatives(spark):
    dim = spark.range(500).select(F.col("id").alias("k"))
    words = bloom.build_bloom_words(dim, "k", n_bits=1 << 13, n_hashes=5)
    kept = spark.range(500).where(
        bloom.might_contain(F.col("id"), words, 1 << 13, 5)
    ).count()
    assert kept == 500  # every inserted key must test positive


# --------------------------------------------------------------------------
# product quantization
# --------------------------------------------------------------------------
def test_pq_encode_shape_and_determinism(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = pq_seed_codebook(emb, "vec_id", "embedding", m=8, k=16)
    assert cb.count() == 8 * 16
    codes = pq_encode(emb, "vec_id", "embedding", cb, m=8)
    n_vec = emb.count()
    assert codes.count() == n_vec * 8
    rng = codes.agg(F.min("code"), F.max("code")).collect()[0]
    assert rng[0] >= 0 and rng[1] <= 15
    # codebook rows are deterministic (hash-ordered seeds)
    cb2 = pq_seed_codebook(emb, "vec_id", "embedding", m=8, k=16)
    assert sorted(map(tuple, cb.collect())) == sorted(map(tuple, cb2.collect()))


def test_pq_encode_pandas_parity(spark, sf_dir):
    """The Arrow/numpy encode must be BIT-identical to the expression
    path (same codes, same integer distances) — it batches rows, it
    never re-associates sums."""
    from datawarehouse_backup_system_spark.operators.quantize import pq_encode_pandas

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = pq_seed_codebook(emb, "vec_id", "embedding", m=8, k=16)
    a = pq_encode(emb, "vec_id", "embedding", cb, m=8).collect()
    b = pq_encode_pandas(emb, "vec_id", "embedding", cb, m=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pq_adc_recall_floor(spark, sf_dir):
    from datawarehouse_backup_system_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 100 == 0)
    cb = pq_seed_codebook(emb, "vec_id", "embedding", m=8, k=16)
    codes = pq_encode(emb, "vec_id", "embedding", cb, m=8)
    approx = pq_adc_topk(
        codes, "vec_id", q, "vec_id", "embedding", cb, m=8, k=3,
        rerank=100, corpus=emb,
    )
    exact = brute_force_topk(emb, q, k=3)
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "inner")
        .count()
    )
    total = exact.count()
    assert total > 0
    # shortlist+exact-rerank (the deployed PQ form); seed codebooks on
    # weakly-clustered embeddings shortlist imperfectly — the floor
    # asserts the machinery concentrates neighbors, not SOTA recall
    assert hits / total >= 0.4


def test_pq_adc_dim_guard_all_rows(spark, sf_dir):
    """ADVICE r7: the dim guard probed only the FIRST query row; a
    LATER row with a vector length not divisible by m sailed through to
    all-NULL adc_micros and k arbitrary "nearest" ids. The guard must
    validate every row."""
    import pytest

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = pq_seed_codebook(emb, "vec_id", "embedding", m=8, k=16)
    codes = pq_encode(emb, "vec_id", "embedding", cb, m=8)
    good = emb.where(F.col("vec_id") % 100 == 0).select("vec_id", "embedding")
    # first row valid, a LATER row truncated to a non-divisible length
    bad_tail = good.limit(1).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.slice("embedding", 1, 13).alias("embedding"),
    )
    mixed = good.unionByName(bad_tail)
    # r9: the guard now names the exact expected dimension (it also
    # catches NULLs and divisible-but-wrong lengths — test_review_r9)
    with pytest.raises(ValueError, match="not 64-dimensional"):
        pq_adc_topk(codes, "vec_id", mixed, "vec_id", "embedding", cb, m=8, k=3)


def test_pair_support_exact_counts_and_lift(spark):
    """pair_support on a hand-built basket set: support counts the
    baskets containing BOTH items, per-item counts and lift follow the
    textbook definitions, ordering is canonical (item_a < item_b), and
    duplicate rows inside a basket never double-count."""
    from datawarehouse_backup_system_spark.operators.behavior import (
        pair_support,
    )

    rows = [
        # basket 1: a, b, c   (plus a duplicate 'a' row — must not count)
        (1, "a"), (1, "a"), (1, "b"), (1, "c"),
        # basket 2: a, b
        (2, "a"), (2, "b"),
        # basket 3: b, c
        (3, "b"), (3, "c"),
        # basket 4: a alone (contributes to n_a and the total only)
        (4, "a"),
    ]
    df = spark.createDataFrame(rows, "bk bigint, item string")
    got = {
        (r["item_a"], r["item_b"]): (r["support"], r["n_a"], r["n_b"],
                                     r["lift_milli"])
        for r in pair_support(df, ["bk"], "item").collect()
    }
    # n_baskets=4, n_a=3, n_b=3, n_c=2
    assert got[("a", "b")] == (2, 3, 3, 2 * 4 * 1000 // 9)
    assert got[("a", "c")] == (1, 3, 2, 1 * 4 * 1000 // 6)
    assert got[("b", "c")] == (2, 3, 2, 2 * 4 * 1000 // 6)
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}

    # min_support prunes below-threshold pairs
    assert {
        (r["item_a"], r["item_b"])
        for r in pair_support(df, ["bk"], "item", min_support=2).collect()
    } == {("a", "b"), ("b", "c")}


def test_pair_support_shard_mergeable(spark):
    """The 100 TB maintenance story for a08: when batches split on
    basket boundaries, per-batch pair supports (and item counts and
    basket totals) are monoids — summing the shard outputs equals the
    full recompute, so the co-occurrence table maintains incrementally
    like the u06 views (no history rescan)."""
    import random

    from datawarehouse_backup_system_spark.operators.behavior import (
        pair_support,
    )

    rng = random.Random(11)
    rows = [
        (bk, rng.choice("abcde"))
        for bk in range(40)
        for _ in range(rng.randrange(1, 6))
    ]
    df = spark.createDataFrame(rows, "bk bigint, item string")
    shard_a = df.where("bk < 20")
    shard_b = df.where("bk >= 20")

    full = {
        (r["item_a"], r["item_b"]): r["support"]
        for r in pair_support(df, ["bk"], "item").collect()
    }
    merged: dict = {}
    for shard in (shard_a, shard_b):
        for r in pair_support(shard, ["bk"], "item").collect():
            k = (r["item_a"], r["item_b"])
            merged[k] = merged.get(k, 0) + r["support"]
    assert merged == full


def test_pair_support_hot_basket_cap(spark):
    """VERDICT r7 item 3: a planted mega-basket (one bot user touching
    hundreds of distinct items) must not explode into C(k,2) pairs —
    with ``max_basket_size`` its pair contribution is bounded at
    C(cap,2), normal baskets are untouched, the keep rule is
    deterministic, and lift denominators stay exact."""
    from datawarehouse_backup_system_spark.operators.behavior import (
        pair_support,
    )

    mega = [(999, f"it{i:04d}") for i in range(400)]  # C(400,2)=79800
    normal = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "b")]
    df = spark.createDataFrame(
        normal + mega, "bk bigint, item string"
    ).repartition(8)

    cap = 10
    got = pair_support(df, ["bk"], "item", max_basket_size=cap)
    rows = got.collect()
    # bounded: mega contributes at most C(10,2)=45 pairs, not 79800
    mega_pairs = [r for r in rows if r["item_a"].startswith("it")]
    assert len(mega_pairs) == cap * (cap - 1) // 2
    # normal baskets untouched, and denominators stay EXACT (n_baskets
    # still counts the mega basket; n_a/n_b unaffected by the cap)
    ab = next(r for r in rows if (r["item_a"], r["item_b"]) == ("a", "b"))
    assert ab["support"] == 2 and ab["n_a"] == 2 and ab["n_b"] == 3
    assert ab["lift_milli"] == 2 * 4 * 1000 // (2 * 3)

    # deterministic keep rule: same result under a different partitioning
    again = pair_support(
        df.repartition(3, "item"), ["bk"], "item", max_basket_size=cap
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
