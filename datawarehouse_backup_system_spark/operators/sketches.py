"""Bounded-memory frequency sketches (Misra-Gries, Count-Min).

The distributed frequent-items primitive: exact top-k over a 100 TB
token stream needs a full (kind, term) aggregation whose distinct-key
count is the vocabulary — fine for words, hopeless for n-grams/URLs at
high orders. The Misra-Gries summary (public algorithm, 1982; the
"spacesaving"-family guarantee) keeps ``capacity`` counters per
partition and merges associatively, giving:

- every item with true frequency  > n / (capacity+1) is RETAINED;
- each reported count is an UNDERESTIMATE by at most the summary's
  decrement total (reported as ``max_undercount``).

Scale shape: one ``mapInPandas`` pass builds a per-partition summary
(bounded ``capacity`` rows out per partition — the map-side combine),
one small groupBy merges them, and a final bounded prune applies the
merged decrement. The corpus is read once and never shuffled; only
summaries (partitions × capacity rows) move.

When ``capacity`` ≥ the true distinct count nothing is ever evicted
and the sketch is EXACT — the regime query t17 pins against the DuckDB
oracle; the bounded regime's guarantees are property-tested.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _mg_partition(items, capacity: int) -> dict:
    """Classic Misra-Gries over an iterable of items."""
    counters: dict = {}
    for it in items:
        if it in counters:
            counters[it] += 1
        elif len(counters) < capacity:
            counters[it] = 1
        else:
            dead = []
            for k in counters:
                counters[k] -= 1
                if counters[k] == 0:
                    dead.append(k)
            for k in dead:
                del counters[k]
    return counters


def heavy_hitters(
    df: DataFrame, col: str, capacity: int = 1024, min_count: int = 1
) -> DataFrame:
    """Approximate frequent items of ``df[col]``.

    Output: (item, est_count) — ``est_count`` is a lower bound on the
    true frequency; any item with true frequency > n/(capacity+1)
    survives. NULLs are ignored (no frequency semantics).
    """
    import pandas as pd

    if capacity < 1:
        raise ValueError("capacity must be >= 1")

    def summarize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        def values():
            for pdf in batches:
                yield from pdf[col].dropna()

        counters = _mg_partition(values(), capacity)
        yield pd.DataFrame(
            {"item": list(counters), "cnt": list(counters.values())}
        )

    # cast to string BEFORE the Pandas stage: the output schema declares
    # `item string`, and Arrow raises on an int64 pandas column against
    # it — a LongType item_col would crash the whole stage (the same
    # cast-first discipline as kmv_sketch/_km_halves)
    summaries = df.select(F.col(col).cast("string").alias(col)).mapInPandas(
        summarize, schema="item string, cnt long"
    )
    # associative merge: summed summaries overcount nothing (each is an
    # underestimate); the merged summary is itself an MG summary of the
    # whole stream with the same retention guarantee
    merged = summaries.groupBy("item").agg(F.sum("cnt").alias("est_count"))
    return merged.where(F.col("est_count") >= min_count)


def _km_halves(col):
    """(h1, h2) 56-bit halves of md5(col) for Kirsch-Mitzenmacher hash
    families — identical derivation to dedup_approx.minhash_signature,
    portable to DuckDB as ``('0x' || substr(md5(x), 1, 14))::BIGINT``."""
    h = F.md5(F.col(col).cast("string"))
    return (
        F.conv(F.substring(h, 1, 14), 16, 10).cast("bigint"),
        F.conv(F.substring(h, 15, 14), 16, 10).cast("bigint"),
    )


def cms_build(
    df: DataFrame, col: str, depth: int = 4, width: int = 512
) -> DataFrame:
    """Count-Min Sketch of ``df[col]``: (d, bucket, cnt), ≤ depth×width rows.

    Row d's hash is the Kirsch-Mitzenmacher combination
    ``(h1 + d·h2) mod width`` of ONE md5 per item — one digest feeds all
    depth rows, and the d-way fan-out is integer multiply-add that
    whole-stage codegen folds into the aggregate. Standard CMS bounds
    (Cormode–Muthukrishnan, 2005): estimates only OVERcount, and with
    depth = ⌈ln 1/δ⌉, width = ⌈e/ε⌉ the overcount is ≤ εN with
    probability 1−δ.

    Scale shape: explode×depth then ONE (d, bucket) aggregation with
    map-side partial combine — each executor emits at most depth×width
    partial rows regardless of input size, so the shuffle is bounded by
    the sketch size, not the corpus. The result broadcasts (depth×width
    rows) for estimation joins; summing two sketches built with the same
    (depth, width) merges streams exactly (the estimate of the union).
    NULL items carry no frequency semantics and are dropped.
    """
    # ValueError, not assert (review r10: asserts vanish under -O;
    # depth=200 then wraps d*h2 past int64 and width=0 sends every row
    # to a NULL pmod bucket that estimation joins never match)
    if not 1 <= depth <= 127:
        raise ValueError("cms depth must be in [1, 127] (d*2^56 in int64)")
    if width < 1:
        raise ValueError("cms width must be >= 1")
    h1, h2 = _km_halves(col)
    staged = df.where(F.col(col).isNotNull()).select(
        h1.alias("_h1"), h2.alias("_h2")
    )
    # posexplode keeps the hash-row index d alongside the bucket
    rows = staged.select(
        F.posexplode(
            F.array(*[
                F.pmod(F.col("_h1") + F.lit(d) * F.col("_h2"), F.lit(width))
                for d in range(depth)
            ])
        ).alias("d", "bucket")
    )
    return rows.groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    items: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Point-query the sketch for every row of ``items[col]``.

    Output: (item, est_count). est = MIN over the depth rows of the
    bucket counters — ≥ the true frequency always (CMS never
    undercounts), with the (ε, δ) overcount bound from ``cms_build``.
    The sketch side is ≤ depth×width rows and is BROADCAST, so
    estimation is a map-side join: no shuffle of the item stream beyond
    the final per-item min aggregation (which partial-combines).
    """
    h1, h2 = _km_halves(col)
    probes = items.where(F.col(col).isNotNull()).select(
        F.col(col).alias("item"),
        F.posexplode(
            F.array(*[
                F.pmod(h1 + F.lit(d) * h2, F.lit(width)) for d in range(depth)
            ])
        ).alias("d", "bucket"),
    )
    joined = probes.join(F.broadcast(sketch), ["d", "bucket"], "left")
    return joined.groupBy("item").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count")
    )


def hll_rollup(
    df: DataFrame,
    key_cols: list[str],
    item_col: str,
    fine_cols: list[str],
    lg_config_k: int = 12,
) -> DataFrame:
    """Mergeable distinct-count rollup via serialized HLL sketches
    (Apache DataSketches HllSketch — public Spark 3.5+ surface).

    Builds one sketch per (key, fine) group — e.g. per (event_type, day)
    — then UNIONS the sketches up to the key level and estimates. The
    point at 100 TB: the fine-grain sketch table is the persisted
    artifact (a few KB per group); any coarser distinct-count rollup —
    weekly, monthly, all-time, cross-key — is a union over sketches and
    NEVER re-reads the raw data. ``approx_count_distinct`` gives the
    same estimate quality but evaporates at query end; this is the
    incremental form (the same partial-vs-rollup split as
    rollup.rollup_cascade, but for DISTINCT, which plain counts cannot
    re-aggregate).

    Output: key_cols + (distinct_est long). Estimates are
    DataSketches-deterministic for a given input multiset (register
    merge is max-based, partition-order independent).
    """
    fine = df.groupBy(*key_cols, *fine_cols).agg(
        F.hll_sketch_agg(item_col, F.lit(lg_config_k)).alias("_sk")
    )
    return fine.groupBy(*key_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("_sk"))).alias("distinct_est")
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values / bottom-k) distinct sketches with SET
# OPERATIONS — the capability HLL lacks: two groups' sketches support
# union AND intersection cardinality estimates (Beyer et al., "On
# synopses for distinct-value estimation under multiset operations").
# Deterministic md5-prefix hashing (hashing.md5_prefix_long) keeps the
# sketch retry-stable, mergeable (union = keep k smallest of the
# union, exactly bottomk_sample's merge law), and bit-replayable by
# the DuckDB oracle.
# ---------------------------------------------------------------------------
_KMV_SPACE = 1 << 56  # md5_prefix_long hashes are uniform in [0, 2^56)


def kmv_sketch(df: DataFrame, group_col: str, key_col: str,
               k: int) -> DataFrame:
    """Per-group bottom-k DISTINCT-hash sketch: (group, h, rn) with the
    k smallest 56-bit hashes of distinct keys. One shuffle on the
    group; mergeable across shards/batches by union + re-take-k."""
    from .hashing import md5_prefix_long

    # NULL keys are dropped (review r10): md5(NULL) -> h=NULL, which
    # sorts NULLS FIRST on Spark and permanently occupies a bottom-k
    # slot (and NULLS LAST in the DuckDB replay — a cross-engine trap),
    # corrupting tau/n_common/est_union. Matches heavy_hitters/cms.
    hashed = (
        df.where(F.col(key_col).isNotNull())
        .select(F.col(group_col).alias("g"),
                md5_prefix_long(F.col(key_col).cast("string")).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("g").orderBy("h")
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )


def kmv_pair_overlap(sketch: DataFrame, k: int) -> DataFrame:
    """Distinct-count UNION and INTERSECTION estimates for every group
    pair from their bottom-k sketches (pure integer arithmetic, no
    floats): combine the two sketches, keep the k smallest distinct
    hashes, tau = the largest kept hash; if the union saturates k,
    est_union = (k-1)·2^56 div tau and est_inter = n_common·est_union
    div k, else the kept set IS the exact union. The pair table is
    O(groups²·k) — sketch-sized, never data-sized."""
    if not 1 <= k <= 128:
        raise ValueError(
            "kmv k must be in [1, 128] ((k-1)*2^56 must fit int64)"
        )
    groups = sketch.select("g").distinct()
    pairs = (
        groups.alias("x")
        .join(groups.alias("y"), F.col("x.g") < F.col("y.g"))
        .select(F.col("x.g").alias("ta"), F.col("y.g").alias("tb"))
    )
    sk = sketch.select("g", "h")
    # two hash equi-joins unioned, never the disjunction join: Spark
    # cannot plan `(g==ta) | (g==tb)` as an equi-join and falls back to
    # a nested-loop of pairs×sketch (~groups²·k predicate evaluations);
    # each side matches exactly one alias since ta < tb (review r8)
    mem = (
        pairs.join(sk, F.col("g") == F.col("ta"))
        .unionByName(pairs.join(sk, F.col("g") == F.col("tb")))
        .groupBy("ta", "tb", "h")
        .agg(
            F.max(F.when(F.col("g") == F.col("ta"), 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("g") == F.col("tb"), 1).otherwise(0)).alias("in_b"),
        )
    )
    wp = Window.partitionBy("ta", "tb").orderBy("h")
    wall = Window.partitionBy("ta", "tb")
    ranked = (
        mem.withColumn("rn", F.row_number().over(wp))
        .withColumn("n_union", F.count(F.lit(1)).over(wall))
    )
    agg = ranked.groupBy("ta", "tb").agg(
        F.max(
            F.when(F.col("rn") == F.least(F.lit(k), F.col("n_union")),
                   F.col("h"))
        ).alias("tau"),
        F.sum(
            F.when((F.col("rn") <= k) & (F.col("in_a") == 1)
                   & (F.col("in_b") == 1), 1).otherwise(0)
        ).cast("bigint").alias("n_common"),
        F.max("n_union").alias("n_union"),
    )
    # integer `div`, never float division (queries/base.py exactness
    # recipe): (k-1)·2^56 fits int64 for k ≤ 128
    scaled = (k - 1) * _KMV_SPACE
    est_union = F.when(
        F.col("n_union") >= k, F.expr(f"{scaled}L div tau")
    ).otherwise(F.col("n_union")).cast("bigint")
    return agg.withColumn("est_union", est_union).select(
        F.col("ta").alias("type_a"), F.col("tb").alias("type_b"),
        "tau", "n_common", "est_union",
        F.when(F.col("n_union") >= k,
               # decimal-promoted (review r10): est_union can reach
               # (k-1)*2^56 when tau is tiny, so n_common*est_union
               # wraps int64 already at n_common=2; the quotient /k
               # always fits bigint
               F.expr(
                   f"cast((cast(n_common as decimal(38,0)) * est_union)"
                   f" div {k} as bigint)"
               ))
        .otherwise(F.col("n_common")).cast("bigint").alias("est_inter"),
    )
