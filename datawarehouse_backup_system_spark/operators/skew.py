"""Skew mitigation: salted joins for hot keys.

AQE's skew-join handles most runtime skew (enabled in session.py); this
module is the explicit variant for when the hot keys are KNOWN or when a
deterministic plan is required (e.g. AQE disabled, or stream-static joins
where AQE can't re-plan):

- ``salted_join`` — replicate the (small) build side ``salt`` ways and
  scatter the probe side's hot keys across the replicas, so one hot key
  fans out over ``salt`` tasks instead of one straggler.

The salt is derived from a hash of probe-row content (not rand()), so
plans stay deterministic and re-executable (spot-instance retries,
speculative execution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``probe ⋈ build`` on ``on`` with an ``salt``-way salted
    key, eliminating stragglers when some join keys are hot.

    ``build`` is replicated ``salt`` times (explode) — use the SMALLER
    side there. The probe's salt comes from a deterministic hash of
    every probe column MIXED with the scan partition id, spreading a hot
    key's rows uniformly over the replicas. The partition-id term
    matters when the hot key's rows are content-IDENTICAL (dedup/log
    workloads, or a probe projected down to just the join key): a pure
    content hash is then one constant and the whole hot key still lands
    on a single task. spark_partition_id is stable under task retry and
    speculative execution (unlike rand()), which is the determinism the
    docstring promises; the salt only ROUTES rows, so join output is
    identical either way. Residual: identical rows inside ONE scan
    partition still co-route — at that point they are already in the
    same task's input and salting cannot separate what one task reads.

    Supported ``how``: inner / left joins (semantics preserved because
    each probe row matches exactly one replica of each build row).
    """
    if salt < 1:
        raise ValueError("salt must be >= 1")
    if how not in ("inner", "left", "left_outer", "leftouter"):
        # right/full/semi/anti against a salt-replicated build side return
        # duplicated or inverted results — refuse instead of corrupting
        raise ValueError(f"salted_join supports inner/left joins, got {how!r}")
    if "_salt" in probe.columns or "_salt" in build.columns:
        # withColumn would silently OVERWRITE (probe) or the join key
        # would collide (build), then drop('_salt') destroys the
        # caller's column in the output (review r11) — refuse loudly
        raise ValueError(
            "salted_join reserves the column name '_salt'; rename it "
            "on the input frames"
        )
    # hash the columns DIRECTLY: F.hash accepts any data type and keeps
    # rows that differ only in NULL pattern apart, where concat_ws
    # fails at analysis on map/struct columns, builds a row-wide string
    # per row and skips NULLs (routing-only; join output is identical)
    srcs = [F.col(c) for c in probe.columns]
    probe_s = probe.withColumn(
        "_salt", F.pmod(F.hash(*srcs, F.spark_partition_id()), F.lit(salt))
    )
    build_s = build.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = probe_s.join(build_s, [on, "_salt"], how)
    return out.drop("_salt")


def fan_out_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a NARROW projected frame to the session's
    default parallelism — only when its current partition count is
    below it (partition-SHAPE skew: all the work in one task).

    The local/test trap this closes: a few-MB single-row-group parquet
    scan plans ONE input partition, so CPU-heavy map work downstream
    (per-row hashing, n-gram explosion, regex normalization) runs
    single-threaded until the first shuffle. A corpus-scale input
    already carries thousands of scan partitions and skips the shuffle
    entirely — the word_shingles conditional-repartition rule (review
    r10: the UNCONDITIONAL variant was the scale killer — a full-corpus
    re-shuffle that also COLLAPSED partition count at 100 TB).

    Call it on the PROJECTED frame (ids + just the columns the
    expansion reads), never the raw source row, so the added local
    shuffle moves the minimum.

    Adaptive-plan guard (r11 session review): on an exchange-bearing
    frame Catalyst wraps the plan in AdaptiveSparkPlanExec, whose
    ``.rdd`` EXECUTES every upstream query stage eagerly just to
    answer getNumPartitions (measured: a 2M-row groupBy ran its whole
    shuffle map side inside the probe) — and then reports the
    post-AQE-coalesce count, which would trigger a second, pointless
    repartition of work AQE already sized. Such a frame is post-shuffle
    and already carries full parallelism, so the right move is to
    return it untouched. Exchange-free plans are never wrapped
    adaptive, so for them getNumPartitions stays the pure plan-metadata
    probe this helper assumes; exotic un-RDD-able plans keep the safe
    unshuffled path.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        ep = df._jdf.queryExecution().executedPlan()
        if "AdaptiveSparkPlan" in ep.getClass().getSimpleName():
            return df
        cur = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — exotic plans: keep the safe path
        return df
    return df.repartition(target) if cur < target else df
