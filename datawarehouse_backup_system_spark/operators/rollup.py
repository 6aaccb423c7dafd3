"""Hypertable-style rollup cascade: multi-resolution time-bucket
aggregates where each coarser tier RE-AGGREGATES the finer tier's
partials instead of rescanning raw data.

The continuous-aggregate pattern (TimescaleDB hypertables, Druid
rollup): keep (count, sum, min, max) per fine bucket — all of them
re-aggregable — and derive hour from minute, day from hour. At 100 TB
the raw table is touched ONCE for the finest tier; every coarser tier
aggregates the previous tier's output, which is orders of magnitude
smaller (minute tier ≈ #keys × minutes, not #events). Incremental
maintenance falls out: recompute only the fine buckets a late event
lands in, then re-roll just those buckets upward.

Averages are derived (`sum/n`) rather than stored — means are not
re-aggregable, partial sums are.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: resolution name → bucket width in seconds, finest first
RESOLUTIONS: dict[str, int] = {"minute": 60, "hour": 3600, "day": 86400}


def _bucket_s(ts: Column, step: int) -> Column:
    """Bucket start as epoch seconds (BIGINT — portable across engines)."""
    return (F.floor(F.unix_micros(ts) / (step * 1_000_000)) * step).cast("bigint")


def rollup_cascade(
    df: DataFrame,
    ts_col: str,
    value_col: Column,
    key_cols: list[str] | None = None,
    resolutions: list[str] | None = None,
    persist: bool = False,
) -> dict[str, DataFrame]:
    """Per-resolution aggregates ``(bucket_s, *keys, n, sum_v, min_v,
    max_v)``; ``value_col`` should already be an exact-integer expression
    (e.g. cents) so sums are engine-portable. Only the finest tier reads
    ``df``; coarser tiers re-aggregate the finer tier.

    ``persist=True`` caches each tier before deriving the next — needed
    when multiple tiers feed ONE downstream plan (Spark recomputes
    shared lazy subtrees per consumer, which would re-scan raw data once
    per tier). In the usual deployment each tier is WRITTEN before the
    next reads it, which materializes the cascade for free."""
    keys = list(key_cols or [])
    # loud failure on reserved output/internal names (the asof_join /
    # weighted_reservoir rule — review r9: key_cols=['n'] produced two
    # 'n' columns and an AMBIGUOUS_REFERENCE deep in the cascade)
    clash = {"bucket_s", "n", "sum_v", "min_v", "max_v", "_v"} & set(keys)
    if clash:
        raise ValueError(
            f"key_cols {sorted(clash)} are reserved by rollup_cascade — "
            "rename them on the input first"
        )
    res = list(resolutions or RESOLUTIONS)
    steps = [RESOLUTIONS[r] for r in res]
    if steps != sorted(steps) or any(
        b % a for a, b in zip(steps, steps[1:])
    ):
        raise ValueError("resolutions must be increasing and evenly nested")

    finest = (
        df.select(
            _bucket_s(F.col(ts_col), steps[0]).alias("bucket_s"),
            *keys,
            value_col.alias("_v"),
        )
        .groupBy("bucket_s", *keys)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("_v").cast("bigint").alias("sum_v"),
            F.min("_v").cast("bigint").alias("min_v"),
            F.max("_v").cast("bigint").alias("max_v"),
        )
    )
    if persist:
        finest = finest.persist()
    out = {res[0]: finest}
    prev = finest
    for name, step in zip(res[1:], steps[1:]):
        prev = (
            prev.select(
                ((F.floor(F.col("bucket_s") / step)) * step).cast("bigint").alias("bucket_s"),
                *keys, "n", "sum_v", "min_v", "max_v",
            )
            .groupBy("bucket_s", *keys)
            .agg(
                F.sum("n").cast("bigint").alias("n"),
                F.sum("sum_v").cast("bigint").alias("sum_v"),
                F.min("min_v").cast("bigint").alias("min_v"),
                F.max("max_v").cast("bigint").alias("max_v"),
            )
        )
        if persist:
            prev = prev.persist()
        out[name] = prev
    return out
