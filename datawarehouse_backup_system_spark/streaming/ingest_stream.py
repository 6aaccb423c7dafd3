"""Structured Streaming operators: the streaming analog of the batch
dedup (SURVEY §7 step 6 — no reference counterpart; the reference's
daily daemon loop, main.py:417-424, is the degenerate batch case).

- **stream_source** — file-based streaming scan (the landing-zone
  directory IS the stream; at scale this is Kafka/queue, same plan).
- **streaming_dedup** — `dropDuplicatesWithinWatermark` on the content
  hash: the streaming J1/J2 (state is bounded by the watermark horizon,
  which is what makes dedup feasible on an unbounded stream).
- **watermark_dedup_batch** — the deterministic batch replay of
  streaming_dedup's state semantics (the ``s01`` contract query), pinned
  against the live stream in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datawarehouse_backup_system_spark.operators.hashing import with_row_hash

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def stream_source(
    spark: SparkSession, path: str, schema: T.StructType = EVENT_SCHEMA, fmt: str = "parquet"
) -> DataFrame:
    return spark.readStream.format(fmt).schema(schema).load(path)


def streaming_dedup(
    events: DataFrame,
    key_cols: list[str],
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming first-occurrence dedup on a content hash.

    ``dropDuplicatesWithinWatermark`` keeps hash state only inside the
    watermark horizon — the streaming equivalent of the reference's
    cross-file hash set (J2) with bounded memory. Late duplicates beyond
    the horizon are the documented trade-off (the batch anti-join against
    the snapshot catches them downstream).
    """
    hashed = with_row_hash(events, key_cols)
    return hashed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["row_hash"]
    )


def watermark_dedup_batch(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    order_col: str = "event_id",
    watermark_s: int = 1800,
) -> DataFrame:
    """Deterministic BATCH replay of :func:`streaming_dedup`'s
    state semantics — FIRST-OCCURRENCE-ANCHORED, not lag-gap (review
    r11): ``dropDuplicatesWithinWatermark`` stores the FIRST occurrence
    and its expiry; later duplicates are dropped against that anchor
    and do NOT extend its life, so a chain 10:00/10:20/10:40 under a
    30-min horizon keeps 10:00 AND 10:40 — where a lag rule (gap from
    the PREVIOUS occurrence) would drop 10:40 and diverge from the
    streaming operator on any ≥3-event chain spanning the horizon.

    Determinization note: the live operator's beyond-horizon behavior
    additionally depends on watermark PROGRESS (state is evicted when
    the global watermark passes the anchor's expiry, which depends on
    micro-batch boundaries); this replay pins the idealized
    prompt-eviction semantics — the fixed point the stream converges to
    — with the boundary choice "survives iff strictly more than
    ``watermark_s`` after its anchor".

    Scale shape: ONE hash-partitioned shuffle — but grouped by a
    BUCKET of hashes (hex_prefix_long(row_hash) % 256 — THE shared
    hash recipe), not per hash: the anchored
    scan is sequential only WITHIN a hash, so each Arrow batch sorts by
    (hash, ts, order) and runs one linear pass that resets its anchor
    at every hash boundary. Per-hash grouping measured 7.6 s at sf0.1
    against 0.3 s for the old window query — ~10k tiny pandas groups
    paid Spark's per-group overhead, not Python time; bucket grouping
    brings it back to a bounded number of linear-scan tasks and also
    spreads a pathological single-hash flood no worse than the
    streaming state store does.
    """
    import numpy as np

    from datawarehouse_backup_system_spark.operators.hashing import (
        hex_prefix_long,
    )

    hashed = with_row_hash(events, key_cols)
    src = hashed.withColumn(
        "_ts_us", F.unix_micros(F.col(ts_col))
    ).withColumn(
        # THE hash recipe (hex_prefix_long over the existing digest),
        # not a fresh xxhash64 variant — review r11, the
        # single-definition rule in operators/hashing.py
        "_bucket", F.pmod(hex_prefix_long(F.col("row_hash")), F.lit(256))
    )
    horizon_us = int(watermark_s) * 1_000_000

    def _anchors(pdf):
        pdf = pdf.sort_values(
            ["row_hash", "_ts_us", order_col]
        ).reset_index(drop=True)
        hs = pdf["row_hash"].to_numpy()
        ts = pdf["_ts_us"].to_numpy()
        n = len(pdf)
        # vectorized fast path (review r11): the first occurrence of
        # every hash is ALWAYS kept, and single-occurrence hashes (the
        # vast majority of any real corpus) need no walk at all — the
        # Python loop runs only over multi-occurrence segments, so
        # interpreter time is proportional to the DUPLICATE minority.
        first = np.ones(n, dtype=bool)
        if n > 1:
            first[1:] = hs[1:] != hs[:-1]
        keep = first.copy()
        starts = np.flatnonzero(first)
        ends = np.append(starts[1:], n)
        for s0, e0 in zip(
            starts[ends - starts > 1], ends[ends - starts > 1]
        ):
            anchor = ts[s0]
            for i in range(s0 + 1, e0):
                if ts[i] > anchor + horizon_us:
                    anchor = ts[i]
                    keep[i] = True
        return pdf[keep]

    return (
        src.groupBy("_bucket")
        .applyInPandas(_anchors, src.schema)
        .drop("_ts_us", "_bucket")
    )

