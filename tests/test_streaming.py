"""Structured Streaming tests: file-source micro-batches driven to
completion synchronously (memory sink + processAllAvailable)."""

from __future__ import annotations

import datetime as dt
import uuid

import pytest
from pyspark.sql import functions as F

from datawarehouse_backup_system_spark.streaming import ingest_stream as st


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, st.EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _rows(n, t0):
    """``n`` click events of user 1, five minutes apart, ids from 0."""
    return [
        (i, t0 + dt.timedelta(minutes=5 * i), 1, "click", 1.0, "{}")
        for i in range(n)
    ]


@pytest.fixture()
def t0():
    return dt.datetime(2024, 1, 1, 0, 0, 0)


def _run_to_memory(df, name):
    q = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    return q


def test_streaming_dedup_within_watermark(spark, tmp_path, t0):
    src = str(tmp_path / "events")
    rows = _rows(4, t0)
    dup = [rows[1]]  # exact duplicate arrives again in a later batch
    _write_batch(spark, src, rows)
    stream = st.stream_source(spark, src)
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    deduped = st.streaming_dedup(stream, ["event_id", "user_id", "event_type"])
    q = _run_to_memory(deduped.select("event_id", "row_hash"), name)
    try:
        _write_batch(spark, src, dup)
        q.processAllAvailable()
        out = spark.sql(f"SELECT event_id FROM {name}").collect()
        ids = sorted(r["event_id"] for r in out)
        assert ids == [0, 1, 2, 3]  # duplicate suppressed by hash state
    finally:
        q.stop()


def test_rollup_finest_tier_streams_with_watermark(spark, tmp_path):
    """The rollup cascade's finest tier is a plain time-bucket groupBy,
    so it runs as a watermarked streaming aggregation unchanged — the
    continuous-aggregate deployment shape: stream maintains the minute
    tier, batch re-rolls coarser tiers from it. Complete-mode totals
    must equal the batch tier exactly."""
    import uuid as _uuid

    from datawarehouse_backup_system_spark.operators.rollup import (
        _bucket_s,
        rollup_cascade,
    )

    src = str(tmp_path / "ev")
    rows = [(30, 1.0), (90, 2.0), (95, None), (3700, 5.0)]
    spark.createDataFrame(rows, "t long, v double").select(
        F.timestamp_seconds("t").alias("ts"), "v"
    ).coalesce(1).write.mode("append").parquet(src)

    cents = F.floor(F.col("v") * 100 + 0.5).cast("bigint")
    batch_minute = {
        r["bucket_s"]: (r["n"], r["sum_v"])
        for r in rollup_cascade(
            spark.read.parquet(src), "ts", cents
        )["minute"].collect()
    }

    stream = spark.readStream.schema("ts timestamp, v double").parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(_bucket_s(F.col("ts"), 60).alias("bucket_s"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(cents).cast("bigint").alias("sum_v"),
        )
    )
    name = f"roll_{_uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
    )
    try:
        q.processAllAvailable()
        got = {r["bucket_s"]: (r["n"], r["sum_v"])
               for r in spark.sql(f"SELECT * FROM {name}").collect()}
        assert got == batch_minute
    finally:
        q.stop()


def test_text_curation_ops_are_streaming_safe(spark, tmp_path):
    """The text-curation expression layer (PII scrub, langid) is
    stateless, so the SAME operators run unchanged over a readStream —
    the batch/streaming parity Structured Streaming promises for
    expression-only plans. Two sinks over one source; no stateful op,
    no watermark needed."""
    import uuid as _uuid

    from datawarehouse_backup_system_spark.operators import text

    src = str(tmp_path / "docs")
    rows = [
        (1, "the cat is in the house and it is warm says a@b.co"),
        (2, "le chat est dans la maison et il est chaud 123456789"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1) \
        .write.mode("append").parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    tag = _uuid.uuid4().hex[:8]
    q_pii = (
        text.pii_scrub(stream, "doc_id", "text")
        .writeStream.outputMode("append")
        .format("memory").queryName(f"pii_{tag}").start()
    )
    q_lang = (
        text.langid(stream, "doc_id", "text")
        .writeStream.outputMode("append")
        .format("memory").queryName(f"lang_{tag}").start()
    )
    try:
        q_pii.processAllAvailable()
        q_lang.processAllAvailable()
        pii = {r["doc_id"]: r for r in spark.sql(f"SELECT * FROM pii_{tag}").collect()}
        assert pii[1]["scrubbed_text"].endswith("<EMAIL>")
        assert pii[1]["n_emails"] == 1
        assert pii[2]["scrubbed_text"].endswith("<NUM>")
        assert pii[2]["n_numbers"] == 1
        lang = {r["doc_id"]: r["predicted_lang"]
                for r in spark.sql(f"SELECT * FROM lang_{tag}").collect()}
        assert lang == {1: "en", 2: "fr"}
    finally:
        q_pii.stop()
        q_lang.stop()


def test_streaming_signature_dedup_with_simhash_expr(spark, tmp_path):
    """simhash_expr is a pure expression, so signature-level dedup runs
    in-stream: project the fingerprint, dropDuplicatesWithinWatermark on
    it — duplicate-signature docs arriving within the horizon are
    suppressed, the first occurrence survives."""
    import uuid as _uuid

    from datawarehouse_backup_system_spark.operators.dedup_approx import simhash_expr

    src = str(tmp_path / "docs")
    base = "the quick brown fox jumps over the lazy dog"
    epoch0 = 1_704_067_200  # 2024-01-01: rows at epoch 0 would sit exactly
    # on the INITIAL watermark and be dropped as late by the stateful op

    def write(rows):
        spark.createDataFrame(rows, "doc_id long, t long, text string").select(
            "doc_id", F.timestamp_seconds(F.col("t") + epoch0).alias("ts"), "text"
        ).coalesce(1).write.mode("append").parquet(src)

    write([(1, 0, base),
           (3, 120, "completely different text about spark shuffles")])

    stream = spark.readStream.schema("doc_id long, ts timestamp, text string").parquet(src)
    deduped = (
        stream.select("doc_id", "ts", simhash_expr(F.col("text")).alias("sig"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["sig"])
    )
    name = f"sig_{_uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
    )
    try:
        q.processAllAvailable()
        # duplicate-signature doc arrives in a LATER micro-batch, within
        # the watermark horizon: the signature state must suppress it
        write([(2, 60, base)])
        q.processAllAvailable()
        ids = {r["doc_id"] for r in spark.sql(f"SELECT doc_id FROM {name}").collect()}
        assert ids == {1, 3}
    finally:
        q.stop()


def test_watermark_dedup_batch_matches_live_stream_on_chain(
    spark, tmp_path, t0
):
    """Review r11 (s01): dropDuplicatesWithinWatermark is FIRST-
    OCCURRENCE-ANCHORED — duplicates do not extend the anchor's life —
    so a 10:00/10:20/10:40 chain under a 30-min horizon keeps 10:00 AND
    10:40. The old lag-gap batch replay dropped 10:40 (gap 20 min from
    the PREVIOUS occurrence); this drives the REAL stream over the
    chain and asserts the production batch replay reproduces it."""
    src = str(tmp_path / "events")
    keys = ["user_id", "event_type"]
    chain = [
        (0, t0, 1, "click", 1.0, "{}"),
        (1, t0 + dt.timedelta(minutes=20), 1, "click", 1.0, "{}"),
    ]
    # watermark advancer between the anchor's expiry (10:30) and the
    # third event (10:40): state evicts but 10:40 is not yet late
    advancer = [(100, t0 + dt.timedelta(minutes=65), 2, "view", 1.0, "{}")]
    third = [(2, t0 + dt.timedelta(minutes=40), 1, "click", 1.0, "{}")]

    _write_batch(spark, src, chain)
    stream = st.stream_source(spark, src)
    name = f"chain_{uuid.uuid4().hex[:8]}"
    q = _run_to_memory(
        st.streaming_dedup(stream, keys).select("event_id"), name
    )
    try:
        q.processAllAvailable()
        _write_batch(spark, src, advancer)
        q.processAllAvailable()
        _write_batch(spark, src, third)
        q.processAllAvailable()
        live = sorted(
            r["event_id"] for r in spark.sql(f"SELECT * FROM {name}").collect()
        )
    finally:
        q.stop()
    assert live == [0, 2, 100]  # 10:40 SURVIVES: anchored, not lag-gap

    batch_rows = spark.createDataFrame(
        chain + advancer + third, st.EVENT_SCHEMA
    )
    replay = sorted(
        r["event_id"]
        for r in st.watermark_dedup_batch(
            batch_rows, keys, watermark_s=1800
        ).collect()
    )
    assert replay == live  # the batch replay pins the live semantics


def test_watermark_dedup_batch_anchor_rule_unit(spark, t0):
    """Anchor-rule unit pin, partitioning-independent: sub-horizon
    chains collapse to anchors every >horizon step; the first event
    always survives; ties break on the order column."""
    rows = [
        (i, t0 + dt.timedelta(minutes=m), 7, "click", 1.0, "{}")
        for i, m in enumerate([0, 20, 40, 45, 80, 80])
    ]
    df = spark.createDataFrame(rows, st.EVENT_SCHEMA)
    for frame in (df, df.repartition(13)):
        kept = sorted(
            r["event_id"]
            for r in st.watermark_dedup_batch(
                frame, ["user_id", "event_type"], watermark_s=1800
            ).collect()
        )
        # anchors: 0 (00:00), 2 (00:40 > 00:30), 4 (01:20 > 01:10);
        # 00:20/00:45 are inside their anchors' horizons; the second
        # 01:20 event ties on ts and loses on event_id
        assert kept == [0, 2, 4]
