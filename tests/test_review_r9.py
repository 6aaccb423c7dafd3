"""Regression pins for the round-9 high-effort review findings in
table_format / multimodal / bloom (each named in the fix commit)."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F


def test_bloom_semi_join_cross_width_keys(spark):
    """Review r9: xxhash64 is physical-type-sensitive — an INT fact key
    vs a BIGINT dim key previously hashed to different bloom positions,
    so the probe shed rows the closing semi-join would have matched.
    String canonicalization makes the integer family agree."""
    from datawarehouse_backup_system_spark.operators.bloom import (
        bloom_semi_join,
    )

    fact = spark.createDataFrame(
        [(i, f"f{i}") for i in range(50)], "k int, payload string"
    )
    dim = spark.createDataFrame(
        [(int(i),) for i in range(0, 50, 5)], "k bigint"
    )
    got = sorted(
        r["k"] for r in bloom_semi_join(fact, "k", dim, "k").collect()
    )
    assert got == list(range(0, 50, 5))


def test_png_zero_height_bomb_is_rejected():
    """Review r9: zlib decompress(data, max_length=0) means UNLIMITED,
    so a height-0 PNG bypassed the bounded-inflate bomb guard."""
    import zlib

    from datawarehouse_backup_system_spark.operators.multimodal import (
        decode_png_pixels,
    )

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    ihdr = struct.pack(">IIBBBBB", 16, 0, 8, 0, 0, 0, 0)  # height 0
    bomb = zlib.compress(b"\x00" * 10_000_000)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", bomb)
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="non-positive"):
        decode_png_pixels(png)


def test_format_read_ignores_underscore_manifest_dirs(spark, tmp_path):
    """Review r9: a fresh table holding only a _stats manifest counted
    as non-empty, so read() raised 'Unable to infer schema' instead of
    returning the empty fallback."""
    from pyspark.sql import types as T

    from datawarehouse_backup_system_spark.ledger import Ledger
    from datawarehouse_backup_system_spark.plans.table_format import (
        WriteIdParquetFormat,
    )

    fmt = WriteIdParquetFormat(
        Ledger(spark, tmp_path / "_ledger"), tmp_path,
        move=lambda src, dst: src.rename(dst),
    )
    table = tmp_path / "t"
    (table / "_stats").mkdir(parents=True)
    spark.createDataFrame(
        [("x", 1)], "a string, b long"
    ).coalesce(1).write.mode("overwrite").parquet(str(table / "_stats"))
    fb = T.StructType([T.StructField("id", T.LongType())])
    out = fmt.read(spark, table, fb)
    assert out.count() == 0 and out.schema == fb


def test_lease_late_release_never_deletes_thiefs_lease(tmp_path):
    """Review r9: release was a path-based read-then-unlink — a steal
    between the two calls deleted the thief's fresh lease. Now release
    renames-to-tombstone first (atomic take), verifies, and restores a
    foreign lease instead of deleting it."""
    from datawarehouse_backup_system_spark.plans.table_format import (
        WriterLease,
    )

    w1 = WriterLease(tmp_path, owner="w1", ttl_s=0.0).acquire()
    # simulate the thief: steal protocol's end state — fresh lease
    # with the thief's token at the same path
    w1.path.unlink()
    w1.path.write_text("w2-token")
    w1.release()  # late release from the stolen writer
    assert w1.path.exists()
    assert w1.path.read_text() == "w2-token"
    # and no stray tombstone left behind for the restore path
    assert not list(tmp_path.glob("_writer.lease.release.*"))


def test_pcm_features_ignores_data_word_in_list_chunk(spark):
    """Review r9: pcm_features found PCM via b.find(b'data'), so the
    ASCII word 'data' inside a LIST/INFO comment decoded metadata bytes
    as samples; the RIFF chunk walk finds the real chunk."""
    import numpy as np

    from datawarehouse_backup_system_spark.operators.multimodal import (
        pcm_features,
    )

    samples = np.arange(-4, 4, dtype="<i2").tobytes()
    info = b"INFOICMT" + struct.pack("<I", 12) + b"has data here"[:12]
    fmt_chunk = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    data_chunk = b"data" + struct.pack("<I", len(samples)) + samples
    list_chunk = b"LIST" + struct.pack("<I", len(info)) + info
    body = b"WAVE" + fmt_chunk + list_chunk + data_chunk
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    df = spark.createDataFrame([(1, bytearray(wav))], "asset_id long, data binary")
    row = pcm_features(df).collect()[0]
    assert row["n_samples"] == 8  # the real chunk, not the comment text
    # non-WAV bytes containing 'data' must be rejected, not decoded
    junk = spark.createDataFrame(
        [(2, bytearray(b"some data here that is not riff at all"))],
        "asset_id long, data binary",
    )
    with pytest.raises(Exception, match="data"):
        pcm_features(junk).collect()


def test_mjpeg_no_video_frames_yields_err_row(spark):
    """Review r9: an AVI whose movi list has no video chunks emitted
    ZERO rows, silently losing the asset from downstream joins."""
    from datawarehouse_backup_system_spark.operators.multimodal import (
        mjpeg_frame_stats,
    )

    movi = b"LIST" + struct.pack("<I", 4) + b"movi"
    body = b"AVI " + movi
    avi = b"RIFF" + struct.pack("<I", len(body)) + body
    df = spark.createDataFrame([(7, bytearray(avi))], "asset_id long, data binary")
    rows = mjpeg_frame_stats(df).collect()
    assert len(rows) == 1
    assert rows[0]["asset_id"] == 7 and rows[0]["n_frames"] == 0
    assert "no video frames" in rows[0]["err"]


def test_decode_features_clamps_header_claims_to_int32(spark):
    """Review r9: a hostile header claiming width=0x90000000 silently
    wrapped negative through the default unsafe Arrow int32 cast; an
    absurd claim is now treated as absent metadata."""
    from datawarehouse_backup_system_spark.operators.multimodal import (
        decode_features,
    )

    ihdr_body = struct.pack(">IIBBBBB", 0x90000000, 10, 8, 0, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr_body)) + b"IHDR" + ihdr_body
        + struct.pack(">I", 0)
    )
    df = spark.createDataFrame(
        [(1, "image", bytearray(png), None)],
        "asset_id long, kind string, data binary, meta map<string,string>",
    )
    row = decode_features(df).collect()[0]
    assert row["width"] is None  # absurd claim -> absent, never negative
    assert row["height"] == 10


def test_pq_guards_null_and_divisible_wrong_dims(spark):
    """Review r9: the ADC query guard passed NULL vectors (ANSI
    size(NULL) is NULL) and wrong-length vectors divisible by m; the
    encode side had no guard at all — both now fail loudly."""
    from datawarehouse_backup_system_spark.operators.quantize import (
        pq_adc_topk,
        pq_encode,
        pq_seed_codebook,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    cb = pq_seed_codebook(corpus, "vec_id", "embedding", m=4, k=4)
    codes = pq_encode(corpus, "vec_id", "embedding", cb, m=4)
    assert codes.count() == 20 * 4

    null_q = spark.createDataFrame(
        [(100, None)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="NULL or not 8-dimensional"):
        pq_adc_topk(codes, "vec_id", null_q, "vec_id", "embedding", cb, m=4)
    # 4 dims: divisible by m=4 but not the codebook's 8 — the old
    # `% m` probe passed it straight to the silent-arbitrary-top-k
    short_q = spark.createDataFrame(
        [(100, [1.0, 2.0, 3.0, 4.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="not 8-dimensional"):
        pq_adc_topk(codes, "vec_id", short_q, "vec_id", "embedding", cb, m=4)

    bad_corpus = corpus.union(
        spark.createDataFrame(
            [(999, [1.0, 2.0, 3.0, 4.0])],
            "vec_id long, embedding array<double>",
        )
    )
    with pytest.raises(ValueError, match="corpus vector"):
        pq_encode(bad_corpus, "vec_id", "embedding", cb, m=4).count()


def test_pq_seed_codebook_null_rows_and_empty(spark):
    """Review r9: a NULL embedding among the k hash-ordered seeds
    killed the build with a bare TypeError; an empty corpus with an
    IndexError. Both are now a filter + a loud ValueError."""
    from datawarehouse_backup_system_spark.operators.quantize import (
        pq_seed_codebook,
    )

    mixed = spark.createDataFrame(
        [(1, None), (2, [1.0, 2.0, 3.0, 4.0]), (3, [2.0, 1.0, 0.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    cb = pq_seed_codebook(mixed, "vec_id", "embedding", m=2, k=2)
    assert cb.count() == 2 * 2
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="no non-null"):
        pq_seed_codebook(empty, "vec_id", "embedding", m=2, k=2)


def test_pandas_paths_propagate_id_types(spark):
    """Review r9: neardup_pairs_broadcast hard-coded `long` ids — string
    ids broke at Arrow conversion."""
    from datawarehouse_backup_system_spark.operators.similarity import (
        neardup_pairs_broadcast,
    )

    emb = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.001]), ("c", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    pairs = neardup_pairs_broadcast(emb, "vec_id", "embedding", 0.99)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {("a", "b")}


def test_search_edge_inputs(spark):
    """Review r9: bm25_topk crashed on an empty query list; duplicate
    phrase query ids silently merged two phrases' offset slots."""
    from datawarehouse_backup_system_spark.operators.search import (
        bm25_topk,
        phrase_search,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "c d e")], "doc_id long, text string"
    )
    assert bm25_topk(docs, "doc_id", "text", []).count() == 0
    with pytest.raises(ValueError, match="duplicate query_id"):
        phrase_search(docs, "doc_id", "text", [("q1", "a b"), ("q1", "c d")])


def test_scd2_string_change_feed_keeps_timestamp_schema(spark):
    """Review r9: a string _change_ts widened valid_from to string for
    EVERY dimension row through unionByName coercion (valid_to was
    already cast); both stamps now cast to the dim's column types."""
    from datawarehouse_backup_system_spark.operators.upsert import (
        scd2_apply,
    )

    dim = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00", None)],
        "k long, attr string, valid_from string, valid_to string",
    ).select(
        "k", "attr",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
    )
    changes = spark.createDataFrame(
        [(1, "b", "2024-02-01 00:00:00")],
        "k long, attr string, _change_ts string",
    )
    out = scd2_apply(dim, changes, "k")
    types = dict((f.name, f.dataType.simpleString()) for f in out.schema)
    assert types["valid_from"] == "timestamp"
    assert types["valid_to"] == "timestamp"
    assert out.count() == 2


def test_merge_upsert_null_keys_insert_even_with_order_col(spark):
    """Review r9: order_col's dedup window collapsed ALL NULL-keyed
    updates into one (window partitioning groups NULLs) — data loss
    that flipped on an unrelated parameter. NULL keys always insert."""
    from datawarehouse_backup_system_spark.operators.upsert import (
        merge_upsert,
    )

    target = spark.createDataFrame(
        [(1, "old", 0), (None, "keepme", 0)], "k long, v string, ord int"
    )
    updates = spark.createDataFrame(
        [(1, "new", 1), (None, "n1", 1), (None, "n2", 1), (None, "n3", 1)],
        "k long, v string, ord int",
    )
    out = merge_upsert(target, updates, "k")
    out_ord = merge_upsert(
        target, updates, "k", order_col="ord"
    ).select("k", "v")
    # both forms: 1 replaced, target NULL row kept, all 3 NULL inserts
    for frame in (out, out_ord):
        vals = sorted(r["v"] for r in frame.collect())
        assert vals == ["keepme", "n1", "n2", "n3", "new"]


def test_asof_join_null_keys_never_match(spark):
    """Review r9: NULL-keyed left rows carried NULL-keyed right
    payloads (window partitioning groups NULLs), deviating from the
    DuckDB/pandas reference semantics — now unmatched, row preserved."""
    from datawarehouse_backup_system_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(None, "2024-01-01 10:00:00"), (1, "2024-01-01 10:00:00")],
        "k long, ts string",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [(None, "2024-01-01 09:00:00", "nullpay"),
         (1, "2024-01-01 09:00:00", "pay1")],
        "k long, ts string, payload string",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "payload")
    out = {r["k"]: r["payload_right"] for r in
           asof_join(left, right, ["k"], "ts", "ts").collect()}
    assert out[1] == "pay1"
    assert None in out and out[None] is None  # row kept, no match


def test_range_join_inverted_interval_matches_nothing(spark):
    """Review r9: an inverted interval (end < start) previously fed
    F.sequence a descending range (step -1) that could explode into
    millions of bucket rows before the containment filter dropped them
    all; inverted intervals are now filtered at the scan."""
    from datawarehouse_backup_system_spark.operators.asof import range_join

    pts = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], "k long, ts string"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    iv = spark.createDataFrame(
        [(1, "2024-06-01 00:00:00", "1970-01-01 00:00:00", "bad"),
         (1, "2024-01-01 09:00:00", "2024-01-01 11:00:00", "good")],
        "k long, s string, e string, tag string",
    ).select(
        "k", F.col("s").cast("timestamp").alias("s"),
        F.col("e").cast("timestamp").alias("e"), "tag",
    )
    out = range_join(pts, iv, ["k"], "ts", "s", "e")
    assert [r["tag"] for r in out.collect()] == ["good"]


def test_rollup_cascade_reserved_key_names_raise(spark):
    """Review r9: key_cols named like the output aggregates silently
    produced ambiguous columns deep in the cascade."""
    from datawarehouse_backup_system_spark.operators.rollup import (
        rollup_cascade,
    )

    df = spark.createDataFrame(
        [("2024-01-01 10:00:00", 5, 1)], "ts string, n int, v int"
    ).select(F.col("ts").cast("timestamp").alias("ts"), "n", "v")
    with pytest.raises(ValueError, match="reserved by rollup_cascade"):
        rollup_cascade(df, "ts", F.col("v"), key_cols=["n"])
