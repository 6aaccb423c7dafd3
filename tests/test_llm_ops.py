"""Tests for the LLM-pipeline operators: approx dedup, similarity,
text analysis, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawarehouse_backup_system_spark.operators import (
    dedup_approx,
    multimodal,
    similarity,
    text,
)


def test_minhash_lsh_finds_planted_neardups(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),  # near-dup of 1
        (3, "completely different words about spark dataframes and shuffles here"),
        (4, "unrelated text mentioning benchmarks partitions and broadcast joins"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup_approx.minhash_lsh_dedup(df, "doc_id", "text", threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 2)}


def test_minhash_staged_shingles_matches_persist_path(spark, tmp_path, sf_dir):
    """stage_path (shingles → parquet → read back; the 100 TB switch)
    must produce byte-identical pairs to the in-memory persist path."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).where(F.col("doc_id") < 60)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    corpus = docs.unionByName(
        docs.where(F.size(toks) > 6).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.array_join(F.slice(toks, 4, F.size(toks) - 3), " ").alias("text"),
        )
    )
    mem = dedup_approx.minhash_lsh_dedup(corpus, "doc_id", "text", threshold=0.5)
    staged = dedup_approx.minhash_lsh_dedup(
        corpus, "doc_id", "text", threshold=0.5,
        stage_path=str(tmp_path / "shingles"),
    )
    key = lambda r: (r["id_a"], r["id_b"], r["n_inter"], r["n_a"], r["n_b"])  # noqa: E731
    assert {key(r) for r in mem.collect()} == {key(r) for r in staged.collect()}
    assert (tmp_path / "shingles").exists()


def test_simhash_close_for_neardups(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),   # one token differs
        (3, "one two three four five six seven eight"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {r["doc_id"]: r["simhash"] for r in dedup_approx.simhash(df, "doc_id", "text").collect()}
    d12 = bin(fp[1] ^ fp[2]).count("1")
    d13 = bin(fp[1] ^ fp[3]).count("1")
    assert d12 < d13  # near-dup pair is closer in Hamming space
    assert all(0 <= v < 2 ** 16 for v in fp.values())


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(5, "x"), (9, "x"), (2, "x"), (7, "y")], "doc_id long, text string"
    )
    out = {(r["doc_id"], r["n_copies"])
           for r in dedup_approx.exact_dedup(df, ["text"], "doc_id").collect()}
    assert out == {(2, 3), (7, 1)}


def test_brute_force_topk_orders_by_cosine(spark):
    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") == 0)
    got = [(r["neighbor_id"], r["rank"])
           for r in similarity.brute_force_topk(df, q, k=3).orderBy("rank").collect()]
    assert got == [(1, 1), (2, 2), (3, 3)]


def test_bucketed_ann_restricts_candidates(spark):
    rows = [(i, [float(1 if i < 3 else -1)] * 8) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") == 0)
    got = {r["neighbor_id"] for r in similarity.bucketed_ann(df, q, k=5).collect()}
    assert got == {1, 2}  # opposite-sign bucket never scored


def test_multiprobe_recovers_hamming1_neighbors(spark):
    """A query whose sign bucket differs from its true neighbor's by
    exactly one bit is invisible to probe-0 ANN but must be found at
    rank 1 by Hamming-1 multi-probe (the recall the probing buys)."""
    corpus = []
    for i in range(20):
        head = [1.0 if (i >> b) & 1 else -1.0 for b in range(8)]
        onehot = [2.0 if j == i else 0.0 for j in range(20)]  # identity dims
        corpus.append((i, head + onehot))
    # query_i = corpus_i with dim0's sign flipped at small magnitude: the
    # one-hot tail keeps cosine(query_i, corpus_i) ≈ 0.95 — far above any
    # other corpus vector — while the bucket differs in exactly bit 0
    queries = [
        (i + 1000, [-0.05 * v[0]] + v[1:]) for i, v in corpus
    ]
    cdf = spark.createDataFrame(corpus, "vec_id long, embedding array<float>")
    qdf = spark.createDataFrame(queries, "vec_id long, embedding array<float>")
    p0 = similarity.bucketed_ann(cdf, qdf, k=1, n_bits=8, multi_probe=0)
    p1 = similarity.bucketed_ann(cdf, qdf, k=1, n_bits=8, multi_probe=1)
    hits0 = {(r["query_id"], r["neighbor_id"]) for r in p0.collect()}
    top1 = {r["query_id"]: r["neighbor_id"] for r in p1.collect()}
    planted = {(i + 1000, i) for i in range(20)}
    assert hits0 & planted == set()          # probe-0 cannot see across the bit flip
    assert top1 == {i + 1000: i for i in range(20)}  # probe-1 recovers every one


def test_contamination_counts_planted_overlap(spark):
    """One train doc shares exactly two distinct 3-grams with the eval
    set, another shares one, a third shares none — counts must be exact
    and the clean doc absent."""
    ev = spark.createDataFrame(
        [(1, "the quick brown fox jumps high")],
        "doc_id long, text string",
    )
    tr = spark.createDataFrame(
        [
            (10, "the quick brown fox sits"),      # 'the quick brown', 'quick brown fox'
            (11, "a lazy fox jumps high today"),   # 'fox jumps high'
            (12, "completely different words entirely"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_overlap"]
           for r in dedup_approx.contamination(tr, ev, "doc_id", "text", n=3).collect()}
    assert got == {10: 2, 11: 1}


def test_curation_report_each_gate_fires_independently(spark):
    """Four docs, each failing exactly one gate (language, quality,
    repetition, dedup) plus one passing all — the composed keep must be
    the AND of the gates and each flag must identify its failure."""
    from datawarehouse_backup_system_spark.operators import curation

    good = ("the cat is in the house and it is warm so the dog sleeps "
            "by the fire and all of it is calm")
    rows = [
        (1, good),                                   # keeps everything
        (2, "le chat est dans la maison et il est chaud et le chien dort"),  # lang
        (3, "short text only"),                      # quality (<10 tokens)
        (4, ("spam " * 40 + "the a of and to in is it").strip()),  # repetition
        (5, good),                                   # duplicate of 1 → dedup_keep False
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           curation.curation_report(df, "doc_id", "text").collect()}
    assert got[1]["keep"] is True
    assert got[2]["lang_keep"] is False and got[2]["keep"] is False
    assert got[3]["quality_keep"] is False and got[3]["keep"] is False
    assert got[4]["repetition_keep"] is False and got[4]["keep"] is False
    assert got[5]["dedup_keep"] is False and got[5]["keep"] is False
    assert got[1]["dedup_keep"] is True  # canonical copy survives


def test_neardup_corpus_filters_on_original_length(spark):
    """The >6-token gate must test the ORIGINAL text: a 7-token doc gets
    a (4-token) perturbed copy, and a 3-token doc must neither crash the
    slice nor emit a copy (review r8: a post-select filter re-resolved
    against the perturbed text)."""
    from datawarehouse_backup_system_spark.queries.llm_ops import (
        _with_neardups,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x y z")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r["text"] for r in _with_neardups(docs).collect()}
    assert rows == {
        1: "a b c d e f g",
        2: "x y z",
        100001: "d e f g",
    }


def test_export_shards_empty_corpus(spark, sf_dir, tmp_path):
    """An all-filtered-out corpus still yields the full n_docs=0
    manifest — the read-back uses an explicit schema, since zero part
    files cannot be inferred (review r8)."""
    from datawarehouse_backup_system_spark.operators import shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("1=0")
    manifest = shards.export_shards(
        docs, str(tmp_path / "empty"), "doc_id", n_shards=3
    ).collect()
    assert sorted(r["shard_id"] for r in manifest) == [0, 1, 2]
    assert all(r["n_docs"] == 0 for r in manifest)


def test_shard_manifest_surfaces_null_keys_and_strict_tokens(spark):
    """NULL keys appear as a shard_id IS NULL audit row (never silently
    dropped), and blank docs count 0 tokens in the manifest (review r8)."""
    from datawarehouse_backup_system_spark.operators import shards

    df = spark.createDataFrame(
        [(1, "two words"), (2, "   "), (None, "lost doc")],
        "doc_id long, text string",
    )
    rows = {
        r["shard_id"]: r
        for r in shards.shard_manifest(
            df, "doc_id", n_shards=2, text_col="text"
        ).collect()
    }
    assert None in rows and rows[None]["n_docs"] == 1
    assert sum(r["n_docs"] for r in rows.values()) == 3
    # doc 1 has 2 tokens, doc 2 (whitespace-only) has 0
    assert sum(r["n_tokens"] or 0 for k, r in rows.items() if k is not None) == 2


def test_export_shards_roundtrip_one_file_per_shard(spark, sf_dir, tmp_path):
    """export_shards writes shard_id=K/ dirs with ONE parquet file each
    (repartition-by-shard makes a single task own each shard), loses no
    rows, agrees with the manifest, and lays rows down in the
    deterministic hash order — rerunning the export is byte-stable."""
    import glob

    from datawarehouse_backup_system_spark.operators import shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_src = docs.count()
    out = str(tmp_path / "shards")
    manifest = shards.export_shards(docs, out, "doc_id", n_shards=4).collect()
    assert sum(r["n_docs"] for r in manifest) == n_src
    assert {r["shard_id"] for r in manifest} == set(range(4))

    back = spark.read.parquet(out)
    assert back.count() == n_src
    assert set(back.columns) == set(docs.columns) | {"shard_id"}
    for k in range(4):
        files = glob.glob(f"{out}/shard_id={k}/*.parquet")
        assert len(files) == 1, f"shard {k}: {files}"

    # assignment in the files matches the manifest's hash rule exactly
    got = {(r["shard_id"], ): None for r in back.select("shard_id").distinct().collect()}
    assert {k for (k,) in got} == set(range(4))
    per_shard = {
        r["shard_id"]: r["cnt"]
        for r in back.groupBy("shard_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert per_shard == {r["shard_id"]: r["n_docs"] for r in manifest}

    # within-shard order is the deterministic hash order (read back file 0)
    ids0 = [r["doc_id"] for r in spark.read.parquet(f"{out}/shard_id=0").collect()]
    import hashlib

    expected = sorted(ids0, key=lambda i: (hashlib.md5(f"shard{i}".encode()).hexdigest(), i))
    assert ids0 == expected


def test_ivf_full_probe_equals_brute_force(spark, sf_dir):
    """With n_probe = n_centroids every inverted list is searched, so IVF
    degenerates to exact brute force — the correctness anchor for the
    whole assign/probe/search machinery (any assignment or join bug
    would surface as a missing or extra neighbor)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 50 == 0)
    exact = {(r["query_id"], r["neighbor_id"], r["rank"])
             for r in similarity.brute_force_topk(emb, q, k=3).collect()}
    full = {(r["query_id"], r["neighbor_id"], r["rank"])
            for r in similarity.ivf_topk(
                emb, q, k=3, n_centroids=8, n_probe=8).collect()}
    assert full == exact


def test_multiprobe_radius2_recovers_two_bit_flips(spark):
    """A true neighbor whose sign bucket differs in exactly TWO bits is
    invisible at probe radius 0 and 1 but found at radius 2."""
    corpus = []
    for i in range(12):
        head = [1.0 if (i >> b) & 1 else -1.0 for b in range(8)]
        onehot = [2.0 if j == i else 0.0 for j in range(12)]
        corpus.append((i, head + onehot))
    queries = [
        (i + 1000, [-0.05 * v[0], -0.05 * v[1]] + v[2:]) for i, v in corpus
    ]
    cdf = spark.createDataFrame(corpus, "vec_id long, embedding array<float>")
    qdf = spark.createDataFrame(queries, "vec_id long, embedding array<float>")
    planted = {(i + 1000, i) for i in range(12)}
    p1 = {(r["query_id"], r["neighbor_id"]) for r in
          similarity.bucketed_ann(cdf, qdf, k=1, n_bits=8, multi_probe=1).collect()}
    p2 = {r["query_id"]: r["neighbor_id"] for r in
          similarity.bucketed_ann(cdf, qdf, k=1, n_bits=8, multi_probe=2).collect()}
    assert p1 & planted == set()
    assert p2 == {i + 1000: i for i in range(12)}


def test_hyperplane_buckets_discriminate_where_axis_cannot(spark):
    """Vectors whose FIRST 8 dims are a shared constant: axis sign
    buckets collapse to ONE bucket (zero pruning — every query scans the
    whole corpus), while random hyperplanes mix all 64 dims and keep
    discriminating. Exact duplicates still collide under any plane set,
    so planted twins are found at rank 1 with no probing."""
    rows = []
    for i in range(30):
        tail = [((i * 53 + j * 11) % 101 - 50) / 50.0 for j in range(56)]
        rows.append((i, [1.0] * 8 + tail))
    twins = [(i + 1000, v) for i, v in rows]
    cdf = spark.createDataFrame(rows + twins, "vec_id long, embedding array<float>")
    planes = similarity.deterministic_planes(64, 8)

    vec = F.col("embedding").cast("array<double>")
    n_axis = cdf.select(
        similarity.sign_bucket(vec, 8).alias("b")
    ).distinct().count()
    n_hyper = cdf.select(
        similarity.hyperplane_bucket(vec, planes).alias("b")
    ).distinct().count()
    assert n_axis == 1
    assert n_hyper > 4

    qdf = spark.createDataFrame(twins, "vec_id long, embedding array<float>")
    top1 = {r["query_id"]: r["neighbor_id"] for r in
            similarity.bucketed_ann(cdf, qdf, k=1, planes=planes).collect()}
    assert top1 == {i + 1000: i for i in range(30)}


def test_neardup_bucketed_is_same_bucket_subset_of_exact(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
        F.col("vec_id") < 200
    )
    exact = {(r["id_a"], r["id_b"]) for r in
             similarity.neardup_pairs(emb, threshold=0.2).collect()}
    bucketed = {(r["id_a"], r["id_b"]) for r in
                similarity.neardup_pairs_bucketed(emb, threshold=0.2).collect()}
    assert bucketed <= exact  # verify step is exact: no false positives
    b = similarity.sign_bucket(F.col("embedding").cast("array<double>"), 8)
    buckets = {r["vec_id"]: r["b"] for r in emb.select("vec_id", b.alias("b")).collect()}
    hamming1_exact = {
        (a, bb) for a, bb in exact
        if bin(buckets[a] ^ buckets[bb]).count("1") <= 1
    }
    assert bucketed == hamming1_exact  # finds EVERY Hamming-≤1 pair


def test_dedup_groups_transitive_chain(spark):
    """a~b, b~c (a~c never scored) must still group — the transitivity
    the pair list lacks. Separate component stays separate."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {(r["node"], r["canonical_id"])
           for r in dedup_approx.dedup_groups(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}

    # non-convergence must raise, never return silently-wrong labels
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_approx.dedup_groups(chain, max_iter=2)


def test_pack_sequences_concat_and_chunk(spark):
    """Chunk boundaries fall every `capacity` tokens of the per-shard
    concatenated stream; straddling docs keep their start offset."""
    rows = [(0, 60), (8, 50), (16, 10), (1, 100), (9, 30)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = {r["doc_id"]: (r["shard"], r["local_bin"], r["offset"])
           for r in text.pack_sequences(df, "doc_id", "n_tokens",
                                        capacity=100, n_shards=8).collect()}
    # shard 0 stream: doc0 (60) @0, doc8 (50) @60 → straddles into bin 1,
    # doc16 (10) @110 → bin 1 offset 10
    assert out[0] == (0, 0, 0)
    assert out[8] == (0, 0, 60)
    assert out[16] == (0, 1, 10)
    # shard 1 stream: doc1 (100) @0 fills bin 0 exactly; doc9 @100 → bin 1
    assert out[1] == (1, 0, 0)
    assert out[9] == (1, 1, 0)


def test_pii_scrub_masks_and_counts(spark):
    rows = [
        (1, "mail me at a.b-c@test.org or 123456789 ok"),
        (2, "no pii here, just 1234 and words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in text.pii_scrub(df, "doc_id", "text").collect()}
    assert got[1]["scrubbed_text"] == "mail me at <EMAIL> or <NUM> ok"
    assert (got[1]["n_emails"], got[1]["n_numbers"]) == (1, 1)
    assert got[2]["scrubbed_text"] == rows[1][1]  # untouched
    assert (got[2]["n_emails"], got[2]["n_numbers"]) == (0, 0)


def test_repetition_features_flags_boilerplate(spark):
    rows = [
        (1, "spam spam spam spam spam spam spam spam spam spam"),  # looped
        (2, "each word here differs from every other word nearby today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r
           for r in text.repetition_features(df, "doc_id", "text").collect()}
    assert got[1]["top_tok_ratio"] == 1.0
    assert got[1]["dup_trigram_ratio"] > 0.8  # 8 trigrams, 1 distinct
    assert got[1]["repetition_keep"] is False
    assert got[2]["top_tok_ratio"] <= 0.2
    assert got[2]["dup_trigram_ratio"] == 0.0
    assert got[2]["repetition_keep"] is True


def test_langid_marker_text(spark):
    rows = [
        (1, "the cat is in the house and it is warm"),
        (2, "le chat est dans la maison et il est chaud"),
        (3, "der hund ist das tier und ein freund"),
        (4, "qqq www eee"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["predicted_lang"] for r in text.langid(df, "doc_id", "text").collect()}
    assert got == {1: "en", 2: "fr", 3: "de", 4: "und"}


def test_multimodal_decode_fake_and_error(spark):
    rows = [
        (1, "image", "image/png", {"src": "a"}, bytearray(b"\x89PNG fake bytes")),
        (2, "video", "video/mp4", {}, bytearray(b"\x00\x00 ftyp fake")),
        (3, "audio", "audio/wav", None, None),
    ]
    df = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
    feats = multimodal.decode_features(df, decode_stub="fake")
    got = {r["asset_id"]: r for r in feats.collect()}
    assert got[1]["width"] is not None and got[1]["duration_ms"] is None
    assert got[2]["duration_ms"] is not None and got[2]["width"] is None
    assert got[3]["n_bytes"] == 0
    assert len(got[1]["content_md5"]) == 32
    # deterministic: same bytes -> same fake dims
    again = {r["asset_id"]: r for r in multimodal.decode_features(df, "fake").collect()}
    assert again[1]["width"] == got[1]["width"]

    with pytest.raises(Exception, match="NotImplementedError|media decoding"):
        multimodal.decode_features(df, decode_stub="error").collect()


def test_header_metadata_decodes_real_formats(spark):
    """Container-header parsing is REAL (stdlib struct, no media libs):
    construct valid PNG/GIF/WAV/JPEG/MP4 headers and assert the parsed
    dimensions / rates / durations."""
    import struct

    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + struct.pack(">II", 640, 480) + b"\x08\x06\x00\x00\x00")
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 4
    wav = (b"RIFF" + struct.pack("<I", 36 + 88200) + b"WAVE"
           + b"fmt " + struct.pack("<I", 16)
           + struct.pack("<HHIIHH", 1, 1, 44100, 88200, 2, 16)
           + b"data" + struct.pack("<I", 88200))
    jpeg = (b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 4) + b"JF"
            + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
            + struct.pack(">HH", 480, 640) + b"\x03" + b"\x00" * 9)
    mp4 = (struct.pack(">I", 16) + b"ftypisom" + b"\x00" * 4
           + struct.pack(">I", 32) + b"mvhd" + b"\x00" * 4  # version+flags
           + b"\x00" * 8 + struct.pack(">II", 1000, 2500))
    rows = [
        (1, "image", "image/png", None, bytearray(png)),
        (2, "image", "image/gif", None, bytearray(gif)),
        (3, "audio", "audio/wav", None, bytearray(wav)),
        (4, "image", "image/jpeg", None, bytearray(jpeg)),
        (5, "video", "video/mp4", None, bytearray(mp4)),
    ]
    df = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
    got = {r["asset_id"]: r for r in multimodal.decode_features(df).collect()}
    assert (got[1]["format"], got[1]["width"], got[1]["height"]) == ("png", 640, 480)
    assert (got[2]["format"], got[2]["width"], got[2]["height"]) == ("gif", 320, 200)
    assert (got[3]["format"], got[3]["sample_rate"], got[3]["duration_ms"]) \
        == ("wav", 44100, 1000)
    assert (got[4]["format"], got[4]["width"], got[4]["height"]) == ("jpeg", 640, 480)
    assert (got[5]["format"], got[5]["duration_ms"]) == ("mp4", 2500)

    # expression-level PNG probe (pure codegen path, no Python)
    probe = df.select(
        "asset_id", multimodal.png_dims(F.col("data")).alias("d")
    ).collect()
    dims = {r["asset_id"]: r["d"] for r in probe}
    assert (dims[1]["width"], dims[1]["height"]) == (640, 480)
    assert dims[2] is None  # non-PNG → NULL


def test_frame_sample_shape(spark):
    rows = [(1, "video", "video/mp4", None, bytearray(b"abc"))]
    df = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
    frames = multimodal.frame_sample_stub(df, every_ms=1000).collect()
    assert len(frames) >= 1
    assert [f["frame_idx"] for f in frames] == list(range(len(frames)))
    assert frames[-1]["frame_ms"] == (len(frames) - 1) * 1000


def test_simhash_expr_matches_groupby_simhash(spark, sf_dir):
    """The shuffle-free per-row SimHash must equal the explode+groupBy
    implementation on real corpus text, token frequencies included."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") < 100
    )
    via_groupby = {r["doc_id"]: r["simhash"]
                   for r in dedup_approx.simhash(docs, "doc_id", "text").collect()}
    via_expr = {r["doc_id"]: r["sh"]
                for r in docs.select(
                    "doc_id",
                    dedup_approx.simhash_expr(F.col("text")).alias("sh"),
                ).collect()}
    assert via_expr == via_groupby and via_expr


def test_sign_bucket_tolerates_short_vectors(spark):
    """Review r7 (confirmed crash): under ANSI, element_at beyond the
    array end aborted the job — a truncated ingest row must bucket
    (missing dims = 0-bits), not kill the pass."""
    from datawarehouse_backup_system_spark.operators.similarity import (
        sign_bucket,
    )

    df = spark.createDataFrame(
        [(1, [0.5, -0.2, 0.1, 0.9]), (2, [0.5] * 16), (3, [])],
        "vec_id bigint, embedding array<double>",
    )
    rows = {r["vec_id"]: r["b"]
            for r in df.select("vec_id",
                               sign_bucket(F.col("embedding"), 8).alias("b"))
            .collect()}
    assert rows[1] == 0b1101 and rows[2] == 0xFF and rows[3] == 0
