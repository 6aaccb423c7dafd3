"""Round-4 pipeline extensions: dup spans, DSIR weights, leakage-safe
split, domain cap."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawarehouse_backup_system_spark.operators import curation, importance, text


# ------------------------------------------------------------ dup_spans
def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dup_spans_flags_shared_span_only(spark):
    shared = "a b c d e f g h"  # exactly one 8-token span
    rows = [
        (1, shared + " tail1 unique1"),
        (2, "head2 " + shared),  # shares the span with doc 1
        (3, "totally different words with no overlap at all ok"),
        (4, "short doc"),  # < 8 tokens → zero spans
    ]
    out = {
        r["doc_id"]: r
        for r in text.dup_spans(_docs(spark, rows), "doc_id", "text", n=8).collect()
    }
    assert out[1]["n_spans"] == 3 and out[2]["n_spans"] == 2
    assert out[1]["n_dup_spans"] == 1 and out[2]["n_dup_spans"] == 1
    assert out[3]["n_dup_spans"] == 0
    assert out[4]["n_spans"] == 0 and out[4]["dup_frac"] == 0.0
    assert out[2]["dup_frac"] == pytest.approx(0.5)


def test_dup_spans_within_doc_repeat_not_cross_doc(spark):
    # the same span twice in ONE doc is not a cross-document duplicate
    rows = [(1, "a b c d e f g h x a b c d e f g h")]
    r = text.dup_spans(_docs(spark, rows), "doc_id", "text", n=8).collect()[0]
    assert r["n_dup_spans"] == 0 and r["n_spans"] == 10


# ------------------------------------------------------- DSIR weights
def test_dsir_weights_separate_domains(spark):
    # target tokens tt* dominate target docs; source-only tokens ss*
    rows = [(i, "tt1 tt2 tt3 tt4", "en") for i in range(5)] + [
        (10 + i, "ss1 ss2 ss3 ss4", "de") for i in range(5)
    ] + [(100, "tt1 tt2 ss1 ss2", "de")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    w = {
        r["doc_id"]: r["weight"]
        for r in importance.dsir_weights(
            df, "doc_id", "text", F.col("lang") == "en", n_buckets=256
        ).collect()
    }
    # target-looking docs outweigh source-only docs; mixed in between
    assert w[0] > w[100] > w[10]


def test_dsir_quantized_matches_double_path(spark):
    rows = [(i, f"tok{i % 7} tok{i % 3} shared", "en" if i % 2 else "xx") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    pred = F.col("lang") == "en"
    exact = {
        r["doc_id"]: r["weight"]
        for r in importance.dsir_weights(df, "doc_id", "text", pred).collect()
    }
    quant = {
        r["doc_id"]: r["weight"]
        for r in importance.dsir_weights(
            df, "doc_id", "text", pred, quantize_decimals=9
        ).collect()
    }
    for k in exact:
        assert quant[k] == pytest.approx(exact[k], abs=1e-6)


# -------------------------------------------------- leakage-safe split
def test_leakage_split_components_cotravel_and_exhaustive(spark):
    docs = _docs(spark, [(i, f"doc {i}") for i in range(200)])
    # chain components: (0,1,2), (3,4), singletons elsewhere
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4), (7, 8)], "id_a long, id_b long"
    )
    out = curation.leakage_safe_split(docs, pairs, "doc_id")
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(rows) == 200  # exhaustive, no dupes
    assert rows[0] == rows[1] == rows[2]
    assert rows[3] == rows[4]
    assert rows[7] == rows[8]
    assert set(rows.values()) <= {"train", "val", "test"}
    # rough proportions on singletons (hash split, 80/10/10)
    n_train = sum(1 for v in rows.values() if v == "train")
    assert n_train > 120


def test_leakage_split_singletons_deterministic_with_no_pairs(spark):
    docs = _docs(spark, [(i, f"d {i}") for i in range(50)])
    empty = spark.createDataFrame([], "id_a long, id_b long")
    ours = {
        r["doc_id"]: r["split"]
        for r in curation.leakage_safe_split(docs, empty, "doc_id").collect()
    }
    assert len(ours) == 50 and set(ours.values()) <= {"train", "val", "test"}
    # pure function of the ids: a rerun (different partitioning) agrees
    again = {
        r["doc_id"]: r["split"]
        for r in curation.leakage_safe_split(
            docs.repartition(7), empty, "doc_id"
        ).collect()
    }
    assert again == ours


# ----------------------------------------------------------- domain cap
def test_domain_cap_keeps_best_n(spark):
    rows = [(i, "dom1", 100 - i) for i in range(10)] + [
        (100 + i, "dom2", 5) for i in range(3)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, quality long")
    out = curation.domain_cap(
        df, "source", [F.col("quality").desc()], 4, id_col="doc_id"
    ).collect()
    by_dom = {}
    for r in out:
        by_dom.setdefault(r["source"], []).append(r["doc_id"])
    assert sorted(by_dom["dom1"]) == [0, 1, 2, 3]  # highest quality
    assert sorted(by_dom["dom2"]) == [100, 101, 102]  # under cap: all kept
    # tie within dom2 broken by doc_id — deterministic across reruns
    again = curation.domain_cap(
        df, "source", [F.col("quality").desc()], 2, id_col="doc_id"
    ).collect()
    assert sorted(r["doc_id"] for r in again if r["source"] == "dom2") == [100, 101]


def test_dup_spans_invariants_random_corpora(spark):
    import random

    for seed in (3, 11):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(12)]
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 20))))
            for i in range(30)
        ]
        out = text.dup_spans(_docs(spark, rows), "doc_id", "text", n=4).collect()
        assert len(out) == 30
        for r in out:
            assert 0 <= r["n_dup_spans"] <= r["n_spans"]
            assert 0.0 <= r["dup_frac"] <= 1.0
