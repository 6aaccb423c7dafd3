"""Hashed bigram-LM scoring."""

from __future__ import annotations

from pyspark.sql import functions as F

from datawarehouse_backup_system_spark.operators import lm


def test_bigram_lm_ranks_typical_above_garbled(spark):
    common = "the cat sat on the mat and the cat ran"
    rows = [(i, common) for i in range(10)] + [
        (100, "zq xv jk wq pv zz qx vj kw qp"),  # bigrams seen nowhere else
        (200, "one"),  # <2 tokens → no bigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in lm.bigram_lm_scores(df, "doc_id", "text").collect()}
    assert out[0]["avg_logp"] > out[100]["avg_logp"]  # typical beats garbled
    assert out[200]["n_bigrams"] == 0
    assert out[200]["avg_logp"] is None and out[200]["sum_logp"] == 0.0
    assert out[0]["n_bigrams"] == 9  # 10 tokens → 9 bigrams


def test_bigram_lm_partition_order_independent(spark):
    rows = [(i, f"alpha beta gamma delta tok{i % 5} beta alpha") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["doc_id"]: r["sum_logp"]
         for r in lm.bigram_lm_scores(df, "doc_id", "text").collect()}
    b = {r["doc_id"]: r["sum_logp"]
         for r in lm.bigram_lm_scores(df.repartition(7, "doc_id"), "doc_id", "text").collect()}
    assert a == b  # decimal-summed: bit-identical under any partitioning


def test_score_disjoint_corpus_unseen_bigrams_floor(spark):
    train = spark.createDataFrame(
        [(i, "the quick brown fox jumps") for i in range(10)],
        "doc_id long, text string",
    )
    model = lm.bigram_model(train, "doc_id", "text")
    score = lm.score_with_model(
        spark.createDataFrame(
            [(1, "the quick brown fox jumps"), (2, "zz qq vv kk ww")],
            "doc_id long, text string",
        ),
        "doc_id", "text", model,
    )
    out = {r["doc_id"]: r for r in score.collect()}
    assert out[1]["avg_logp"] > out[2]["avg_logp"]  # in-domain beats unseen
    assert out[2]["n_bigrams"] == 4  # unseen bigrams still scored (floor)


def test_leakage_split_no_edge_crosses_splits_random_graphs(spark):
    import random

    from datawarehouse_backup_system_spark.operators import curation

    # one seed / sparse graph: each propagation round is a shuffle, so a
    # dense random graph (large-diameter giant component) makes this test
    # minutes-slow for no extra coverage
    for seed in (7,):
        rng = random.Random(seed)
        n = 80
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(30)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        docs = spark.createDataFrame(
            [(i, f"d{i}") for i in range(n)], "doc_id long, text string"
        )
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        split = {
            r["doc_id"]: r["split"]
            for r in curation.leakage_safe_split(docs, pairs, "doc_id").collect()
        }
        assert len(split) == n
        for a, b in edges:  # the core guarantee: no pair crosses splits
            assert split[a] == split[b], (seed, a, b)


def test_sentences_expr_splits_on_ws_class_boundaries(spark):
    from pyspark.sql import functions as F

    from datawarehouse_backup_system_spark.functions.udtfs import (
        sentences_expr,
    )

    rows = [
        (1, "One. Two! Three? Four"),
        (2, "No boundaries here"),
        (3, "Trailing dot."),        # no whitespace after → one sentence
        (4, "A.B stays joined. but this splits"),
        (5, ""),
        # adversarial whitespace (r11 session review): Python re
        # (Unicode, matches NBSP), Java (ASCII with VT) and RE2 (ASCII
        # without VT) read \s three ways; the explicit WS_CLASS makes VT
        # split and NBSP not split on every engine
        (6, "Vertical.\x0btab boundary"),
        (7, "Unicode.\u00a0nbsp is NOT a boundary"),
        (8, "Newline?\nboundary. \t mixed"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = df.select(
        "doc_id",
        F.posexplode(sentences_expr(F.col("text"))).alias("sent_idx", "sentence"),
    ).collect()
    by_doc = {}
    for r in sorted(got, key=lambda r: (r["doc_id"], r["sent_idx"])):
        by_doc.setdefault(r["doc_id"], []).append(r["sentence"])
    assert by_doc == {
        1: ["One.", "Two!", "Three?", "Four"],
        2: ["No boundaries here"],
        3: ["Trailing dot."],
        4: ["A.B stays joined.", "but this splits"],
        # 5: empty text → no rows
        6: ["Vertical.", "tab boundary"],  # VT splits
        7: [rows[6][1]],  # NBSP does not split
        8: ["Newline?", "boundary.", "mixed"],
    }
