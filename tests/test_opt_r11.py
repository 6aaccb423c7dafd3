"""Round-11 OPTIMIZATION parity pins for the array-form shingle/minhash
rewrite (operators/dedup_approx.py).

The optimization replaced the exploded (id, shingle) relation with a
per-document array (``shingle_sets``) and the explode→groupBy signature
pass with a per-row fold (``minhash_mins``). These tests pin the claims
the docstrings make:

1. value parity — the new signature pass is byte-identical to the old
   grouped one on the same corpus;
2. population parity — ``shingle_sets`` covers exactly the documents and
   shingles ``word_shingles`` emitted;
3. plan contract — the signature pass is shuffle-free (zero Exchange).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datawarehouse_backup_system_spark.operators.dedup_approx import (
    minhash_signature,
    minhash_signature_sets,
    shingle_sets,
    word_shingles,
)

CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "a completely different document about spark shuffles"),
    (4, "short doc"),  # < n tokens: must be dropped by BOTH paths
    (5, "  leading and trailing   whitespace  padded   text here  "),
    (6, "dup dup dup dup dup dup"),  # degenerate: one distinct shingle
    (7, None),  # NULL text: dropped by both paths
    (8, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
]
SCHEMA = "doc_id long, text string"


def test_minhash_mins_matches_grouped_signature(spark):
    """minhash_mins (per-row fold) vs minhash_signature (explode +
    groupBy): identical (id, mh0..mh8) rows — same md5 halves, same
    Kirsch-Mitzenmacher minima."""
    df = spark.createDataFrame(CORPUS, SCHEMA)
    new = minhash_signature_sets(
        shingle_sets(df, "doc_id", "text", 3), "doc_id", k=9
    )
    old = minhash_signature(word_shingles(df, "doc_id", "text", 3), "doc_id", k=9)
    assert sorted(new.collect()) == sorted(old.collect())


def test_minhash_mins_parity_other_k_and_n(spark):
    """Parity holds away from the defaults (k=5, shingle_n=2)."""
    df = spark.createDataFrame(CORPUS, SCHEMA)
    new = minhash_signature_sets(
        shingle_sets(df, "doc_id", "text", 2), "doc_id", k=5
    )
    old = minhash_signature(word_shingles(df, "doc_id", "text", 2), "doc_id", k=5)
    assert sorted(new.collect()) == sorted(old.collect())


def test_shingle_sets_population_matches_word_shingles(spark):
    """shingle_sets exploded == the historical word_shingles relation:
    same documents survive the >= n filter, same distinct shingles."""
    df = spark.createDataFrame(CORPUS, SCHEMA)
    exploded = shingle_sets(df, "doc_id", "text", 3).select(
        "doc_id", F.explode("shset").alias("shingle")
    )
    legacy = word_shingles(df, "doc_id", "text", 3)
    assert sorted(exploded.collect()) == sorted(legacy.collect())
    # the short, NULL-text docs are genuinely absent
    ids = {r["doc_id"] for r in exploded.select("doc_id").distinct().collect()}
    assert 4 not in ids and 7 not in ids and 6 in ids


def test_signature_pass_is_shuffle_free(spark):
    """The r11 claim the rewrite exists for: signatures are a linear map
    — no Exchange anywhere in the signature plan (the old explode +
    groupBy variant shuffled once)."""
    df = spark.createDataFrame(CORPUS, SCHEMA)
    sigs = minhash_signature_sets(
        shingle_sets(df, "doc_id", "text", 3), "doc_id", k=9
    )
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_neighborhood_function_unrolled_matches_staged(spark):
    """r11: the unrolled lazy tier (small radius, no staging demand)
    must reproduce the staged tier's estimates per (node, radius) —
    modulo the staged tier's early stop, which only omits
    post-saturation radii whose estimates are constant."""
    import random

    from datawarehouse_backup_system_spark.operators.graph import (
        neighborhood_function,
    )

    rng = random.Random(7)
    raw = [(rng.randrange(30), rng.randrange(30)) for _ in range(50)]
    df = spark.createDataFrame(raw, "src bigint, dst bigint")
    unrolled = {
        (r["node"], r["radius"]): r["n_reachable_est"]
        for r in neighborhood_function(df, max_radius=3).collect()
    }
    staged = {
        (r["node"], r["radius"]): r["n_reachable_est"]
        for r in neighborhood_function(
            df, max_radius=3, stage_rounds_above=0
        ).collect()
    }
    assert set(staged) <= set(unrolled)
    for key, v in staged.items():
        assert unrolled[key] == v, key
    # radii the staged early stop skipped carry the saturated constant
    for (node, radius), v in unrolled.items():
        if (node, radius) not in staged:
            assert v == staged[(node, max(r for n2, r in staged if n2 == node))]


def test_neighborhood_function_size_gate_forces_staged(
    spark, monkeypatch, tmp_path
):
    """r11: the unrolled tier is size-gated — with the byte threshold
    at 0 every call must take the scale-safe STAGED tier (observable:
    stage_path receives est_r* round dirs)."""
    from datawarehouse_backup_system_spark.operators.graph import (
        neighborhood_function,
    )

    monkeypatch.setattr(
        "datawarehouse_backup_system_spark.operators.graph."
        "_LAZY_MAX_BYTES", 0,
    )
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src bigint, dst bigint"
    )
    out = neighborhood_function(
        df, max_radius=2, stage_path=str(tmp_path / "nf")
    )
    assert out.count() > 0
    assert any(
        p.name.startswith("est_r") for p in (tmp_path / "nf").iterdir()
    )


# ---------------------------------------------------------------------------
# t34 — map-only langid_ngram rewrite (operators/text.py)


LANGID_CORPUS = [
    (0, "The children are playing in the old house with their dog."),
    (1, "Les enfants jouent dans la vieille maison avec leur chien."),
    (2, "Los ninos juegan en la casa vieja con su perro cada dia."),
    (3, "Die Kinder spielen in dem alten Haus mit ihrem Hund."),
    (4, ""),                     # normalizes to nothing -> und/NULL
    (5, "12345 !!! ???"),        # all-symbol -> und/NULL
    (6, "zz"),                   # one bigram, matches no profile well
    (7, "the of and to in is it " * 3),
    (8, "der die das und ein ist zu den " * 3),
    (9, None),                   # NULL text -> und/NULL
    (10, "a"),                   # below every gram size -> und/NULL
    (11, "ab"),                  # exactly one bigram
    (12, "   x   y   "),         # whitespace-heavy normalization
]


def test_langid_ngram_maponly_matches_grouped(spark):
    """Value parity: the map-only rewrite (run-length-encoded gram
    profile + literal rank-map scoring + struct-min) is row-identical
    to the grouped relational predecessor on every edge class —
    natural-language, empty, symbol-only, NULL, sub-gram-length."""
    from datawarehouse_backup_system_spark.operators import text

    df = spark.createDataFrame(LANGID_CORPUS, "doc_id int, text string")
    new = sorted(
        map(tuple, text.langid_ngram(df, "doc_id", "text").collect())
    )
    old = sorted(
        map(
            tuple,
            text.langid_ngram_grouped(df, "doc_id", "text").collect(),
        )
    )
    assert new == old


def test_langid_ngram_maponly_parity_other_k_and_sizes(spark):
    """Parity holds away from the defaults (trigram-only, top_k=7 —
    exercises the missing-gram penalty literal and short profiles)."""
    from datawarehouse_backup_system_spark.operators import text

    df = spark.createDataFrame(LANGID_CORPUS, "doc_id int, text string")
    model = text.train_char_ngram_model(n_sizes=(3,), top_k=7)
    kw = dict(model_rows=model, n_sizes=(3,), top_k=7)
    new = sorted(
        map(tuple, text.langid_ngram(df, "doc_id", "text", **kw).collect())
    )
    old = sorted(
        map(
            tuple,
            text.langid_ngram_grouped(
                df, "doc_id", "text", **kw
            ).collect(),
        )
    )
    assert new == old


def test_langid_ngram_is_shuffle_free_on_parallel_input(spark):
    """The r11 claim the rewrite exists for: on an input that already
    carries full parallelism (fan_out_small_scan no-op), the WHOLE
    query is one map-only projection — zero Exchange, zero Join, zero
    Window in the plan (the grouped predecessor had 6/3/2)."""
    from datawarehouse_backup_system_spark.operators import text

    df = spark.createDataFrame(
        LANGID_CORPUS, "doc_id int, text string"
    ).repartition(64)
    out = text.langid_ngram(df, "doc_id", "text")
    out.write.format("noop").mode("overwrite").save()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the input repartition above is upstream of the scan we build on;
    # AdaptiveSparkPlan wraps it — count operator names, not substrings
    body = plan.split("== Final Plan ==")[-1]
    for op in ("Exchange hashpartitioning", "Join", "Window"):
        assert op not in body, (op, body)


# ---------------------------------------------------------------------------
# g05 — per-round staging for core_numbers (operators/graph.py)


_KC_EDGES = (
    [(i, i + 1) for i in range(20)]
    + [(100 + i, 100 + j) for i in range(5) for j in range(i + 1, 5)]
    + [(200, 201)]
)


def _kc_edges(spark):
    """Path + clique + isolated-ish mix: the path's peel depth forces
    several refinement rounds, the clique pins a high core, the tail
    exercises the cap."""
    return spark.createDataFrame(_KC_EDGES, "src bigint, dst bigint")


def _hindex_rounds(edge_list, rounds):
    """Pure-Python H-index refinement: the labels after ``rounds``
    rounds, starting from the degrees (c₀ = deg)."""
    adj: dict = {}
    for a, b in edge_list:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    c = {v: len(ns) for v, ns in adj.items()}
    for _ in range(rounds):
        nxt = {}
        for v, ns in adj.items():
            vals = sorted((c[u] for u in ns), reverse=True)
            nxt[v] = max(
                (r for r, x in enumerate(vals, 1) if x >= r), default=0
            )
        c = nxt
    return c


def _kc_rows(df, **kw):
    from datawarehouse_backup_system_spark.operators.graph import (
        core_numbers,
    )

    return sorted(map(tuple, core_numbers(df, **kw).collect()))


def test_core_numbers_chunked_matches_per_round(spark, tmp_path):
    """Value parity of the one staging path against a pure-Python
    H-index refinement run to the same 32-round cap."""
    exp = sorted(_hindex_rounds(_KC_EDGES, 32).items())
    got = _kc_rows(
        _kc_edges(spark), iterations=32, stage_path=str(tmp_path / "s")
    )
    assert got == exp


def test_core_numbers_chunked_respects_iteration_cap(spark, tmp_path):
    """Cap exhaustion: with iterations below convergence the result is
    the EXACT iterations-round refinement — the loop counts real
    rounds, never overshoots the cap."""
    df = _kc_edges(spark)
    a = _kc_rows(df, iterations=3, stage_path=str(tmp_path / "a"))
    assert a == sorted(_hindex_rounds(_KC_EDGES, 3).items())
    # and the capped refinement genuinely differs from the fixpoint
    # (otherwise this pin tests nothing)
    assert a != _kc_rows(df, stage_path=str(tmp_path / "c"))


def test_core_numbers_byte_gate_forces_per_round(spark, tmp_path):
    """Every round is staged and checked, so a graph whose fixpoint is
    round k stops after staging round k+1: the surviving round dir is
    r<k+1>, the only one left."""
    k = next(
        t for t in range(1, 32)
        if _hindex_rounds(_KC_EDGES, t) == _hindex_rounds(_KC_EDGES, t + 1)
    )
    # a parquet source has size stats, so no size probe could route
    # this call to another staging path
    _kc_edges(spark).write.parquet(str(tmp_path / "edges"))
    edges = spark.read.parquet(str(tmp_path / "edges"))
    out = _kc_rows(edges, stage_path=str(tmp_path / "g"))
    assert out == sorted(_hindex_rounds(_KC_EDGES, k).items())
    rounds = [
        p.name
        for p in (tmp_path / "g").iterdir()
        if p.name.startswith("r") and p.name[1:].isdigit()
    ]
    assert rounds == [f"r{k + 1}"]


def test_staged_read_back_launches_no_job(spark, tmp_path):
    """graph._stage writes once and reads the directory back with the
    frame's own schema: the read-back runs no schema-inference job, so
    staging costs exactly the write's jobs. A plain ``read.parquet`` of
    the same directory runs one."""
    from test_ledger import _jobs_in

    from datawarehouse_backup_system_spark.operators.graph import _stage

    df = spark.createDataFrame(
        [(i, i * 2) for i in range(10)], "a bigint, val bigint"
    ).coalesce(1)
    write = _jobs_in(
        spark, "stage-write",
        lambda: df.write.mode("overwrite").parquet(str(tmp_path / "w")),
    )
    staged = {}
    stage = _jobs_in(
        spark, "stage-helper",
        lambda: staged.setdefault("df", _stage(df, str(tmp_path / "s"))),
    )
    assert write >= 1 and stage == write
    assert sorted(map(tuple, staged["df"].collect())) == [
        (i, i * 2) for i in range(10)
    ]
    assert _jobs_in(
        spark, "stage-infer", lambda: spark.read.parquet(str(tmp_path / "s"))
    ) == 1
