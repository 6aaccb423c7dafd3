"""Unit tests for the round-4 curation operators: line-level boilerplate
dedup, domain-mixture sampling, vocabulary top-k, TF-IDF, int8
quantization."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from datawarehouse_backup_system_spark.operators.quantize import (
    quantize_embeddings,
)
from datawarehouse_backup_system_spark.operators.sampling import (
    domain_mixture,
)
from datawarehouse_backup_system_spark.operators.text import (
    line_dedup,
    tfidf_top_terms,
    vocab_topk,
)


# --------------------------------------------------------------------------
# line_dedup
# --------------------------------------------------------------------------
def _line_docs(spark):
    boiler = "copyright footer"
    rows = [
        (1, f"{boiler}\nunique one\nalpha beta"),
        (2, f"{boiler}\nunique two"),
        (3, f"{boiler}\nunique three"),
        (4, boiler),  # all-boilerplate doc
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_line_dedup_removes_frequent_lines_keeps_order(spark):
    out = {
        r["doc_id"]: r
        for r in line_dedup(
            _line_docs(spark), "doc_id", "text", min_df=3
        ).collect()
    }
    assert out[1]["clean_text"] == "unique one\nalpha beta"
    assert out[1]["n_lines"] == 3 and out[1]["n_kept"] == 2
    assert out[2]["clean_text"] == "unique two"
    # every line boilerplate -> present with empty text, not dropped
    assert out[4]["clean_text"] == "" and out[4]["n_kept"] == 0


def test_line_dedup_min_df_above_frequency_keeps_everything(spark):
    docs = _line_docs(spark)
    out = line_dedup(docs, "doc_id", "text", min_df=10)
    joined = (
        out.join(docs, "doc_id")
        .where(F.col("clean_text") != F.col("text"))
        .count()
    )
    assert joined == 0


# --------------------------------------------------------------------------
# domain_mixture
# --------------------------------------------------------------------------
def _mix_docs(spark):
    rows = [(i, "web" if i % 2 else "code", 100) for i in range(200)]
    return spark.createDataFrame(rows, ["doc_id", "source", "n_tokens"])


def test_domain_mixture_full_budget_keeps_domain(spark):
    docs = _mix_docs(spark)
    targets = spark.createDataFrame(
        [("web", 1_000_000), ("code", 2_000)], ["source", "target_tokens"]
    )
    out = domain_mixture(docs, "doc_id", "source", "n_tokens", targets)
    web = out.where(F.col("source") == "web").count()
    code = out.where(F.col("source") == "code").count()
    assert web == 100  # fraction 1 -> whole domain kept
    # fraction 2000/10000 = 0.2 -> expected ~20 of 100; hash-uniform
    assert 5 <= code <= 45


def test_domain_mixture_deterministic_and_nested(spark):
    docs = _mix_docs(spark)
    small = spark.createDataFrame(
        [("web", 2_000), ("code", 2_000)], ["source", "target_tokens"]
    )
    big = spark.createDataFrame(
        [("web", 5_000), ("code", 5_000)], ["source", "target_tokens"]
    )
    pick = lambda t: {  # noqa: E731
        r["doc_id"]
        for r in domain_mixture(
            docs, "doc_id", "source", "n_tokens", t
        ).collect()
    }
    a1, a2, b = pick(small), pick(small), pick(big)
    assert a1 == a2  # rerun-stable
    assert a1 <= b  # nested thresholds: bigger budget is a superset


# --------------------------------------------------------------------------
# quantize_embeddings
# --------------------------------------------------------------------------
def test_quantize_codes_bounded_and_error_within_half_step(spark):
    rows = [
        (1, [0.0, 1.0, 0.25, 0.75]),
        (2, [-5.0, 5.0, 0.0, 2.5]),
        (3, [3.25, 3.25, 3.25, 3.25]),  # zero range
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r for r in quantize_embeddings(df, "vec_id", "embedding").collect()}
    for vid, r in out.items():
        assert all(0 <= c <= 255 for c in r["q"])
        if vid == 3:
            assert r["max_abs_err"] == 0.0 and set(r["q"]) == {0}
        else:
            assert r["max_abs_err"] <= r["q_scale"] / 2 + 1e-12
    # endpoints hit the extreme codes exactly
    assert out[1]["q"][0] == 0 and out[1]["q"][1] == 255


# --------------------------------------------------------------------------
# vocab_topk / tfidf
# --------------------------------------------------------------------------
def test_vocab_topk_counts_and_rank(spark):
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "a c")], ["doc_id", "text"]
    )
    rows = vocab_topk(df, "text", k=10).collect()
    uni = {r["term"]: (r["cnt"], r["rank"]) for r in rows if r["kind"] == "uni"}
    bi = {r["term"]: r["cnt"] for r in rows if r["kind"] == "bi"}
    assert uni["a"] == (3, 1)
    assert uni["b"][0] == 1 and uni["c"][0] == 1
    assert bi == {"a b": 1, "b a": 1, "a c": 1}


def test_tfidf_distinctive_term_ranks_first(spark):
    df = spark.createDataFrame(
        [
            (1, "common common zebra"),
            (2, "common common common"),
            (3, "common yak yak"),
        ],
        ["doc_id", "text"],
    )
    out = tfidf_top_terms(df, "doc_id", "text", top_n=1).collect()
    best = {r["doc_id"]: r["term"] for r in out}
    assert best[1] == "zebra" and best[3] == "yak"
    # doc 2 only has the ubiquitous term: idf = ln(1) = 0
    two = [r for r in out if r["doc_id"] == 2][0]
    assert math.isclose(two["tfidf"], 0.0, abs_tol=1e-9)


# --------------------------------------------------------------------------
# c01 canonical selection (on top of d09 groups)
# --------------------------------------------------------------------------
def test_canonical_selection_keeps_longest_member(spark, sf_dir):
    from datawarehouse_backup_system_spark.queries.curation_ext import (
        c01_canonical_selection,
    )

    rows = c01_canonical_selection(spark, sf_dir).collect()
    assert rows, "perturbed corpus must produce at least one dup group"
    for r in rows:
        # groups come from PAIRS, so every group has >= 2 members, and
        # the base (untruncated) doc is the longest -> id < 1000
        assert r["n_members"] >= 2
        # truncated variants (ids 1000+) are strictly shorter than their
        # base docs, so the longest member is always a base doc
        assert r["kept_doc_id"] < 1000


# --------------------------------------------------------------------------
# chunk_documents
# --------------------------------------------------------------------------
def test_chunk_overlap_covers_all_tokens_in_order(spark):
    from datawarehouse_backup_system_spark.operators.text import (
        chunk_documents,
    )

    text = " ".join(f"w{i}" for i in range(50))
    df = spark.createDataFrame([(1, text), (2, "tiny doc")], ["doc_id", "text"])
    out = chunk_documents(df, "doc_id", "text", chunk_tokens=16, overlap=4)
    rows = sorted(
        [r for r in out.collect() if r["doc_id"] == 1],
        key=lambda r: r["chunk_id"],
    )
    rebuilt = rows[0]["chunk_text"].split(" ")
    for r in rows[1:]:
        toks = r["chunk_text"].split(" ")
        # consecutive chunks share exactly `overlap` tokens
        assert rebuilt[-4:] == toks[:4]
        rebuilt.extend(toks[4:])
    assert rebuilt == text.split(" ")
    assert all(r["chunk_id"] == i for i, r in enumerate(rows))
    # short doc -> exactly one chunk containing everything
    tiny = [r for r in out.collect() if r["doc_id"] == 2]
    assert len(tiny) == 1 and tiny[0]["chunk_text"] == "tiny doc"


# --------------------------------------------------------------------------
# quantile_filter
# --------------------------------------------------------------------------
def test_quantile_filter_drops_exact_bottom_fraction(spark):
    from datawarehouse_backup_system_spark.operators.sampling import (
        quantile_filter,
    )

    rows = [(i, "a", i) for i in range(8)] + [(100 + i, "b", -i) for i in range(5)]
    df = spark.createDataFrame(rows, ["k", "s", "score"])
    out = quantile_filter(df, "k", "s", "score", drop_frac=0.25)
    a = sorted(r["k"] for r in out.collect() if r["s"] == "a")
    b = sorted(r["k"] for r in out.collect() if r["s"] == "b")
    assert a == [2, 3, 4, 5, 6, 7]  # floor(8*.25)=2 lowest scores dropped
    assert b == [100, 101, 102, 103]  # floor(5*.25)=1 dropped (score -4)


# --------------------------------------------------------------------------
# incremental_neardup_pairs
# --------------------------------------------------------------------------
def test_incremental_neardup_only_cross_batch_pairs(spark):
    from datawarehouse_backup_system_spark.operators.dedup_approx import (
        incremental_neardup_pairs,
    )

    base = " ".join(f"tok{i}" for i in range(30))
    hist = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "completely different words here now")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(101, " ".join(base.split()[2:]))],  # near-dup of doc 1 (and 2)
        ["doc_id", "text"],
    )
    pairs = incremental_neardup_pairs(
        new, hist, "doc_id", "text", threshold=0.5
    ).collect()
    got = {(r["id_new"], r["id_hist"]) for r in pairs}
    assert (101, 1) in got
    # history docs 1 and 2 are near-dups of EACH OTHER but must never
    # be re-paired by the incremental pass
    assert all(p[0] == 101 for p in got)
    assert all(r["jaccard"] >= 0.5 for r in pairs)


# --------------------------------------------------------------------------
# zorder: morton code correctness + clustering benefit
# --------------------------------------------------------------------------
def _py_morton(xs: list[int], bits: int) -> int:
    code = 0
    for i, v in enumerate(xs):
        for j in range(bits):
            code |= ((v >> j) & 1) << (j * len(xs) + i)
    return code


def test_morton_code_matches_reference(spark):
    from datawarehouse_backup_system_spark.operators.zorder import morton_code

    rows = [(a, b, c) for a in (0, 1, 5, 255) for b in (0, 3, 254) for c in (0, 7)]
    df = spark.createDataFrame(rows, ["x", "y", "z"])
    out = df.select(
        "x", "y", "z",
        morton_code([F.col("x"), F.col("y"), F.col("z")], bits=8).alias("code"),
    ).collect()
    for r in out:
        assert r["code"] == _py_morton([r["x"], r["y"], r["z"]], 8)


def test_zorder_partitions_cover_small_rectangles(spark):
    """After zorder_by, each partition spans a small x/y rectangle vs
    the unclustered layout — the property min/max stats pruning needs."""
    from pyspark.sql import functions as SF

    from datawarehouse_backup_system_spark.operators.zorder import zorder_by

    n = 1 << 12
    df = spark.range(n).select(
        (F.col("id") * 2654435761 % n).alias("x"),  # scrambled
        (F.col("id") * 40503 % n).alias("y"),
    )

    def spread(frame):
        return (
            frame.withColumn("p", SF.spark_partition_id())
            .groupBy("p")
            .agg(
                (SF.max("x") - SF.min("x")).alias("sx"),
                (SF.max("y") - SF.min("y")).alias("sy"),
            )
            .agg(SF.avg(SF.col("sx") + SF.col("sy")).alias("s"))
            .collect()[0]["s"]
        )

    clustered = zorder_by(df, ["x", "y"], bits=12, n_partitions=16)
    assert spread(clustered) < spread(df.repartition(16)) * 0.5

    # review r8: a column whose RANGE exceeds 2^bits must still cluster
    # — the old pmod "clamp" wrapped (0 and 2^bits mapped together), so
    # every partition spanned the whole domain and pruning was void
    wide = df.select(
        (F.col("x") * 1_000_003).alias("x"),  # range >> 2^12
        (F.col("y") * 777_777).alias("y"),
    )
    wide_clustered = zorder_by(wide, ["x", "y"], bits=12, n_partitions=16)
    assert spread(wide_clustered) < spread(wide.repartition(16)) * 0.5


# --------------------------------------------------------------------------
# heavy_hitters sketch: retention guarantee in the lossy regime
# --------------------------------------------------------------------------
def test_heavy_hitters_retains_frequent_items_lossy(spark):
    from datawarehouse_backup_system_spark.operators.sketches import (
        heavy_hitters,
    )

    # 1000 'hot' + 900 'warm' + 2000 distinct singletons; capacity 16
    rows = (
        [("hot",)] * 1000 + [("warm",)] * 900 + [(f"u{i}",) for i in range(2000)]
    )
    df = spark.createDataFrame(rows, ["item"]).repartition(8)
    out = {
        r["item"]: r["est_count"]
        for r in heavy_hitters(df, "item", capacity=16).collect()
    }
    n = len(rows)
    # retention: true freq > n/(capacity+1) ≈ 229 must survive
    assert "hot" in out and "warm" in out
    # counts are lower bounds, undercounting at most n/(capacity+1)
    # per partition-merge level; generous envelope here
    assert 1000 >= out["hot"] > 1000 - 2 * n / 17
    assert 900 >= out["warm"] > 900 - 2 * n / 17


def test_heavy_hitters_exact_when_capacity_exceeds_distinct(spark):
    from datawarehouse_backup_system_spark.operators.sketches import (
        heavy_hitters,
    )

    rows = [(f"t{i % 7}",) for i in range(70)]
    df = spark.createDataFrame(rows, ["item"]).repartition(4)
    out = {
        r["item"]: r["est_count"]
        for r in heavy_hitters(df, "item", capacity=100).collect()
    }
    assert out == {f"t{i}": 10 for i in range(7)}


def test_negative_samples_cross_domain_and_deterministic(spark):
    from datawarehouse_backup_system_spark.operators.sampling import (
        negative_samples,
    )

    rows = [(i, "web" if i % 2 else "code") for i in range(40)]
    docs = spark.createDataFrame(rows, ["doc_id", "source"])
    anchors = docs.where(F.col("doc_id") < 4)
    run = lambda: sorted(  # noqa: E731
        (r["anchor_id"], r["neg_id"], r["rank"])
        for r in negative_samples(
            docs, "doc_id", "source", anchors, k=3, salt="s"
        ).collect()
    )
    out = run()
    doms = dict(rows)
    for a, n, _ in out:
        assert doms[a] != doms[n]          # strictly cross-domain
        assert n not in {x for x, _ in rows if x == a}
    per_anchor = {}
    for a, n, rk in out:
        per_anchor.setdefault(a, []).append(rk)
    assert all(sorted(v) == [1, 2, 3] for v in per_anchor.values())
    assert out == run()                    # rerun-stable


def test_zorder_written_files_have_tight_minmax_stats(spark, tmp_path):
    """The claim behind zorder_by is FILE SKIPPING: after a clustered
    write, each parquet file's min/max span on every clustered column is
    a fraction of the domain, so a multi-column predicate prunes most
    files from the footer stats alone. Verified against the actual
    written footers via pyarrow."""
    import pyarrow.parquet as pq

    from datawarehouse_backup_system_spark.operators.zorder import zorder_by

    n = 1 << 12
    df = spark.range(n).select(
        (F.col("id") * 2654435761 % n).alias("x"),
        (F.col("id") * 40503 % n).alias("y"),
    )

    def spans(path):
        out = []
        for f in sorted(path.glob("*.parquet")):
            md = pq.ParquetFile(str(f)).metadata
            for rg in range(md.num_row_groups):
                row = {}
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in ("x", "y"):
                        st = col.statistics
                        row[name] = st.max - st.min
                out.append(row["x"] + row["y"])
        return out

    zdir = tmp_path / "z"
    rdir = tmp_path / "r"
    zorder_by(df, ["x", "y"], bits=12, n_partitions=16).drop(
        "_zcode"
    ).write.parquet(str(zdir))
    df.repartition(16).write.parquet(str(rdir))
    z_spans, r_spans = spans(zdir), spans(rdir)
    assert z_spans and r_spans
    # random layout: every file spans ~the whole domain on both axes;
    # clustered: average combined span well under half of that
    assert sum(z_spans) / len(z_spans) < 0.5 * sum(r_spans) / len(r_spans)


def test_heavy_hitters_numeric_item_column(spark):
    """Review r7: the mapInPandas schema declares `item string`; a
    LongType item column used to crash the Arrow conversion. Items are
    now cast up front, matching the kmv/cms cast-first discipline."""
    from datawarehouse_backup_system_spark.operators.sketches import (
        heavy_hitters,
    )

    df = spark.createDataFrame(
        [(7,)] * 30 + [(i,) for i in range(50)], "user_id bigint"
    )
    got = {
        r["item"]: r["est_count"]
        for r in heavy_hitters(df, "user_id", capacity=8).collect()
    }
    assert "7" in got and got["7"] >= 30 - 50 // 9  # MG retention bound


def test_line_dedup_metachar_delimiter(spark):
    """Review r7: delim is a LITERAL on both split and rejoin — a regex
    metacharacter delimiter used to split on every character."""
    from datawarehouse_backup_system_spark.operators.text import line_dedup

    docs = [(i, f"unique{i}|SHARED AD BANNER|tail{i}") for i in range(4)]
    df = spark.createDataFrame(docs, "id bigint, text string")
    out = {r["id"]: r for r in line_dedup(df, "id", "text",
                                          min_df=3, delim="|").collect()}
    assert out[0]["n_lines"] == 3
    assert out[0]["n_kept"] == 2
    assert out[0]["clean_text"] == "unique0|tail0"


def test_domain_mixture_preserves_input_schema(spark):
    """Review r7: the broadcast plan join must not leak target_tokens
    (or any extra targets column) into the sampled output."""
    from datawarehouse_backup_system_spark.operators.sampling import (
        domain_mixture,
    )

    df = spark.createDataFrame(
        [(i, "web", 100) for i in range(50)],
        "doc_id bigint, source string, n_tokens bigint",
    )
    targets = spark.createDataFrame(
        [("web", 2000, "note")],
        "source string, target_tokens bigint, extra string",
    )
    out = domain_mixture(df, "doc_id", "source", "n_tokens", targets)
    assert out.columns == df.columns
    assert 0 < out.count() < 50


def test_quantile_filter_drops_null_scores(spark):
    """Review r9: NULL scores are unrankable and must be DROPPED — the
    filter previously ranked them first and counted them in n."""
    from datawarehouse_backup_system_spark.operators.sampling import (
        quantile_filter,
    )

    rows = [(i, "a", float(i)) for i in range(1, 9)] + [
        (100 + j, "a", None) for j in range(4)
    ]
    df = spark.createDataFrame(rows, "doc_id long, dom string, score double")
    exact = quantile_filter(df, "doc_id", "dom", "score", drop_frac=0.25)
    # 8 scored rows, drop floor(8*0.25)=2 lowest; NULLs gone
    assert sorted(r["doc_id"] for r in exact.collect()) == list(range(3, 9))


def test_domain_mixture_zero_token_domain_keeps_nothing(spark):
    """Review r9: a domain whose total tokens is 0 previously
    SATURATED to keep-everything (least() skips the NULL from /0);
    now it keeps nothing (and no longer crashes under ANSI)."""
    from datawarehouse_backup_system_spark.operators.sampling import (
        domain_mixture,
    )

    df = spark.createDataFrame(
        [(1, "web", 100), (2, "web", 100), (3, "empty", 0), (4, "empty", 0)],
        "doc_id long, dom string, tokens long",
    )
    targets = spark.createDataFrame(
        [("web", 200), ("empty", 50)], "dom string, target_tokens long"
    )
    out = domain_mixture(df, "doc_id", "dom", "tokens", targets)
    doms = {r["dom"] for r in out.collect()}
    assert "empty" not in doms
    assert "web" in doms  # full budget → everything kept


def test_domain_blocklist_mixed_case_pattern_and_reserved_names(spark):
    """Review r9: a mixed-case blocklist entry must still match the
    lowercased host (both the literal-array and DataFrame branches),
    and reserved output names fail loudly instead of silently
    overwriting caller columns."""
    import pytest as _pytest

    from datawarehouse_backup_system_spark.operators.curation import (
        domain_blocklist,
    )

    df = spark.createDataFrame(
        [(1, "https://tracker.example.com/x"), (2, "https://ok.org/y")],
        "doc_id long, url string",
    )
    for pats in (
        ["Tracker.Example.COM"],
        spark.createDataFrame([("Tracker.Example.COM",)], "pattern string"),
    ):
        out = {r["doc_id"]: r["blocked"] for r in
               domain_blocklist(df, "doc_id", "url", pats).collect()}
        assert out == {1: True, 2: False}

    clash = df.withColumn("blocked", df.doc_id > 0)
    with _pytest.raises(ValueError, match="blocked"):
        domain_blocklist(clash, "doc_id", "url", ["x.com"])


def test_curation_report_null_id_not_dropped(spark):
    """Review r9: a NULL doc id must still appear in the report (the
    'never dropped here' contract) — the plain equality joins
    previously lost it."""
    from datawarehouse_backup_system_spark.operators.curation import (
        curation_report,
    )

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again"),
         (None, "another plain english document with enough words to pass")],
        "doc_id long, text string",
    )
    rep = curation_report(df, "doc_id", "text")
    ids = [r["doc_id"] for r in rep.collect()]
    assert len(ids) == 2 and None in ids


def test_e02_approx_swap_tracks_exact_tie_only(
    spark, sf_dir, monkeypatch
):
    """VERDICT r9 item 4: forcing the approx tier (threshold 0) must
    reproduce the exact global-rank trim up to TIES AT THE CUT VALUES —
    every row the two tiers disagree on carries exactly a cut norm, and
    the approx tier routes through the band filter (no global window)."""
    from datawarehouse_backup_system_spark.queries.curation_ext import (
        _e02_staged,
        _e02_trim_exact,
        e02_embedding_outliers,
    )

    from datawarehouse_backup_system_spark.queries.curation_ext import (
        _e02_trim_approx,
    )

    # (a) varied distinct norms: the two tiers agree up to the
    # documented boundary semantics — the approx band KEEPS the row
    # equal to each cut value (the exact form cuts a precise count),
    # so the divergence is at most one row per side, at the cut
    staged = spark.range(0, 400).selectExpr(
        "id as vec_id",
        "cast(round(0.5 + id * 0.01, 6) as double) as l2_norm",
    )
    exact_syn = {
        (r["vec_id"], r["l2_norm"])
        for r in _e02_trim_exact(staged).collect()
    }
    approx_syn = {
        (r["vec_id"], r["l2_norm"])
        for r in _e02_trim_approx(staged).collect()
    }
    assert len(exact_syn) == 360
    assert exact_syn <= approx_syn  # approx only ADDS boundary rows
    extra = approx_syn - exact_syn
    band = {min(n for _, n in approx_syn), max(n for _, n in approx_syn)}
    assert len(extra) <= 2 and all(n in band for _, n in extra), extra

    # (b) the fixture (all unit norms — EVERY row ties at the cut):
    # divergence must be tie-only, and the forced-approx spec path must
    # really route through the band filter, not the global window
    exact = {
        (r["vec_id"], r["l2_norm"])
        for r in e02_embedding_outliers(spark, sf_dir).collect()
    }
    monkeypatch.setattr(
        "datawarehouse_backup_system_spark.queries.curation_ext."
        "_E02_APPROX_MIN_BYTES", 0,
    )
    approx_df = e02_embedding_outliers(spark, sf_dir)
    plan = approx_df._jdf.queryExecution().analyzed().toString()
    assert "row_number" not in plan
    approx = {(r["vec_id"], r["l2_norm"]) for r in approx_df.collect()}
    norms = sorted(n for _, n in exact)
    cut_values = {norms[0], norms[-1]}
    diff = exact.symmetric_difference(approx)
    assert all(n in cut_values for _, n in diff), sorted(diff)[:5]
