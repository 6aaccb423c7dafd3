"""Regression pins for the five round-10 ADVICE items fixed in round 11
(each named in the fix commit), plus pins from the round-11 review
passes (added below as the passes run)."""

from __future__ import annotations

from pathlib import Path

import pytest


# --------------------------------------------------------------------------
# ADVICE r10 item 1 — e02's tier probe must be cluster-storage-aware
# --------------------------------------------------------------------------
def test_e02_tier_probe_uses_stage_du(spark, monkeypatch):
    """ADVICE r10 (curation_ext.py:818): the probe stat'd the embeddings
    footprint with local pathlib only, so a scheme'd sf_dir (hdfs://…)
    read size 0 and pinned the exact single-partition global-rank sort
    at any scale. The probe now routes through graph._stage_du (Hadoop
    getContentSummary on scheme paths); pin that the probe path reaches
    _stage_du and that its return value switches the tier."""
    from datawarehouse_backup_system_spark.operators import graph
    from datawarehouse_backup_system_spark.queries import curation_ext

    seen: list[str] = []

    def fake_du(path, spark=None):
        seen.append(path)
        return fake_du.size

    monkeypatch.setattr(graph, "_stage_du", fake_du)
    monkeypatch.setattr(
        curation_ext, "_e02_trim_exact", lambda staged: "EXACT-TIER"
    )
    monkeypatch.setattr(
        curation_ext, "_e02_trim_approx", lambda staged: "APPROX-TIER"
    )

    sf_dir = "/root/testdata/sf0.001"
    fake_du.size = 10**13  # huge footprint → approx tier
    assert curation_ext.e02_embedding_outliers(spark, sf_dir) == "APPROX-TIER"
    fake_du.size = 0  # unreadable/small → the conservative exact tier
    assert curation_ext.e02_embedding_outliers(spark, sf_dir) == "EXACT-TIER"
    assert seen == [f"{sf_dir}/embeddings.parquet"] * 2


# --------------------------------------------------------------------------
# ADVICE r10 item 2 — batched ingest accounting
# --------------------------------------------------------------------------
def test_ingest_files_divergent_profiles_take_one_plan(spark, tmp_path,
                                                       caplog):
    """ADVICE r10 (ingest.py:555): the exception fallback summed
    rows_in/rows_loaded only over the per-file retries of UNHANDLED
    paths, dropping counts from runs that uploaded before the
    exception. Two profiles of one table are now scans of ONE plan: the
    table is planned once, no fallback runs, and both files count."""
    import logging

    from fixtures import generate_f1

    import test_ingest as ti
    from datawarehouse_backup_system_spark import ledger as ledger_mod

    fx = generate_f1(tmp_path)
    job = ti.make_job(spark, tmp_path, fx)

    # file B is a UTF-16 transcode of fixture file 2: same table, but a
    # divergent (encoding) profile
    a = fx["files"][0]
    b = tmp_path / "divergent" / "last24h__b.csv"
    b.parent.mkdir()
    b.write_bytes(
        fx["files"][1].read_text(encoding="utf-8").encode("utf-16")
    )

    real_table = job._ingest_table
    planned: list[list[str]] = []

    def counted(files, table_key, staging):
        planned.append([f.path.name for f in files])
        return real_table(files, table_key, staging)

    job._ingest_table = counted
    with caplog.at_level(logging.WARNING):
        res = job._ingest_files([a, b], "mini_campaign_events")

    assert planned == [[a.name, b.name]]
    assert "ingesting them one by one" not in caplog.text
    assert [r.status for r in res] == [ledger_mod.STATUS_UPLOADED] * 2
    a_alone_rows = len(ti.fx_rows(fx, 0))
    assert res[0].rows_in == a_alone_rows
    # A's rows + B's rows, not B only
    assert sum(r.rows_in for r in res) > a_alone_rows
    table = job.read_table(job.registry.get("mini_campaign_events"))
    assert sum(r.rows_loaded for r in res) == table.count()


# --------------------------------------------------------------------------
# ADVICE r10 item 4 — stale-round clear failure must be diagnosable
# --------------------------------------------------------------------------
def test_staged_round_root_warns_on_scheme_clear_failure(spark):
    """ADVICE r10 (graph.py:400): a failed cluster-FS list/delete on
    re-entry was swallowed with bare `pass`, silently resurrecting the
    stale-round mixing the clear exists to prevent. It now warns."""
    from datawarehouse_backup_system_spark.operators.graph import (
        _staged_round_root,
    )

    with pytest.warns(RuntimeWarning, match="stale-round clear"):
        _staged_round_root(
            "no-such-scheme://bucket/stage", "pin-", spark
        )


# --------------------------------------------------------------------------
# ADVICE r10 item 5 — tokens()/bigram_rows divergence is documented
# --------------------------------------------------------------------------
def test_tokens_divergence_documented():
    """ADVICE r10 (lm.py:59): the repo carried two tokenizations
    (tokens() space-only-trims; bigram_rows regex-trims). Originally
    this pinned the interim documented-divergence state; the r11
    coordinated migration then RESOLVED it, so the pin upgrades with
    it: one recipe (tokens/WS_CLASS), no local split in any consumer,
    and the migration documented where the divergence note was."""
    import inspect

    from datawarehouse_backup_system_spark.operators import importance, lm
    from datawarehouse_backup_system_spark.operators.text import tokens

    assert "bigram_rows" in (tokens.__doc__ or "")
    assert "migration" in (tokens.__doc__ or "").lower()
    # the consumers ADVICE flagged now share the single definition
    assert "tokens(" in inspect.getsource(lm.bigram_rows)
    assert "F.split(" not in inspect.getsource(lm.bigram_rows)
    assert "text.tokens(" in inspect.getsource(importance.dsir_weights)


# --------------------------------------------------------------------------
# VERDICT r10 item 1 — bench steal gate tightened + drift admission
# --------------------------------------------------------------------------
def test_bench_steal_gate_default_tightened():
    """VERDICT r10 What's-wrong #1: the r10 suite ran at 1.89% steal —
    under the old 2.0% default — and shipped ~45% uniformly inflated.
    Pin the tightened default (the judge asked for ~0.75–1.0%)."""
    src = Path(__file__).resolve().parents[1] / "bench.py"
    text = src.read_text()
    assert '"SPARK_GRAFT_BENCH_STEAL_PCT", "0.75"' in text


def test_bench_hard_budget_admits_full_suite_retry():
    """r11 session: one full-suite attempt measures ~800 s clean /
    ~1000 s contended, so the retry admission `elapsed + pause +
    1.2*wall < hard` could NEVER pass under the old 1500 s default —
    the contention retry was dead code on the official artifact. Pin
    defaults that keep one retry admissible at the measured wall."""
    src = Path(__file__).resolve().parents[1] / "bench.py"
    text = src.read_text()
    import re as _re

    hard = float(_re.search(
        r'"SPARK_GRAFT_BENCH_HARD_S", "(\d+)"', text
    ).group(1))
    wall = 1000.0  # contended full-suite attempt, measured r11
    assert wall + 10 + 1.2 * wall < hard


def test_bench_ref_regression_trigger(tmp_path, monkeypatch):
    """VERDICT r10 item 1: round-over-round admission — a >20%
    common-query regression spread uniformly across families is
    contention the steal probe missed, and must admit a retry; a
    single-family blowup (a real plan change) must NOT."""
    import json

    import bench

    monkeypatch.delenv("SPARK_GRAFT_BENCH_REF", raising=False)
    ref = {f"q{i:02d}_x": 1.0 for i in range(1, 11)}
    ref.update({f"d{i:02d}_y": 1.0 for i in range(1, 11)})
    ref.update({"g03_z": 5.0, "t01_w": 2.0})
    (tmp_path / "BENCH_r09.json").write_text(
        json.dumps({"queries": ref, "sf": 0.1})
    )
    # uniform +50% → the contention signature → trigger
    cur = {k: v * 1.5 for k, v in ref.items()}
    got = bench._ref_regression(cur, art_dir=tmp_path, sf=0.1)
    assert got["trigger"] is True
    assert got["ratio"] == 1.5
    assert got["ref"] == "BENCH_r09.json"
    # one family 10× but the rest flat → a code/plan story, no trigger
    cur2 = dict(ref)
    cur2["g03_z"] = 50.0
    got2 = bench._ref_regression(cur2, art_dir=tmp_path, sf=0.1)
    assert got2["trigger"] is False
    # scale-factor mismatch → the reference is not comparable at all
    assert bench._ref_regression(cur, art_dir=tmp_path, sf=1.0) is None
    # flat run → no trigger
    assert bench._ref_regression(ref, art_dir=tmp_path, sf=0.1)[
        "trigger"
    ] is False


def test_bench_ref_regression_picks_min_total_reference(tmp_path, monkeypatch):
    """The reference must be the MIN-total recent artifact: contention
    only inflates, so the fastest recent round is the cleanest — and a
    contaminated committed artifact (r10) must not mask the check by
    being the newest."""
    import json

    import bench

    monkeypatch.delenv("SPARK_GRAFT_BENCH_REF", raising=False)
    ref = {f"q{i:02d}_x": 1.0 for i in range(1, 21)}
    dirty = {k: v * 1.45 for k, v in ref.items()}  # inflated newer round
    (tmp_path / "BENCH_r09.json").write_text(
        json.dumps({"queries": ref, "sf": 0.1})
    )
    (tmp_path / "BENCH_r10.json").write_text(
        json.dumps({"queries": dirty, "sf": 0.1})
    )
    cur = {k: v * 1.5 for k, v in ref.items()}
    got = bench._ref_regression(cur, art_dir=tmp_path, sf=0.1)
    assert got["ref"] == "BENCH_r09.json"  # min-total, not newest
    assert got["trigger"] is True  # vs r10 alone the ratio would pass


# --------------------------------------------------------------------------
# Review pass A (r11): setjoin / jsonl_source
# --------------------------------------------------------------------------
def test_setjoin_stage_path_empty_corpus_yields_zero_pairs(
    spark, tmp_path
):
    """Review r11: the stage_path read-back inferred schema, so an
    all-empty corpus raised instead of returning zero pairs."""
    from datawarehouse_backup_system_spark.operators.setjoin import (
        prefix_jaccard_join,
    )

    docs = spark.createDataFrame(
        [(1, "   "), (2, "")], "doc_id int, text string"
    )
    out = prefix_jaccard_join(
        docs, "doc_id", "text", stage_path=str(tmp_path / "st")
    )
    assert out.count() == 0


def test_minhash_stage_path_all_short_corpus_yields_zero_pairs(
    spark, tmp_path
):
    """Review r11 (same trap, dedup_approx.py:296): a corpus with no
    shingles stages only _SUCCESS; inference raised."""
    from datawarehouse_backup_system_spark.operators.dedup_approx import (
        minhash_lsh_dedup,
    )

    docs = spark.createDataFrame(
        [(1, "too short"), (2, "also tiny")], "doc_id int, text string"
    )
    out = minhash_lsh_dedup(
        docs, "doc_id", "text", stage_path=str(tmp_path / "sh")
    )
    assert out.count() == 0


def test_jsonl_tab_only_lines_dropped_as_blank(spark, tmp_path):
    """Review r11: F.trim strips ASCII spaces only, so tab/whitespace-
    only lines were parsed and QUARANTINED as corrupt, polluting the
    audit trail despite the 'blank lines are dropped' contract."""
    from pyspark.sql import types as T

    from datawarehouse_backup_system_spark.sources.jsonl_source import (
        read_jsonl,
        split_corrupt,
    )

    p = tmp_path / "x.jsonl"
    p.write_text('{"a": 1}\n\t\n  \n\t \t\n{"a": 2}\n{bad\n')
    schema = T.StructType([T.StructField("a", T.LongType())])
    good, bad = split_corrupt(read_jsonl(spark, str(p), schema))
    assert sorted(r["a"] for r in good.collect()) == [1, 2]
    assert bad.count() == 1  # ONLY the genuinely-malformed line


def test_setjoin_unigrams_use_canonical_tokens():
    """Review r11: the unigram path re-implemented split(trim, \\s+)
    inline; the planned coordinated tokens() migration must reach it."""
    from pathlib import Path as _P

    src = (
        _P(__file__).resolve().parents[1]
        / "datawarehouse_backup_system_spark/operators/setjoin.py"
    ).read_text()
    assert "from .text import tokens" in src


# --------------------------------------------------------------------------
# Review pass B (r11): incremental / fuzzy / skew / expectations
# --------------------------------------------------------------------------
def test_incremental_avg_uses_nonnull_denominator(spark):
    """Review r11: avg_floor divided sum_v (NULL-skipping) by n_rows
    (all rows), skewing the maintained view's average for any nullable
    metric column. A separate n_vals partial fixes the monoid."""
    from pyspark.sql import functions as F

    from datawarehouse_backup_system_spark.operators.incremental import (
        finalize,
        merge_partials,
        partial_aggs,
    )

    df = spark.createDataFrame(
        [("a", 10), ("a", None), ("b", None), ("b", None), ("c", 7)],
        "k string, v int",
    )
    h = df.where("v is not null or k = 'b'")
    b = df.subtract(h)
    view = merge_partials(
        partial_aggs(h, ["k"], "v"), partial_aggs(b, ["k"], "v"), ["k"]
    )
    got = {r["k"]: r.asDict() for r in finalize(view).collect()}
    assert got["a"]["n_rows"] == 2 and got["a"]["n_vals"] == 1
    assert got["a"]["avg_floor"] == 10  # true AVG, not 10 div 2 = 5
    assert got["b"]["avg_floor"] is None  # all-NULL group: NULL, not 0
    assert got["c"]["avg_floor"] == 7


def test_fuzzy_join_finds_short_string_pairs(spark):
    """Review r11: 'abc' vs 'abd' (distance 1) shared no 3-gram and was
    silently missed even with max_df=None, despite the 'exact blocking
    recall' contract. The short-string sentinel block closes the q-gram
    lemma hole."""
    from datawarehouse_backup_system_spark.operators.fuzzy import fuzzy_join

    left = spark.createDataFrame([(1, "abc"), (2, "zz")], "id int, t string")
    right = spark.createDataFrame(
        [(10, "abd"), (20, "zx"), (30, "totally different long string")],
        "id int, t string",
    )
    got = {
        (r["id_l"], r["id_r"]): r["dist"]
        for r in fuzzy_join(
            left, right, "id", "id", "t", "t", max_df=None
        ).collect()
    }
    assert got[(1, 10)] == 1
    assert got[(2, 20)] == 1
    assert (1, 30) not in got


def test_fuzzy_join_rejects_gram_n_zero(spark):
    import pytest as _pytest

    from datawarehouse_backup_system_spark.operators.fuzzy import fuzzy_join

    df = spark.createDataFrame([(1, "x")], "id int, t string")
    with _pytest.raises(ValueError, match="gram_n"):
        fuzzy_join(df, df, "id", "id", "t", "t", gram_n=0)


def test_salted_join_handles_struct_columns_and_reserved_name(spark):
    """Review r11: the default salt source concat_ws failed at analysis
    time on struct/map probe columns (F.hash takes them directly), and
    a pre-existing '_salt' column was silently overwritten then dropped."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from datawarehouse_backup_system_spark.operators.skew import salted_join

    probe = spark.createDataFrame(
        [(1, ("x", 2)), (1, ("y", 3)), (2, ("z", 4))],
        "k int, payload struct<a: string, b: int>",
    )
    build = spark.createDataFrame([(1, "one"), (2, "two")], "k int, name string")
    out = salted_join(probe, build, "k", salt=4)
    assert out.count() == 3  # analysis no longer fails; join correct
    assert sorted(r["name"] for r in out.collect()) == ["one", "one", "two"]

    poisoned = probe.withColumn("_salt", F.lit(99))
    with _pytest.raises(ValueError, match="_salt"):
        salted_join(poisoned, build, "k")


def test_satisfies_counts_null_predicate_as_violation(spark):
    """Review r11: count_if(~cond) skipped NULL predicate rows, so an
    all-NULL column PASSED 'v > 0'."""
    from pyspark.sql import functions as F

    from datawarehouse_backup_system_spark.operators.expectations import (
        run_checks,
        satisfies,
    )

    df = spark.createDataFrame(
        [(None,), (None,), (3,)], "v int"
    )
    rows = {
        r["check_name"]: r.asDict()
        for r in run_checks(
            df, [satisfies("v_positive", F.col("v") > 0)]
        ).collect()
    }
    assert rows["v_positive"]["violations"] == 2
    assert rows["v_positive"]["passed"] is False


# --------------------------------------------------------------------------
# Review pass C (r11): spec-layer oracle-blindness (scale_ext/curation_ext)
# --------------------------------------------------------------------------
def test_quantile_family_handles_all_null_values(spark, tmp_path):
    """Review r11: an empty/all-NULL value column crashed h02/c03/h04 at
    bin_width(None, ...) with TypeError while their oracles return
    empty — now the degenerate domain flows through to a schema-stable
    empty result (a07 already guarded this)."""
    from pyspark.sql import functions as F

    from datawarehouse_backup_system_spark.queries.scale_ext import (
        c03_isotonic_calibration,
        h02_group_quantiles,
        h04_sketch_vs_exact,
    )

    ev = spark.createDataFrame(
        [(1, 10, "view"), (2, 11, "purchase")],
        "event_id int, user_id int, event_type string",
    ).select(
        "event_id", "user_id", "event_type",
        F.lit(None).cast("double").alias("value"),
        F.lit("2026-01-05 10:00:00").cast("timestamp").alias("ts"),
    )
    ev.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    for fn in (h02_group_quantiles, c03_isotonic_calibration,
               h04_sketch_vs_exact):
        out = fn(spark, str(tmp_path))
        assert out.count() == 0, fn.__name__


def test_c03_drops_null_value_rows():
    """Review r11 (oracle-blind on BOTH engines: Spark greatest(0,NULL)
    skips the NULL and DuckDB greatest(0,NULL)=0): value-less events fed
    bucket 0's calibrated rate. Pin the NULL drop in both engines."""
    import inspect

    from datawarehouse_backup_system_spark.queries import scale_ext

    src = inspect.getsource(scale_ext.c03_isotonic_calibration)
    assert 'F.col("value").isNotNull()' in src
    assert "value IS NOT NULL" in scale_ext.C03_SQL


def test_t32_epochs_survives_int64_scale(spark):
    """Review r11: t32's epochs kept the int64 products the adjacent
    w02 comment documents as overflowing (~4e8 docs in one language);
    now routed through decimal(38,0) like w02. Evaluate the shipped
    expression at overflow-scale literals: the int64 form wraps
    negative, the decimal form gives the true ratio."""
    import inspect

    from pyspark.sql import functions as F

    from datawarehouse_backup_system_spark.queries import scale_ext

    src = inspect.getsource(scale_ext.t32_lang_temperature)
    assert "decimal(38,0)" in src
    assert "HUGEINT" in scale_ext.T32_SQL

    n = 400_000_000  # one language with 4e8 docs
    wq = int((n ** 0.5) * 1_000_000)
    row = spark.createDataFrame(
        [(wq, n, wq, n)], "wq long, n_total long, wq_total long, n_docs long"
    ).select(
        (
            F.expr(
                "cast((cast(wq as decimal(38,0)) * n_total * 1000000)"
                " div (cast(wq_total as decimal(38,0)) * n_docs)"
                " as bigint)"
            )
            / F.lit(1_000_000.0)
        ).alias("epochs")
    ).collect()[0]
    assert row["epochs"] == 1.0  # the int64 form wrapped negative here


def test_neardup_corpus_base_ids_sliced(spark):
    """Review r11: above 100000 base docs, a base doc_id collided with
    another doc's perturbed id (+100000) and BOTH engines silently
    merged two texts under one id — oracle-blind. The helper now slices
    base docs to doc_id < 100000 on both engines."""
    from pyspark.sql import functions as F

    from datawarehouse_backup_system_spark.queries.llm_ops import (
        _NEARDUP_CORPUS_SQL,
        _with_neardups,
    )

    docs = spark.createDataFrame(
        [(5, "one two three four five six seven eight nine ten"),
         (100005, "a completely different text with many many words here")],
        "doc_id int, text string",
    )
    corpus = _with_neardups(docs)
    rows = {r["doc_id"]: r["text"] for r in corpus.collect()}
    assert len(rows) == 2  # base 5 + its perturbed copy, nothing else
    # id 100005 is doc 5's PERTURBED copy, not the out-of-range base doc
    assert rows[100005] == "four five six seven eight nine ten"
    assert "completely different" not in " ".join(rows.values())
    assert "doc_id < 100000" in _NEARDUP_CORPUS_SQL


def test_q46_has_no_forced_broadcasts():
    """Review r11: forced F.broadcast of sf-linear parent key sets
    bypasses the size threshold and breaks at the spec's own 100 TB
    regime (8 GB broadcast hard limit); AQE picks per-run."""
    import inspect

    from datawarehouse_backup_system_spark.queries import scale_ext

    assert "F.broadcast(" not in inspect.getsource(scale_ext.q46_fk_orphans)


def test_r09_oracle_mirrors_self_exclusion_and_dims():
    """Review r11: the oracle scored a corpus vector equal to the probe
    id (Spark's bucketed_ann excludes it) and hardcoded 64 dims; plus
    the probe slice is now bounded below 1e6 on both engines."""
    from datawarehouse_backup_system_spark.queries import scale_ext

    assert "c.vec_id <> qp.query_id" in scale_ext.R09_SQL
    assert "vec_id < 1000000" in scale_ext.R09_SQL
    assert "range(64)" not in scale_ext.R09_SQL
    import inspect

    assert "1_000_000" in inspect.getsource(scale_ext.r09_recall_planted)


def test_curation_oracles_use_regex_tokenization():
    """Review r11: five curation oracles split on a literal space while
    their Spark sides tokenize via tokens() (\\s+) — latent divergence
    on any multi-space/tab text, contradicting tokens()'s documented
    all-consumers-agree contract."""
    from datawarehouse_backup_system_spark.queries import curation_ext as c

    for sql in (c.T12_SQL, c.T14_SQL, c.T15_SQL, c.T17_SQL):
        assert "string_split(trim(text), ' ')" not in sql, sql[:80]


def test_z02_is_one_scan(spark):
    """Review r11: z02 claimed 'ONE staged scan' but executed three;
    the (zbucket, rbucket) pair rollup + persist makes it true — and
    the restructure must not change the report."""
    from datawarehouse_backup_system_spark.queries.scale_ext import (
        z02_skipping_report,
    )

    out = z02_skipping_report(spark, "/root/testdata/sf0.001")
    rows = {r["layout"]: r.asDict() for r in out.collect()}
    assert set(rows) == {"zorder", "rowkey"}
    assert rows["rowkey"]["n_buckets"] == 64
    assert (
        rows["zorder"]["rows_matching"] == rows["rowkey"]["rows_matching"]
    )


# --------------------------------------------------------------------------
# Review pass D (r11): this round's own additions
# --------------------------------------------------------------------------
def test_hash_index_catalog_name_disambiguates_raw_names(tmp_path):
    """Review r11: sanitizing the table name alone collapsed 'a.b' and
    'a_b' onto ONE catalog identifier while their roots stayed separate
    — cross-wiring two tables' indexes. The digest now covers the raw
    name."""
    from datawarehouse_backup_system_spark.plans.hash_index import (
        _catalog_name,
    )

    assert _catalog_name(tmp_path, "a.b") != _catalog_name(tmp_path, "a_b")
    assert _catalog_name(tmp_path, "t") != _catalog_name(
        tmp_path / "other", "t"
    )


def test_hash_index_refuses_manifest_overclaim(spark, tmp_path, monkeypatch):
    """Review r11: a manifest claiming coverage over a lost/partially-
    restored index data dir served an EMPTY hash frame and silently
    re-admitted every previously-seen row. Now it warns and falls back."""
    import warnings as _warnings

    from fixtures import generate_f1

    import test_ingest as ti
    from datawarehouse_backup_system_spark.plans import hash_index

    monkeypatch.setattr(hash_index, "_INDEX_MIN_BYTES", 1)
    monkeypatch.setattr(hash_index, "_INDEX_BUCKETS", 4)
    fx = generate_f1(tmp_path)
    job = ti.make_job(spark, tmp_path, fx)
    r0 = job.process_file(fx["files"][0])
    schema = job.registry.get("mini_campaign_events")
    probe = job.read_table(schema).select("row_hash").limit(1)
    job._dedup_against_history(probe, schema).count()  # build index

    data_dir = (
        tmp_path / "warehouse" / "_hashidx" / schema.table_name / "data"
    )
    for f in data_dir.glob("*.parquet"):
        f.unlink()  # simulate the lost-index restore

    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        out = hash_index.history_hash_frame(
            spark, tmp_path / "warehouse",
            job.table_path(schema), schema.table_name,
        )
    assert out is None
    assert any("unavailable" in str(x.message) for x in w)
    # and the ingest path still dedups correctly via the fallback
    dup = tmp_path / "last24h__re0.csv"
    dup.write_bytes(fx["files"][0].read_bytes())
    assert job.process_file(dup).rows_loaded == 0
    assert r0.rows_loaded > 0


def test_langid_ngram_empty_model_means_und(spark):
    """Review r11: `model_rows or ...` silently swapped an explicit
    empty model for the default trained one."""
    from datawarehouse_backup_system_spark.operators import text

    df = spark.createDataFrame(
        [(1, "the house and the dog")], "doc_id int, text string"
    )
    rows = text.langid_ngram(df, "doc_id", "text", model_rows=[]).collect()
    assert rows[0]["predicted_lang"] == "und"
    assert rows[0]["oop_distance"] is None


def test_dedup_against_history_single_walk():
    """Review r11: the footprint probe re-walked the whole table tree
    after live_write_pairs already had; one walk now serves both."""
    from pathlib import Path as _P

    src = (
        _P(__file__).resolve().parents[1]
        / "datawarehouse_backup_system_spark/plans/ingest.py"
    ).read_text()
    body = src.split("def _dedup_against_history")[1].split("\n    def ")[0]
    assert "_stage_du(" not in body  # no second walk
    assert "listed=listed" in src


# --------------------------------------------------------------------------
# Review pass E (r11): llm_ops/extras spec layer
# --------------------------------------------------------------------------
def test_probe_slice_is_absolutely_bounded(spark):
    """Review r11: the ANN probe set was a pure %100 slice — an
    unbounded 1% FRACTION of the corpus, force-broadcast as the query
    side and making every exact recall baseline quadratic. The shared
    predicate now caps ids absolutely (≤2000 probes at any sf)."""
    from pyspark.sql import functions as F

    from datawarehouse_backup_system_spark.queries.llm_ops import (
        _probe_slice,
    )

    df = spark.range(0, 1_000_000).select(F.col("id").alias("vec_id"))
    n = df.where(_probe_slice()).count()
    assert n == 2000  # bounded regardless of corpus size
    # and the oracles carry the same cap
    from datawarehouse_backup_system_spark.queries import llm_ops

    assert "vec_id < 200000" in llm_ops.D07_SQL
    assert "vec_id < 200000" in llm_ops.D08_SQL
    assert "vec_id < 200000" in llm_ops.D10_SQL
    assert "vec_id < 200000" in llm_ops.D11_SQL


def test_t09_eval_set_is_absolutely_bounded():
    """Review r11: the %97 eval slice grew linearly with the corpus and
    its broadcast shingle set with it; real eval benchmarks are fixed-
    size, so the slice now caps ids (≤1000 eval docs at any sf)."""
    import inspect

    from datawarehouse_backup_system_spark.queries import llm_ops

    src = inspect.getsource(llm_ops.t09_decontaminate)
    assert "97_000" in src
    assert "doc_id < 97000" in llm_ops.T09_SQL


def test_minhash_pairs_use_aqe_not_forced_broadcast():
    """Review r11: max_bucket_size bounds PER-BUCKET fan-out, not the
    TOTAL pair count (a near-dup-heavy corpus yields Theta(N) pairs
    under any cap), so minhash_lsh_dedup no longer opts into a forced
    pair broadcast — AQE broadcasts when the set is actually small."""
    import inspect

    from datawarehouse_backup_system_spark.operators import dedup_approx

    src = inspect.getsource(dedup_approx.minhash_lsh_dedup)
    assert "broadcast_pairs" not in src


def test_bench_ref_regression_reads_history(tmp_path, monkeypatch):
    """The driver's committed artifacts truncate the per-query dict, so
    bench.py self-records full timings to BENCH_history.jsonl; clean
    history entries serve as references and contended ones are ignored."""
    import json

    import bench

    monkeypatch.delenv("SPARK_GRAFT_BENCH_REF", raising=False)
    ref = {f"q{i:02d}_x": 1.0 for i in range(1, 25)}
    hist = [
        {"sf": 0.1, "queries": {k: v * 2 for k, v in ref.items()},
         "contended": True},   # noisy entry must be ignored
        {"sf": 0.1, "queries": ref, "contended": False},
        {"sf": 1.0, "queries": ref, "contended": False},  # wrong sf
    ]
    (tmp_path / "BENCH_history.jsonl").write_text(
        "\n".join(json.dumps(e) for e in hist) + "\n"
    )
    cur = {k: v * 1.5 for k, v in ref.items()}
    got = bench._ref_regression(cur, art_dir=tmp_path, sf=0.1)
    assert got["trigger"] is True
    assert got["ref"].startswith("hist")
    assert got["ratio"] == 1.5  # compared vs the CLEAN entry, not the noisy


# --------------------------------------------------------------------------
# Review pass F (r11): analytics_ext/corpus_ext/pipeline_ext spec layer
# --------------------------------------------------------------------------
def test_pass_f_source_contracts():
    """Review r11 pass F, source-contract pins: r06's oracle carries the
    absolute probe cap; d12's population is absolutely bounded on both
    engines (its n_clusters is a pinned oracle constant, so the within-
    cluster join is N²/8); the t23 oracle-splice guard raises instead of assert (stripped under -O);
    the \\x0B Java-vs-RE2 tokenizer divergence is documented on
    tokens() with the migration plan."""
    import inspect

    from datawarehouse_backup_system_spark.operators.text import tokens
    from datawarehouse_backup_system_spark.queries import (
        analytics_ext,
        corpus_ext,
        pipeline_ext,
    )

    assert "vec_id < 200000" in analytics_ext._R06_APPROX_SQL
    assert "vec_id < 20000" in corpus_ext.D12_SQL
    assert "20_000" in inspect.getsource(corpus_ext.d12_semantic_dedup)
    src = inspect.getsource(pipeline_ext)
    assert 'raise ValueError("d09 oracle changed shape' in src
    # the \x0B Java-vs-RE2 note moved from tokens.__doc__ to WS_CLASS
    # itself when the r11 migration replaced \s with the explicit class
    from datawarehouse_backup_system_spark.operators.text import WS_CLASS

    assert "\\x0B" in WS_CLASS and "WS_CLASS" in (tokens.__doc__ or "")


def test_t30_single_rollup_parity(spark):
    """Review r11 pass F: t30 tokenized the corpus twice and flagged per
    token OCCURRENCE; the (source, token, cnt) rollup must preserve the
    exact output (occurrence-weighted OOV counts, not distinct)."""
    from pyspark.sql import functions as F

    from datawarehouse_backup_system_spark.operators import text

    docs = spark.createDataFrame(
        [(1, "a", "x x x y"), (2, "a", "x z"), (3, "b", "y y q q q")],
        "doc_id int, source string, text string",
    )
    # replicate the spec's rollup algebra with a tiny top-2 vocab:
    # x (4 occurrences), q (3) -> vocab {x, q}
    counts = (
        docs.select(
            "source",
            F.explode(text.tokens(F.col("text"))).alias("token"),
        )
        .where(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    vocab = (
        counts.groupBy("token").agg(F.sum("cnt").alias("c"))
        .orderBy(F.col("c").desc(), F.col("token")).limit(2)
        .select("token")
    )
    flagged = counts.join(
        F.broadcast(vocab.withColumn("_in", F.lit(1))), "token", "left"
    )
    oov = F.sum(F.when(F.col("_in").isNull(), F.col("cnt")).otherwise(0))
    got = {
        r["source"]: (r["n_tokens"], r["n_oov"])
        for r in flagged.groupBy("source").agg(
            F.sum("cnt").alias("n_tokens"), oov.alias("n_oov")
        ).collect()
    }
    # source a: tokens x,x,x,y,x,z = 6; vocab {x,q} -> oov y,z = 2
    # source b: y,y,q,q,q = 5; oov y,y = 2
    assert got == {"a": (6, 2), "b": (5, 2)}


# --------------------------------------------------------------------------
# Review pass G (r11): round6/7/8/9 spec layer
# --------------------------------------------------------------------------
def test_pass_g_source_contracts(spark):
    """Review r11 pass G pins: q50's ppm runs in DECIMAL on both engines
    (the int64 product wrapped at ~sf3) with no forced part broadcast;
    the u06 oracle divides by the non-null count; u06/u07 splits are
    NULL-exhaustive; z03's per_file rides the plan (the driver .first()
    ran an extra scan and crashed on empty input); c04 imports THE hash
    recipe; d14 slices base ids below its twin offset on both engines;
    one shared session-edge builder serves g03/g04/g05."""
    import inspect

    from datawarehouse_backup_system_spark.queries import (
        round6_ext,
        round8_ext,
        round9_ext,
    )

    q50 = inspect.getsource(round6_ext.q50_promo_share)
    assert "decimal(38,0)" in q50 and "F.broadcast" not in q50
    assert "HUGEINT" in round6_ext.Q50_SQL
    assert "count(c)" in round6_ext.U06_SQL
    assert "coalesce" in inspect.getsource(
        round6_ext.u06_incremental_agg_view
    ).lower()
    assert "coalesce" in inspect.getsource(
        round6_ext.u07_incremental_join_view
    ).lower()
    z03 = inspect.getsource(round6_ext.z03_bloom_point_lookup)
    assert "crossJoin(F.broadcast(params))" in z03
    assert ".first()[0]" not in z03  # no driver-side collect remains
    assert "md5_prefix_long" in inspect.getsource(
        round6_ext.c04_conformal_threshold
    )
    assert "_D14_OFFSET" in inspect.getsource(round9_ext._wrapped_corpus)
    assert "doc_id < 1000000" in round9_ext.D14_SQL
    # one edge builder, three consumers
    assert "session_edges(spark, sf_dir, max_lag=1)" in inspect.getsource(
        round8_ext.g03_wcc_sessions
    )
    assert "session_edges(spark, sf_dir, max_lag=2)" in inspect.getsource(
        round8_ext.g04_triangle_participation
    )
    assert "session_edges" in inspect.getsource(
        round9_ext._session_edges_pow3
    )


def test_z03_empty_lineitem_returns_empty(spark, tmp_path):
    """Review r11: z03 crashed with TypeError on an empty table (NULL
    max at the driver); in-lineage params flow to an empty result."""
    from pyspark.sql import functions as F

    from datawarehouse_backup_system_spark.queries.round6_ext import (
        z03_bloom_point_lookup,
    )

    spark.createDataFrame(
        [], "l_orderkey bigint, l_partkey bigint, l_extendedprice double"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    assert z03_bloom_point_lookup(spark, str(tmp_path)).count() == 0


def test_u06_u07_keep_null_split_rows(spark, monkeypatch, tmp_path):
    """Review r11: rows whose split column is NULL fell out of BOTH
    branches of the incremental views while the oracles' full
    recomputes kept them."""
    import datetime as dt

    from datawarehouse_backup_system_spark.queries import round6_ext

    orders = spark.createDataFrame(
        [
            (1, 10, 100.0, dt.date(1996, 1, 1), "1-URGENT"),
            (2, 20, 200.0, None, "1-URGENT"),  # NULL date must survive
            (3, 10, 300.0, dt.date(1998, 1, 1), "2-HIGH"),
        ],
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "o_orderdate date, o_orderpriority string",
    )
    customer = spark.createDataFrame(
        [(10, "a"), (20, "b"), (None, "ghost")],
        "c_custkey long, c_name string",
    )
    orders.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    customer.write.mode("overwrite").parquet(
        str(tmp_path / "customer.parquet")
    )
    agg = round6_ext.u06_incremental_agg_view(spark, str(tmp_path))
    assert sum(r["n_rows"] for r in agg.collect()) == 3  # NULL row counted
    join = round6_ext.u07_incremental_join_view(spark, str(tmp_path))
    assert join.count() == 3  # NULL-date order joins like the full join


# --------------------------------------------------------------------------
# Review pass H (r11): relational spec layer + canonical hashing
# --------------------------------------------------------------------------
def test_pass_h_null_safe_hash_keys(spark):
    """Review r11: q06/q08 hashed with NULL-blind concat_ws on BOTH
    engines, so (NULL,'x') collided with ('x',NULL) — incoming rows
    falsely dropped as replay duplicates, oracle-blind. Both now route
    through the canonical row_hash_col; prove the null-safety the old
    key lacked."""
    from pyspark.sql import functions as F

    from datawarehouse_backup_system_spark.operators.hashing import (
        row_hash_col,
    )

    df = spark.createDataFrame(
        [(5, None, "x"), (5, "x", None)],
        "user_id int, event_type string, props string",
    )
    hashes = [
        r["h"]
        for r in df.select(
            row_hash_col(["user_id", "event_type", "props"]).alias("h")
        ).collect()
    ]
    assert hashes[0] != hashes[1]  # NULL position is distinguishing
    # the NULL-blind form collided (the defect)
    blind = F.md5(
        F.concat_ws(
            "\x01", F.col("user_id").cast("string"),
            F.col("event_type"), F.col("props"),
        )
    )
    old = [r["h"] for r in df.select(blind.alias("h")).collect()]
    assert old[0] == old[1]

    import inspect

    from datawarehouse_backup_system_spark.queries import relational

    for fn in (relational.q05_self_dedup_first,
               relational.q06_crossfile_dedup,
               relational.q08_distinct_hashes):
        assert "row_hash_col" in inspect.getsource(fn), fn.__name__
    assert "coalesce(event_type, '<NULL>')" in relational.Q06_SQL
    assert "coalesce(c_mktsegment, '<NULL>')" in relational.Q08_SQL


def test_pass_h_q10_total_not_windowed():
    """Review r11: q10 computed the grand total with a SECOND
    single-partition whole-table window; now a broadcast 1-row agg."""
    import inspect

    from datawarehouse_backup_system_spark.queries import relational

    src = inspect.getsource(relational.q10_retention_eviction)
    assert 'F.sum("size_b").over(Window.partitionBy())' not in src
    assert "crossJoin(F.broadcast(total))" in src


def test_pass_h_q36_oracle_counts_null_priority(spark):
    """Review r11: the q36 oracle's bare NOT regexp FILTER skipped NULL
    priorities while satisfies() counts them as violations (r11 rule);
    verify the repaired SQL agrees with Spark on a NULL-bearing frame."""
    import duckdb

    from datawarehouse_backup_system_spark.queries import relational_ext

    assert "o_orderpriority IS NULL" in relational_ext.Q36_SQL
    con = duckdb.connect()
    n = con.execute(
        "SELECT COUNT(*) FILTER (WHERE o_orderpriority IS NULL "
        "OR NOT regexp_matches(o_orderpriority, '^[1-5]-')) "
        "FROM (VALUES ('1-URGENT'), (NULL), ('bogus')) t(o_orderpriority)"
    ).fetchone()[0]
    assert n == 2  # NULL + bogus, matching satisfies()'s count


# --------------------------------------------------------------------------
# Review pass I (r11): sampling/curation/retention library operators
# --------------------------------------------------------------------------
def test_hash_split_and_stratified_sample_keep_null_keys(spark):
    """Review r11: _bucket propagated NULL (F.concat), so hash_split
    routed NULL-key rows to the last split and stratified_sample always
    ranked them first."""
    from datawarehouse_backup_system_spark.operators.sampling import (
        hash_split,
        stratified_sample,
    )

    df = spark.createDataFrame(
        [(1, "a"), (None, "a"), (3, "b")], "k int, s string"
    )
    split = hash_split(df, "k", {"train": 0.5, "test": 0.5})
    assert split.count() == 3  # the NULL-key row gets a split too
    assert split.where("split is null").count() == 0
    # NULL keys no longer displace real rows deterministically: with
    # n_per_stratum=1 the selected row per stratum is hash-ordered,
    # not NULLS-FIRST
    out = stratified_sample(df, "k", "s", 1)
    assert out.count() == 2


def test_negative_samples_null_domain_is_different(spark):
    """Review r11: NULL != x is NULL, so a NULL-domain anchor got zero
    negatives; NULL is simply a different domain now (both engines)."""
    from datawarehouse_backup_system_spark.operators.sampling import (
        negative_samples,
    )

    corpus = spark.createDataFrame(
        [(1, "web"), (2, "book"), (3, None)], "doc_id int, dom string"
    )
    anchors = spark.createDataFrame(
        [(10, None)], "doc_id int, dom string"
    )
    out = negative_samples(corpus, "doc_id", "dom", anchors, k=4)
    negs = sorted(r["neg_id"] for r in out.collect())
    assert negs == [1, 2]  # both non-NULL domains; NULL==NULL excluded


def test_weighted_sample_survives_huge_weights(spark):
    """Review r11: bucket*scale / weight*1e6 wrapped int64 past ~9.2e12,
    INVERTING keep/drop for the heaviest rows; decimal promotion keeps
    p=1 rows always included."""
    from datawarehouse_backup_system_spark.operators.sampling import (
        weighted_sample,
    )

    df = spark.createDataFrame(
        [(i, 10**13) for i in range(20)], "doc_id int, w long"
    )
    out = weighted_sample(df, "doc_id", "w", scale=10**13)
    assert out.count() == 20  # inclusion probability exactly 1


def test_curation_report_one_row_per_duplicate_id(spark):
    """Review r11: k docs sharing an id produced k^4 report rows (the
    row-wise signal frames cross-multiplied through three null-safe
    joins); each signal now collapses to one false-biased row per id."""
    from datawarehouse_backup_system_spark.operators.curation import (
        curation_report,
    )

    df = spark.createDataFrame(
        [(None, "the quick brown fox jumps over the lazy dog")] * 3
        + [(1, "the children are playing in the garden with the dog")],
        "doc_id int, text string",
    )
    rep = curation_report(df, "doc_id", "text")
    assert rep.count() == 2  # one NULL-id row + one real row, not 27+1


def test_domain_blocklist_null_semantics_agree(spark):
    """Review r11: the two blocklist branches disagreed on NULL
    handling (NULL-id docs unblocked under plain equality; NULL urls
    blocked=NULL in the literal branch vs false in the DF branch)."""
    from pyspark.sql import functions as F

    from datawarehouse_backup_system_spark.operators.curation import (
        domain_blocklist,
    )

    df = spark.createDataFrame(
        [(None, "http://blocked.com/x"), (2, None), (3, "http://ok.org/")],
        "doc_id int, url string",
    )
    lit = domain_blocklist(df, "doc_id", "url", ["blocked.com"])
    pat = domain_blocklist(
        df, "doc_id", "url",
        spark.createDataFrame([("blocked.com",)], "pattern string"),
    )
    for out in (lit, pat):
        rows = {r["doc_id"]: r["blocked"] for r in out.collect()}
        assert rows[None] is True   # NULL-id doc with blocked URL
        assert rows[2] is False     # NULL url: consistently unblocked
        assert rows[3] is False
        # no row vanishes from the keep/reject partition
        assert out.where(F.col("blocked")).count() + out.where(
            ~F.col("blocked")
        ).count() == 3


def test_retention_scan_survives_concurrent_delete(tmp_path, monkeypatch):
    """Review r11: a file deleted between rglob and stat crashed the
    whole eviction pass; it is now skipped like the unlink side."""
    from pathlib import Path

    from datawarehouse_backup_system_spark.operators import retention

    (tmp_path / "a.bin").write_bytes(b"x" * 10)
    (tmp_path / "b.bin").write_bytes(b"y" * 10)
    real_stat = Path.stat

    def racy_stat(self, **kw):
        if self.name == "b.bin":
            self.unlink(missing_ok=True)
            raise FileNotFoundError(self)
        return real_stat(self, **kw)

    monkeypatch.setattr(Path, "stat", racy_stat)
    files = retention._files_by_mtime(tmp_path)
    assert [p.name for p, _, _ in files] == ["a.bin"]


def test_sampling_reserved_name_guards(spark):
    """Review r11: stratified_sample/quantile_filter/domain_cap
    silently overwrote then dropped caller columns named _rn/_rk/_n."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from datawarehouse_backup_system_spark.operators.curation import (
        domain_cap,
    )
    from datawarehouse_backup_system_spark.operators.sampling import (
        quantile_filter,
        stratified_sample,
    )

    df = spark.createDataFrame(
        [(1, "a", 5)], "k int, s string, score int"
    ).withColumn("_rn", F.lit(9)).withColumn("_rk", F.lit(9)).withColumn(
        "_n", F.lit(9)
    )
    with _pytest.raises(ValueError, match="_rn"):
        stratified_sample(df, "k", "s", 1)
    with _pytest.raises(ValueError, match="_rk"):
        quantile_filter(df, "k", "s", "score")
    with _pytest.raises(ValueError, match="_rk"):
        domain_cap(df, "s", [F.col("score").desc()], 1, id_col="k")


# --------------------------------------------------------------------------
# Review pass J (r11): streaming/table_format/ledger
# --------------------------------------------------------------------------
def test_tombstoned_writes_spares_abort_then_commit(spark, tmp_path):
    """Review r11 (silent data loss): the exactly-once sink's documented
    abort-then-replay leaves {begin, aborted, begin, commit} on ONE
    deterministic write-id — a LIVE committed write the old any-abort
    rule let vacuum() delete. A later COMMIT now supersedes the abort;
    RESTORED always tombstones."""
    from datawarehouse_backup_system_spark import ledger as lm
    from datawarehouse_backup_system_spark.ledger import Ledger

    led = Ledger(spark, tmp_path / "_ledger")
    mk = f"{lm.WRITE_MARKER_PREFIX}t:"
    led.append(mk + "aaaa", lm.STATUS_WRITE_BEGIN)
    led.append(mk + "aaaa", lm.STATUS_WRITE_ABORTED)   # failed epoch
    led.append(mk + "aaaa", lm.STATUS_WRITE_BEGIN)     # replay
    led.append(mk + "aaaa", lm.STATUS_WRITE_COMMIT)    # committed!
    led.append(mk + "bbbb", lm.STATUS_WRITE_BEGIN)
    led.append(mk + "bbbb", lm.STATUS_WRITE_ABORTED)   # genuinely dead
    led.append(mk + "cccc", lm.STATUS_WRITE_BEGIN)
    led.append(mk + "cccc", lm.STATUS_WRITE_COMMIT)
    led.append(mk + "cccc", lm.STATUS_WRITE_RESTORED)  # retired
    dead = set(led.tombstoned_writes("t"))
    assert dead == {"bbbb", "cccc"}  # aaaa is LIVE, never vacuumable
    assert "aaaa" in {w for w, _ in led.committed_writes("t")}


def test_pruned_reads_can_exclude_tombstoned_files():
    """Review r11: manifests retain entries for tombstoned-but-
    unvacuumed files, so pruned reads surfaced retired rows alongside
    the rewrite's until vacuum ran; the ledger tombstone set now
    threads through as an optional post-filter."""
    from datawarehouse_backup_system_spark.plans.table_format import (
        drop_tombstoned_files,
    )

    files = [
        "file:///w/t/ingest_date=2026-01-01/wdeadbeefcafe0001-part-0.parquet",
        "file:///w/t/ingest_date=2026-01-01/w1111222233334444-part-0.parquet",
    ]
    assert drop_tombstoned_files(files, {"deadbeefcafe0001"}) == files[1:]
    assert drop_tombstoned_files(files, None) == files
    assert drop_tombstoned_files(files, set()) == files


def test_lease_forensics_glob_covers_release_debris(tmp_path):
    """Review r11: the acquire-time ager swept only stale.*.displaced.*;
    release-path tombs accumulated forever."""
    import os
    import time

    from datawarehouse_backup_system_spark.plans.table_format import (
        WriterLease,
    )

    old = time.time() - 100_000
    for name in (
        "_writer.lease.stale.x.displaced.ab",
        "_writer.lease.release.y",
        "_writer.lease.release.y.displaced.cd",
    ):
        p = tmp_path / name
        p.write_text("tok")
        os.utime(p, (old, old))
    fresh = tmp_path / "_writer.lease.release.fresh"
    fresh.write_text("tok")  # recent: must survive
    with WriterLease(tmp_path):
        pass
    left = {p.name for p in tmp_path.glob("_writer.lease.*")}
    assert left == {"_writer.lease.release.fresh"}


def test_watermark_dedup_batch_vectorized_parity(spark, t0=None):
    """Review r11: the vectorized fast path (wholesale-keep unique
    hashes, walk only duplicate segments) must equal the naive scan on
    a mixed frame; interpreter work is now proportional to duplicates."""
    import datetime as dt

    from datawarehouse_backup_system_spark.streaming.ingest_stream import (
        EVENT_SCHEMA,
        watermark_dedup_batch,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(30):  # 30 unique single-occurrence users
        rows.append((eid, t0, u, "solo", 1.0, "{}"))
        eid += 1
    for m in (0, 20, 40, 45, 80):  # one chained duplicate user
        rows.append((eid, t0 + dt.timedelta(minutes=m), 99, "chain", 1.0, "{}"))
        eid += 1
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    kept = sorted(
        r["event_id"]
        for r in watermark_dedup_batch(
            df, ["user_id", "event_type"], watermark_s=1800
        ).collect()
    )
    # all 30 solos + chain anchors at 0, 40, 80 minutes
    assert kept == list(range(30)) + [30, 32, 34]
