"""Regression pins for the four round-9 ADVICE items fixed in round 10
(each named in the fix commit)."""

from __future__ import annotations

import errno
import os
import re
from pathlib import Path


def test_pagerank_tol_digits_forces_staged_tier(spark):
    """ADVICE r9 (graph.py:113): tol_digits below the unroll threshold
    was silently ignored — a fixed-round run masqueraded as a
    convergence-stopped one. Now tol_digits forces the staged tier, so
    the early stop actually runs: with tol_digits=0 every rank rounds
    to the same coarse value, the signature repeats at round 2, and the
    result equals the 2-iteration fixed run — NOT the 5-iteration one."""
    from datawarehouse_backup_system_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src int, dst int"
    )

    def ranks(df):
        return {r["node"]: r["rank"] for r in df.collect()}

    got = ranks(pagerank(edges, iterations=5, tol_digits=0))
    two = ranks(pagerank(edges, iterations=2))
    five = ranks(pagerank(edges, iterations=5))
    assert got == two
    assert got != five  # the stop changed the outcome; ignoring it would not


def test_staged_round_root_clears_est_dirs(tmp_path):
    """ADVICE r9 (graph.py:312): re-entry cleared only r<N> round dirs,
    leaving a prior neighborhood_function run's est_r<N> estimate dirs
    to silently mix into a shallower re-run's held result."""
    from datawarehouse_backup_system_spark.operators.graph import (
        _staged_round_root,
    )

    root = tmp_path / "stage"
    for d in ("r1", "r7", "est_r2", "est_r11", "keep_me"):
        (root / d).mkdir(parents=True)
    got = _staged_round_root(str(root), "pin-")
    assert got == str(root)
    left = sorted(p.name for p in root.iterdir())
    assert left == ["keep_me"]  # unrelated data untouched, all rounds gone


def test_bench_retry_ignores_soft_budget():
    """ADVICE r9 (bench.py:380): a retry admitted under the hard budget
    could be soft-degraded to single-run mid-attempt, producing a
    lower-quality attempt than the noisy one it was meant to replace.
    The retry closure is main()-local, so pin the source contract: the
    retry call passes ignore_soft=True and the runs decision honors it."""
    src = Path(__file__).resolve().parents[1] / "bench.py"
    text = src.read_text()
    assert "_run_attempt(ignore_soft=True)" in text
    assert re.search(
        r"runs = 1 if \(elapsed > soft_budget and not ignore_soft\)", text
    )


def test_lease_release_restores_thief_when_link_unsupported(
    tmp_path, monkeypatch
):
    """ADVICE r9 (table_format.py:259): on filesystems without hard
    links, the thief's lease was displaced to a diagnostic name and the
    canonical path left EMPTY while the thief believed it held the
    lease — a third writer could acquire concurrently. Non-EEXIST link
    failures now fall back to an atomic rename restore."""
    from datawarehouse_backup_system_spark.plans.table_format import (
        WriterLease,
    )

    lease_path = tmp_path / "_writer.lease"
    mine = WriterLease(tmp_path, owner="me", ttl_s=9999)
    mine.acquire()
    # simulate a steal: the thief's token now sits at the canonical path
    lease_path.write_text("thief")

    real_link = os.link

    def no_link(src, dst, **kw):
        raise OSError(errno.EPERM, "hard links not supported")

    monkeypatch.setattr(os, "link", no_link)
    mine.release()
    monkeypatch.setattr(os, "link", real_link)
    assert lease_path.read_text() == "thief"  # restored, not displaced
    assert not list(tmp_path.glob("*.displaced.*"))
    assert not list(tmp_path.glob("_writer.lease.release.*"))


def test_lease_release_eexist_still_displaces(tmp_path, monkeypatch):
    """Companion pin: when link fails with EEXIST a NEWER lease already
    landed at the canonical path — the displace-to-diagnostic move must
    stay (restoring would clobber the newer holder)."""
    from datawarehouse_backup_system_spark.plans.table_format import (
        WriterLease,
    )

    lease_path = tmp_path / "_writer.lease"
    mine = WriterLease(tmp_path, owner="me", ttl_s=9999)
    mine.acquire()
    lease_path.write_text("thief")

    def link_eexist(src, dst, **kw):
        # a newer lease raced in between our rename and the restore
        lease_path.write_text("newer")
        raise OSError(errno.EEXIST, "exists")

    monkeypatch.setattr(os, "link", link_eexist)
    mine.release()
    assert lease_path.read_text() == "newer"  # newer holder untouched
    displaced = list(tmp_path.glob("*.displaced.*"))
    assert len(displaced) == 1 and displaced[0].read_text() == "thief"


# ---- round-10 review pass 1: text.py / dedup_approx.py ---------------------


def test_word_shingles_no_corpus_shuffle_when_partitioned(spark):
    """Review r10: word_shingles unconditionally repartitioned the full
    input (a corpus shuffle of all columns that also collapsed partition
    count at scale). It must repartition ONLY when the source has fewer
    partitions than cores."""
    from datawarehouse_backup_system_spark.operators.dedup_approx import (
        word_shingles,
    )

    n_par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 2000, 1, n_par * 2).selectExpr(
        "id as doc_id", "concat('tok', id % 7, ' a b c d') as text"
    )
    plan = word_shingles(wide, "doc_id", "text", 3)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "RoundRobinPartitioning" not in plan, plan
    narrow = spark.range(0, 100, 1, 1).selectExpr(
        "id as doc_id", "concat('tok', id % 7, ' a b c d') as text"
    )
    plan2 = word_shingles(narrow, "doc_id", "text", 3)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "RoundRobinPartitioning" in plan2, plan2


def test_line_dedup_blank_lines_are_exempt(spark):
    """Review r10: the md5('') of blank paragraph separators appears in
    nearly every document, so the old document-frequency rule stripped
    them corpus-wide, silently merging paragraphs."""
    from datawarehouse_backup_system_spark.operators.text import line_dedup

    df = spark.createDataFrame(
        [(1, "intro\n\nbody one"), (2, "other\n\nbody two")],
        "id int, text string",
    )
    got = {
        r["id"]: (r["n_kept"], r["clean_text"])
        for r in line_dedup(df, "id", "text", min_df=2).collect()
    }
    assert got[1] == (3, "intro\n\nbody one")
    assert got[2] == (3, "other\n\nbody two")


def test_pii_scrub_masks_email_once_in_plan(spark):
    """Review r10: the email mask was evaluated twice per row (once for
    the scrub, once for the number count). The staged plan carries
    exactly two regexp_replace calls: one email mask + one number mask."""
    from datawarehouse_backup_system_spark.operators.text import pii_scrub

    df = spark.createDataFrame(
        [(1, "mail a@b.co and 123456789012 end")], "id int, text string"
    )
    out = pii_scrub(df, "id", "text")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_replace") == 2, plan
    r = out.collect()[0]
    assert r["scrubbed_text"] == "mail <EMAIL> and <NUM> end"
    assert (r["n_emails"], r["n_numbers"]) == (1, 1)


def test_langid_tokenizes_once_in_plan(spark):
    """Review r10: langid re-split the text once per language (4x the
    tokenization CPU, HOFs are interpreted). The staged plan splits
    exactly once."""
    from datawarehouse_backup_system_spark.operators.text import langid

    df = spark.createDataFrame(
        [(1, "the a of and le la el der")], "id int, text string"
    )
    out = langid(df, "id", "text")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # count any split(...) spelling: the r11 tokens() migration renamed
    # the subtree from split(trim(..), '\s+') to the WS_CLASS recipe —
    # the once-only contract is what this pins, not the spelling
    assert plan.count("split(") == 1, plan
    assert out.collect()[0]["predicted_lang"] == "en"


# ---- round-10 review pass 2: graph.py staging machinery --------------------


def test_stage_helpers_work_on_scheme_paths(spark, tmp_path):
    """Review r10: shutil/Path silently no-op on scheme'd (cluster
    storage) stage paths — superseded rounds accumulate forever.
    file:// exercises the Hadoop FileSystem route locally."""
    from datawarehouse_backup_system_spark.operators.graph import (
        _stage_rm,
        _staged_round_root,
    )

    d = tmp_path / "r3"
    d.mkdir()
    (d / "part-0").write_bytes(b"x" * 1000)
    (tmp_path / "keep_me").mkdir()
    uri = f"file://{tmp_path}"
    got = _staged_round_root(uri, "pin-", spark)
    assert got == uri
    assert not d.exists() and (tmp_path / "keep_me").exists()
    (d).mkdir()
    (d / "part-0").write_bytes(b"y")
    _stage_rm(f"{uri}/r3", spark)
    assert not d.exists()


def test_pagerank_empty_graph_returns_empty(spark):
    """Review r10: an empty edge frame hit ZeroDivisionError at the
    driver (1/n with n=0) instead of returning an empty result."""
    from datawarehouse_backup_system_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src int, dst int")
    out = pagerank(empty, iterations=3)
    assert out.columns == ["node", "rank"]
    assert out.count() == 0


def test_pagerank_seed_failure_leaks_no_catalog_entry(spark, tmp_path):
    """Review r10: the no-seeds-in-graph ValueError fired AFTER the
    edge stage, wasting the full edge-list write. Validation now
    precedes the norm_e stage."""
    import pytest as _pytest

    from datawarehouse_backup_system_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src int, dst int")
    seeds = spark.createDataFrame([(99,)], "node int")
    with _pytest.raises(ValueError, match="no seed id"):
        pagerank(edges, seeds=seeds, stage_path=str(tmp_path))
    # the expensive norm_e stage never ran
    assert not (tmp_path / "norm_e").exists()


def test_small_star_emits_center_edge_once():
    """Review r10: explode(array(l, h)) emitted the (m, h) center edge
    once PER MEMBER (deg(h) duplicate rows into the distinct exchange
    on hubs). Pin the exact reference semantics on a hub star."""
    from datawarehouse_backup_system_spark.operators.graph import (
        _small_star,
    )
    from datawarehouse_backup_system_spark.session import get_spark

    spark = get_spark()
    hub = 50
    e = spark.createDataFrame(
        [(i, hub) for i in range(10)], "lo bigint, hi bigint"
    )
    # reference: per h, m = min neighborhood ∪ {h}; edges (m, x) for
    # every member x plus (m, h), canonicalized
    got = {(r["lo"], r["hi"]) for r in _small_star(e).collect()}
    want = {(0, i) for i in range(1, 10)} | {(0, hub)}
    assert got == want


# ---- round-10 review pass 3: sketches / quantiles / behavior ---------------


def test_kmv_sketch_drops_null_keys(spark):
    """Review r10: md5(NULL) → h=NULL sorted NULLS FIRST and permanently
    occupied a bottom-k slot (and DuckDB sorts NULLS LAST — a silent
    cross-engine divergence)."""
    from datawarehouse_backup_system_spark.operators.sketches import (
        kmv_sketch,
    )

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", None), ("b", None)],
        "g string, k int",
    )
    rows = kmv_sketch(df, "g", "k", k=8).collect()
    assert all(r["h"] is not None for r in rows)
    assert {r["g"] for r in rows} == {"a"}  # b had only NULL keys


def test_funnel_drops_null_entities(spark):
    """Review r10: all NULL-entity rows merged into one phantom entity
    whose funnel could be completed by unrelated anonymous events."""
    from datetime import datetime

    from datawarehouse_backup_system_spark.operators.behavior import (
        funnel_counts,
    )

    t = datetime(2024, 1, 1)
    t2 = datetime(2024, 1, 2)
    df = spark.createDataFrame(
        [
            (1, t, "view"), (1, t2, "purchase"),
            (None, t, "view"), (None, t2, "purchase"),
        ],
        "user_id int, ts timestamp, event_type string",
    )
    got = {
        r["step"]: r["n_entities"]
        for r in funnel_counts(
            df, "user_id", "ts", "event_type", ["view", "purchase"]
        ).collect()
    }
    assert got == {"view": 1, "purchase": 1}  # no phantom anon entity


def test_ewma_dyadic_milli_survives_large_cents(spark):
    """Review r10: (ewma_num * 1000) wrapped int64 at x ≈ 1.4e14/2^k.
    The decimal-promoted milli step must stay exact (and positive)."""
    from datetime import datetime

    from datawarehouse_backup_system_spark.operators.behavior import (
        ewma_dyadic,
    )

    x = 140_000_000_000_000  # 1.4e14: old num*1000 wrapped negative
    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 1, x)],
        "k int, ts timestamp, eid int, c long",
    )
    r = ewma_dyadic(df, "k", ["ts", "eid"], "c", k_window=16).collect()[0]
    assert r["ewma_num"] == x * (1 << 15)
    expected = (x * (1 << 15) * 1000) // (65536 - (1 << 15))
    assert r["ewma_milli"] == expected > 0


def test_cohort_retention_has_no_forced_broadcast(spark):
    """Review r10: the F.broadcast hint on the one-row-per-entity frame
    bypassed the 8 GB broadcast limit at billions of entities; AQE
    broadcasts it at runtime when actually small."""
    import inspect

    from datawarehouse_backup_system_spark.operators import behavior

    src = inspect.getsource(behavior.cohort_retention)
    assert "F.broadcast" not in src


def test_cms_and_kmv_validate_parameters(spark):
    """Review r10: cms depth was a bare assert (stripped under -O) and
    width unvalidated; kmv k's int64 precondition was a comment."""
    import pytest as _pytest

    from datawarehouse_backup_system_spark.operators.sketches import (
        cms_build,
        kmv_pair_overlap,
    )

    df = spark.createDataFrame([("x",)], "v string")
    with _pytest.raises(ValueError, match="depth"):
        cms_build(df, "v", depth=200)
    with _pytest.raises(ValueError, match="width"):
        cms_build(df, "v", width=0)
    sk = spark.createDataFrame([("a", 1, 1)], "g string, h long, rn int")
    with _pytest.raises(ValueError, match="kmv k"):
        kmv_pair_overlap(sk, k=200)


def test_histogram_cdf_reads_share_one_algebra():
    """Review r10: the CDF read (cum windows + rank filter + first
    crossing) existed twice; both public reads now delegate to
    _cdf_read, so a rank-arithmetic fix can't miss one copy."""
    import inspect

    from datawarehouse_backup_system_spark.operators import quantiles

    for fn in (
        quantiles.grouped_histogram_quantiles,
        quantiles.log2_histogram_quantiles,
    ):
        assert "_cdf_read(" in inspect.getsource(fn)


# ---- round-10 review pass 4: ingest / csv_source / ledger / registry -------


def test_utf16_and_utf32_csvs_parse_correctly(spark, tmp_path):
    """Review r10 (confirmed live pre-fix): Spark's byte-level line
    splitting misaligned 2/4-byte code units (BOM'd utf-16 parsed
    mojibake plus a phantom row — silently COMMITTED), and Python's
    dashed endianned names crashed CSVOptions (the file was then
    ledgered unexpected and skipped forever). Non-native codecs now
    transcode to UTF-8 staged copies."""
    from datawarehouse_backup_system_spark.sources.csv_source import (
        detect_encoding,
        read_raw_csv,
    )

    body = "id,name\n1,rene\n2,anna\n"
    for label, data in {
        "bom16.csv": body.encode("utf-16"),
        "le16.csv": body.encode("utf-16-le"),
        "be16.csv": body.encode("utf-16-be"),
        "bom32.csv": body.encode("utf-32"),
    }.items():
        p = tmp_path / label
        p.write_bytes(data)
        enc = detect_encoding(p)
        rows = sorted(map(tuple, read_raw_csv(spark, str(p)).collect()))
        assert rows == [("1", "rene"), ("2", "anna")], (label, enc, rows)


def test_ingest_files_shared_basename_takes_one_plan(spark, tmp_path):
    """Review r10: a batch-SCOPED error (duplicate basenames in one scan,
    when the file rank keyed on basename) mass-ledgered every remaining
    file as unexpected, permanently blacklisting valid files. The rank
    now keys on each file's full scan URI: both files share one plan
    and upload."""
    from fixtures import generate_f1

    from datawarehouse_backup_system_spark import ledger as ledger_mod

    fx = generate_f1(tmp_path)
    import test_ingest as ti

    job = ti.make_job(spark, tmp_path, fx)
    planned = ti._count_plans(job)
    # same BASENAME in two dirs
    a_dir, b_dir = tmp_path / "a", tmp_path / "b"
    a_dir.mkdir(); b_dir.mkdir()
    (a_dir / "x.csv").write_bytes(fx["files"][0].read_bytes())
    (b_dir / "x.csv").write_bytes(fx["files"][1].read_bytes())
    res = job._ingest_files(
        [a_dir / "x.csv", b_dir / "x.csv"], "mini_campaign_events"
    )
    assert planned == [["x.csv", "x.csv"]]
    assert [r.status for r in res] == [ledger_mod.STATUS_UPLOADED] * 2
    assert res[0].rows_loaded > 0
    statuses = {
        r["file_name"]: r["status"] for r in job.ledger.read().collect()
    }
    assert statuses.get("x.csv") == ledger_mod.STATUS_UPLOADED


def test_reserved_seq_header_rejected_loudly(spark, tmp_path):
    """Review r10: a raw column named '_row' (etc.) was silently
    overwritten by the ingest-order machinery AND passed width
    validation (SEQ_COLS are appended to the expected set)."""
    import pytest as _pytest

    p = tmp_path / "weird.csv"
    p.write_text("a,_row\n1,2\n")
    from fixtures import generate_f1

    (tmp_path / "fx").mkdir()
    fx = generate_f1(tmp_path / "fx")
    import test_ingest as ti

    job = ti.make_job(spark, tmp_path, fx)
    with _pytest.raises(ValueError, match="reserved ingest column"):
        job._scan_with_seq([p]).collect()


def test_registry_type_class_typo_fails_fast():
    """Review r10: int_columns=('amonut',) silently skipped the cast and
    wrote a string column where the schema declares Long."""
    import pytest as _pytest

    from datawarehouse_backup_system_spark.registry import TableSchema

    with _pytest.raises(ValueError, match="undeclared"):
        TableSchema(
            key="t", table_name="t",
            column_names=("id", "amount"),
            column_types=("Int64", "Int64"),
            int_columns=("amonut",),
        )


def test_zip_member_unlinked_after_ingest(spark, tmp_path):
    """Review r10: extracted zip members leaked into _staging forever
    (one plaintext copy per zip per cycle) and same-name members from
    later zips silently overwrote earlier extractions."""
    import zipfile

    from fixtures import generate_f1

    fx = generate_f1(tmp_path)
    import test_ingest as ti

    from datawarehouse_backup_system_spark import ledger as ledger_mod

    job = ti.make_job(spark, tmp_path, fx)
    zp = tmp_path / "last24h__zipped.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.write(fx["files"][0], arcname="last24h__20240301.csv")
    res = job.process_file(zp)
    assert res.status == ledger_mod.STATUS_UPLOADED
    staging = job.warehouse_dir / "_staging"
    assert not list(staging.glob("*.csv"))  # member consumed and removed


def test_rows_in_is_populated(spark, tmp_path):
    """Review r10: FileResult.rows_in was never assigned, so the batch
    summary summed a constant 0 dressed up as a metric. It now rides
    the write job as an Observation on the pre-dedup scan."""
    from fixtures import generate_f1

    fx = generate_f1(tmp_path)
    import test_ingest as ti

    job = ti.make_job(spark, tmp_path, fx)
    res = job.process_file(fx["files"][0])
    assert res.rows_in == fx["n_file1"]
    assert 0 < res.rows_loaded <= res.rows_in


# ---- round-10 review pass 5: importance / lm ------------------


def test_bigram_rows_no_empty_edge_tokens(spark):
    """Review r10: F.trim strips ASCII spaces only, so a trailing
    newline left an empty edge token and a spurious ('word','') bigram
    polluting the '' hash buckets."""
    from datawarehouse_backup_system_spark.operators.lm import bigram_rows

    df = spark.createDataFrame(
        [(1, "hello world\n"), (2, "\ta b"), (3, "one two")],
        "id int, text string",
    )
    counts = {
        r["id"]: r["n"]
        for r in bigram_rows(df, "id", "text", 64, 32)
        .groupBy("id").agg(__import__("pyspark").sql.functions.count(
            __import__("pyspark").sql.functions.lit(1)).alias("n"))
        .collect()
    }
    assert counts == {1: 1, 2: 1, 3: 1}  # was 2 for ids 1 and 2


def test_lm_release_staged_and_lock_exist(spark):
    """Review r10: lm.py's persisted frame must sit behind the same
    lock+release hardening as every other slot user; it now uses the
    shared lock-guarded slot in scratch.py."""
    from datawarehouse_backup_system_spark.operators import lm
    from datawarehouse_backup_system_spark.scratch import persist_slot

    df = spark.createDataFrame([(1, "a b c")], "id int, text string")
    out = lm.bigram_lm_scores(df, "id", "text")
    assert out.count() == 1
    assert len(persist_slot.held) == 1
    persist_slot.release()
    assert persist_slot.held == ()
    assert persist_slot._lock is not None


def test_dsir_validates_quantize_decimals(spark):
    """Review r10: decimal(18,20) is an immediate AnalysisException with
    no hint; decimal(18,17) overflows on |logratio|>=10 mid-action."""
    import pytest as _pytest

    from datawarehouse_backup_system_spark.operators.importance import (
        dsir_weights,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "a b", "en")], "id int, t string, lang string")
    with _pytest.raises(ValueError, match="quantize_decimals"):
        dsir_weights(
            df, "id", "t", target_pred=F.col("lang") == "en",
            quantize_decimals=17,
        )


def test_dsir_stages_buckets_not_tokens(spark):
    """Review r10: the token frame carried raw token strings and
    recomputed md5 three times per action; hashing once before reuse
    leaves the weights unchanged."""
    from datawarehouse_backup_system_spark.operators import importance

    df = spark.createDataFrame(
        [(1, "aa bb cc", True), (2, "aa dd", False)],
        "id int, t string, is_tgt boolean",
    )
    from pyspark.sql import functions as F

    out = importance.dsir_weights(
        df, "id", "t", target_pred=F.col("is_tgt")
    )
    rows = {r["id"]: r["n_tokens"] for r in out.collect()}
    assert rows == {1: 3, 2: 2}
