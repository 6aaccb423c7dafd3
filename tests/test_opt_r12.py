"""Round-12 optimization pins: fused single-pass model builds for
dsir_weights (importance.py) and bigram_lm_scores (lm.py).

Each pin asserts VALUE parity between the fused path and the
per-table recipe it replaced, plus the plan property the optimization
exists for (corpus scan count)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from datawarehouse_backup_system_spark.operators import importance, lm
from datawarehouse_backup_system_spark.scratch import PersistSlot, persist_slot


def _plan_simple(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()  # simple mode: each node printed once
    return buf.getvalue()


def test_logratio_flagged_matches_from_buckets(spark):
    """_bucket_logratio_from_flagged must equal the two-frame
    recipe exactly (same integer counts → same double arithmetic),
    including buckets with zero target rows and absent buckets."""
    rows = [(i % 5, i % 3 == 0) for i in range(40)] + [(7, False)] * 4
    flagged = spark.createDataFrame(rows, "bucket long, _is_tgt boolean")
    n, alpha = 11, 1.0
    fused = {
        r["bucket"]: r["logratio"]
        for r in importance._bucket_logratio_from_flagged(
            flagged, n, alpha
        ).collect()
    }
    two = {
        r["bucket"]: r["logratio"]
        for r in importance._bucket_logratio_from_buckets(
            flagged.select("bucket"),
            flagged.where(F.col("_is_tgt")).select("bucket"),
            n,
            alpha,
        ).collect()
    }
    assert set(fused) == set(two) == set(range(n))
    assert fused == two  # exact doubles, not approx


def test_logratio_flagged_empty_target(spark):
    """All-source / zero-target input still yields the smoothed table."""
    flagged = spark.createDataFrame(
        [(0, False), (1, False)], "bucket long, _is_tgt boolean"
    )
    out = importance._bucket_logratio_from_flagged(flagged, 4, 1.0)
    rows = out.collect()
    assert len(rows) == 4
    assert all(r["logratio"] is not None for r in rows)


def test_dsir_plan_scans_corpus_at_most_three_times(spark, sf_dir):
    """The r12 fusion: dsir plans ≤3 corpus scans (counts,
    scoring, id universe) — the pre-fix shape planned 6 (two per-side
    count aggs, each consumed twice by the totals/select split)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = importance.dsir_weights(
        docs, "doc_id", "text", target_pred=F.col("lang") == "en",
        n_buckets=8,
    )
    plan = _plan_simple(out)
    assert plan.count("Scan parquet") <= 3, plan


def test_bigram_fused_counts_match_per_table(spark):
    """The fused (kind, bucket) aggregation must reproduce the exact
    per-table counts of the bigram_model recipe."""
    df = spark.createDataFrame(
        [(1, "a b c a b"), (2, "a b"), (3, "x"), (4, None), (5, " \t ")],
        "id int, text string",
    )
    pb, cb = 16, 8
    out = lm.bigram_lm_scores(df, "id", "text", pair_buckets=pb,
                              ctx_buckets=cb)
    got = {r["id"]: r for r in out.collect()}
    # reference: the public two-agg model + shared scoring tail
    model = lm.bigram_model(df, "id", "text", pair_buckets=pb,
                            ctx_buckets=cb)
    ref = {
        r["id"]: r
        for r in lm.score_with_model(
            df, "id", "text", model, pair_buckets=pb, ctx_buckets=cb
        ).collect()
    }
    assert set(got) == set(ref) == {1, 2, 3, 4, 5}
    for i in got:
        assert got[i]["n_bigrams"] == ref[i]["n_bigrams"]
        assert got[i]["sum_logp"] == ref[i]["sum_logp"]
        assert got[i]["avg_logp"] == ref[i]["avg_logp"]
    persist_slot.release()


def test_persist_slot_hold_release_and_dead_frames(spark):
    """The shared single slot: holding new frames un-caches the
    previous ones, release() empties it, and a held frame whose
    unpersist raises (its session is gone) is dropped silently."""
    slot = PersistSlot()
    a = spark.range(3).persist()
    b = spark.range(4).persist()
    slot.hold(a)
    slot.hold(b)
    assert not a.is_cached and b.is_cached
    slot.release()
    assert slot.held == () and not b.is_cached

    class Dead:
        def unpersist(self):
            raise RuntimeError("session stopped")

    slot.hold(Dead())
    slot.release()
    assert slot.held == ()


def test_bigram_staged_slot_counts(spark):
    """t26's bigram call slots ONLY its bounded fused-count frame, and
    release() empties the shared slot."""
    df = spark.createDataFrame([(1, "a b c")], "id int, text string")
    lm.bigram_lm_scores(df, "id", "text").count()
    assert len(persist_slot.held) == 1
    persist_slot.release()
    assert persist_slot.held == ()
