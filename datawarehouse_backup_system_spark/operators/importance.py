"""Data-selection importance weights via hashed n-gram likelihood ratios.

Public method: DSIR — "Data Selection for Language Models via Importance
Resampling" (Xie et al., 2023). Raw and target corpora are reduced to
hashed unigram bag-of-words over a small fixed bucket count B; each
bucket gets a smoothed log-likelihood ratio

    log p_target(b) - log p_source(b)

and a document's importance weight is the sum of its tokens' bucket
ratios. Sampling documents proportionally to exp(weight) shifts the raw
corpus distribution toward the target domain.

Scale shape (100 TB): the per-bucket ratio table has exactly B rows
(B ≈ 10^4 in the paper; configurable here), so it broadcasts; scoring is
one linear pass over the corpus — explode tokens, broadcast-join the
ratio table, per-doc sum. Two shuffles total (the two B-row bucket
aggregations), both map-side combined into B groups. No all-pairs work,
no driver collection beyond the B-row table.

Hashing is the repo-portable md5-prefix integer (same bits in DuckDB via
``('0x' || substr(md5(t),1,14))::BIGINT``), so oracle parity is exact.
There is no reference-repo counterpart; this is net-new capability for
LLM training-data curation (builder brief: first-class alongside §2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datawarehouse_backup_system_spark.operators import text

def hash_bucket(col: Column, n_buckets: int) -> Column:
    """Portable token → bucket in [0, n_buckets): md5-prefix mod B
    (the repo-wide recipe, single-sourced in operators.hashing)."""
    from .hashing import md5_bucket

    return md5_bucket(col, n_buckets)


def _logratio_tail(counts: DataFrame, n_buckets: int, alpha: float) -> DataFrame:
    """(bucket, src_cnt, tgt_cnt) — possibly missing absent buckets —
    → the B-row smoothed logratio table.

    Totals ride a single-partition WINDOW over the B-row counts frame
    instead of a separate ``.agg`` + crossJoin (r12, guide §2.4): the
    old shape consumed the counts subtree TWICE (once for the 1-row
    totals broadcast, once for the per-bucket select), and with the
    lazy upstream each consumption re-ran the corpus tokenize+hash
    aggregation. One partition of B ≤ ~10⁴ rows is
    scale-free; the arithmetic is unchanged (same sums, same doubles).
    """
    from pyspark.sql import Window

    spark = counts.sparkSession
    base = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    joined = base.join(counts, "bucket", "left").select(
        "bucket",
        F.coalesce(F.col("src_cnt"), F.lit(0)).alias("src_cnt"),
        F.coalesce(F.col("tgt_cnt"), F.lit(0)).alias("tgt_cnt"),
    )
    w = Window.partitionBy()
    a = F.lit(float(alpha))
    b = F.lit(float(n_buckets))
    return joined.select(
        "bucket",
        (
            F.log(
                (F.col("tgt_cnt") + a)
                / (F.sum("tgt_cnt").over(w) + a * b)
            )
            - F.log(
                (F.col("src_cnt") + a)
                / (F.sum("src_cnt").over(w) + a * b)
            )
        ).alias("logratio"),
    )


def _bucket_logratio_from_buckets(
    src_b: DataFrame,
    tgt_b: DataFrame,
    n_buckets: int,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-bucket smoothed log-likelihood ratio table (exactly B rows)
    over PRE-BUCKETED (bucket) frames (review r10: carrying raw token
    strings recomputed md5+conv+pmod three times per action instead of
    one BIGINT per token).

    Buckets absent from one side still get a ratio via add-``alpha``
    smoothing over the full bucket range, so unseen-token documents
    score finite weights. Columns: ``bucket``, ``logratio`` (double).
    """

    def counts(b: DataFrame, out: str) -> DataFrame:
        return b.groupBy("bucket").agg(F.count(F.lit(1)).alias(out))

    joined = counts(src_b, "src_cnt").join(
        counts(tgt_b, "tgt_cnt"), "bucket", "full"
    )
    return _logratio_tail(joined, n_buckets, alpha)


def _bucket_logratio_from_flagged(
    flagged: DataFrame, n_buckets: int, alpha: float = 1.0
) -> DataFrame:
    """Fused ratio build over ONE (bucket, _is_tgt) frame (r12, guide
    §2.3 "aggregate before you shuffle" / §2.4): the target side is by
    construction a FILTER of the source side, so both count tables come
    out of a single ``groupBy(bucket)`` pass — one corpus scan where
    the two-frame path re-ran the tokenize+hash lineage per side."""
    counts = flagged.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("src_cnt"),
        F.count_if(F.col("_is_tgt")).alias("tgt_cnt"),
    )
    return _logratio_tail(counts, n_buckets, alpha)


def dsir_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_pred: Column,
    n_buckets: int = 64,
    alpha: float = 1.0,
    quantize_decimals: int | None = None,
) -> DataFrame:
    """Importance weight per document of ``df``.

    ``target_pred`` selects the in-distribution exemplar documents (e.g.
    a trusted-source flag); the *whole* corpus plays the source/raw side,
    matching the paper's raw-vs-target formulation. Returns
    ``(id_col, n_tokens, weight)`` with ``weight`` the SUM of bucket
    log-ratios over the document's tokens (log of the unnormalized
    importance ratio under the hashed-unigram model).

    ``quantize_decimals`` rounds each bucket ratio to that many decimals
    and sums as DECIMAL instead of DOUBLE: decimal addition is exact and
    order-independent, so the aggregate is bit-stable across partition
    orders and engines (double summation order varies run-to-run) — use
    it when the weights feed a reproducibility-checked pipeline.

    The token frame feeds the fused count aggregation and the scoring
    join; the target side is a FILTER over the same frame
    (``target_pred`` is evaluated per document before the explode)
    rather than a second tokenize. Nothing is persisted: the plan stays
    fully lazy, so no corpus-sized frame is pinned in executor storage
    past the caller's action.
    """
    if quantize_decimals is not None and not 0 <= quantize_decimals <= 15:
        raise ValueError(
            "dsir quantize_decimals must be in [0, 15]: decimal(18, q) "
            "needs 18-q integer digits and q>15 leaves fewer than the "
            "logratio's possible magnitude (q>18 is not even a valid "
            "decimal type)"
        )
    tok = df.select(
        F.col(id_col),
        target_pred.alias("_is_tgt"),
        F.explode(text.tokens(F.col(text_col))).alias("token"),
    ).where(F.col("token") != "").select(
        # hash ONCE before any reuse (review r10): each consumer reads
        # one BIGINT bucket per token, not the string
        F.col(id_col),
        "_is_tgt",
        hash_bucket(F.col("token"), n_buckets).alias("bucket"),
    )
    # fused single-pass counts (r12): the target side is a filter of
    # the same frame, so one groupBy(bucket) with a conditional count
    # replaces the two per-side aggregations — it cuts the ratio build
    # from four lazy corpus scans (2 count aggs × the totals/select
    # double-consumption) to ONE
    ratio = _bucket_logratio_from_flagged(
        tok.select("bucket", "_is_tgt"), n_buckets, alpha
    )
    if quantize_decimals is not None:
        ratio = ratio.select(
            "bucket",
            F.round(F.col("logratio"), quantize_decimals)
            .cast(f"decimal(18,{quantize_decimals})")
            .alias("logratio"),
        )
    scored = (
        tok.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("logratio").alias("weight"),
        )
    )
    if quantize_decimals is not None:
        scored = scored.withColumn("weight", F.col("weight").cast("double"))
    # total over the input: empty/whitespace-only documents still get a
    # row (0 tokens, weight 0 — i.e. importance ratio 1) instead of
    # silently vanishing from the output
    base = df.select(F.col(id_col)).distinct()
    return base.join(scored, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
        F.coalesce(F.col("weight").cast("double"), F.lit(0.0)).alias("weight"),
    )
