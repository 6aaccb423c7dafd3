"""Hashed bigram language-model scoring — perplexity-style quality filtering.

Public method lineage: CCNet (Wenzek et al., 2020) ranks web documents by
language-model perplexity and keeps the low-perplexity tail; the modern
cheap stand-in is an in-corpus hashed n-gram LM (the hashing trick bounds
model state exactly like DSIR's bucketed unigrams). Here a bigram model
with add-k smoothing over hashed buckets:

    p(cur | prev) = (count[bucket(prev,cur)] + k) / (count[bucket(prev)] + k·B)

and a document scores the mean log-probability of its bigrams (a
length-normalized negative-log-perplexity proxy; higher = more typical of
the corpus, lower = garbled/outlier text).

Scale shape (100 TB): model state is AT MOST ``pair_buckets`` +
``ctx_buckets`` rows regardless of corpus size — both count tables
broadcast. One linear pass builds bigram rows (hashes computed inside an
array expression, only two BIGINTs per bigram ever leave the scan), two
bounded aggregations build the model, one broadcast-join pass scores.
Per-bigram log-probs are rounded and summed as DECIMAL so document scores
are bit-reproducible across partition orders (same rationale as
operators.importance).

No reference-repo counterpart; net-new LLM-curation capability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datawarehouse_backup_system_spark.scratch import persist_slot

#: separator inside the hashed bigram key; tokens are whitespace-split so
#: a single space is unambiguous and replays identically in SQL.
PAIR_SEP = " "


def _bucket_expr(col, n: int):
    from .hashing import md5_bucket

    return md5_bucket(col, n)


def bigram_rows(df: DataFrame, id_col: str, text_col: str,
                pair_buckets: int, ctx_buckets: int) -> DataFrame:
    """One row per bigram: (id, bp, bc) bucket ids only.

    Bucket hashes are computed inside a single array expression and then
    exploded (total expression — empty array below 2 tokens — so no
    predicate-reordering hazard; see text.dup_spans for the FilterExec
    null-check-hoisting trap this avoids).
    """
    # No higher-order lambda anywhere: adjacent pairs come from
    # slice+arrays_zip (pure codegen'd array ops) and the md5 bucketing
    # happens AFTER the explode as flat column expressions. The previous
    # form (transform(sequence(...)) with hashing inside the lambda) was
    # measured ~10× slower at sf0.1 — interpreted per-element lambdas
    # dominated the whole t26 query. Same bucket values either way; the
    # oracle SQL is untouched.
    # text.tokens(), not a local split recipe (r11 coordinated
    # migration): the r10 fix regex-trimmed here alone, which left the
    # repo with two divergent tokenizations (ADVICE r10→r11); tokens()
    # now carries the full-whitespace trim + explicit WS_CLASS split
    # itself, so the '' edge-token hazard is gone for every consumer
    # and this module shares the single definition.
    from datawarehouse_backup_system_spark.operators.text import tokens

    t = tokens(F.col(text_col))
    pairs = F.when(
        F.size(t) >= 2,
        F.arrays_zip(
            F.slice(t, 1, F.size(t) - 1).alias("prev"),
            F.slice(t, 2, F.size(t) - 1).alias("cur"),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    return df.select(F.col(id_col), F.explode(pairs).alias("_bg")).select(
        F.col(id_col),
        _bucket_expr(
            F.concat_ws(PAIR_SEP, F.col("_bg.prev"), F.col("_bg.cur")),
            pair_buckets,
        ).alias("bp"),
        _bucket_expr(F.col("_bg.prev"), ctx_buckets).alias("bc"),
    )


def bigram_model(
    df: DataFrame, id_col: str, text_col: str,
    pair_buckets: int = 4096, ctx_buckets: int = 1024,
) -> tuple[DataFrame, DataFrame]:
    """Build the hashed-bigram count tables ``(pair_counts, ctx_counts)``.

    Counts are MERGEABLE BY SUMMATION: bucket counts over A ∪ B equal
    the bucket-wise sums of the counts over A and B — the same
    mergeability contract as the CMS/HLL sketches in this repo.

    COST (review r10): the two aggregations each scan the corpus (two
    passes + two rounds of hashing) — on a large trusted corpus, either
    persist the input's bigram rows yourself or build once and reuse;
    the in-corpus path with staging is :func:`bigram_lm_scores`.
    """
    rows = bigram_rows(df, id_col, text_col, pair_buckets, ctx_buckets)
    pair_cnt = rows.groupBy("bp").agg(F.count(F.lit(1)).alias("c_pair"))
    ctx_cnt = rows.groupBy("bc").agg(F.count(F.lit(1)).alias("c_ctx"))
    return pair_cnt, ctx_cnt


def _score_rows(
    rows: DataFrame,
    base: DataFrame,
    model: tuple[DataFrame, DataFrame],
    id_col: str,
    pair_buckets: int,
    k: float,
) -> DataFrame:
    """Shared scoring tail: broadcast-join the model onto bigram rows,
    decimal-sum per doc, left-join the id universe for totality."""
    pair_cnt, ctx_cnt = model
    logp = F.round(
        F.log(
            (F.coalesce(F.col("c_pair"), F.lit(0)) + F.lit(float(k)))
            / (F.coalesce(F.col("c_ctx"), F.lit(0)) + F.lit(float(k * pair_buckets)))
        ),
        9,
    ).cast("decimal(18,9)")
    scored = (
        rows.join(F.broadcast(pair_cnt), "bp", "left")
        .join(F.broadcast(ctx_cnt), "bc", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(logp).alias("_sum"),
        )
        .select(
            F.col(id_col),
            F.col("n_bigrams"),
            F.col("_sum").cast("double").alias("sum_logp"),
        )
    )
    return (
        base.join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_bigrams"), F.lit(0))
            .cast("bigint")
            .alias("n_bigrams"),
            F.coalesce(F.col("sum_logp"), F.lit(0.0)).alias("sum_logp"),
            F.when(
                F.coalesce(F.col("n_bigrams"), F.lit(0)) > 0,
                F.round(F.col("sum_logp") / F.col("n_bigrams"), 6),
            ).alias("avg_logp"),
        )
    )


def score_with_model(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model: tuple[DataFrame, DataFrame],
    pair_buckets: int = 4096,
    ctx_buckets: int = 1024,
    k: float = 0.5,
) -> DataFrame:
    """Score ``df`` against a prebuilt (possibly merged) bigram model.

    Bigrams absent from the model still score via the smoothing floor
    (left joins + zero-coalesce), so a model trained on corpus A can
    gate a disjoint corpus B — the usual deploy shape (train the LM on
    trusted text, score the crawl). The corpus is scanned twice —
    bigram rows + the distinct-id universe (review r10: the prior
    'once' undersold the I/O budget by half).
    """
    rows = bigram_rows(df, id_col, text_col, pair_buckets, ctx_buckets)
    base = df.select(F.col(id_col)).distinct()
    return _score_rows(rows, base, model, id_col, pair_buckets, k)


def bigram_lm_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pair_buckets: int = 4096,
    ctx_buckets: int = 1024,
    k: float = 0.5,
) -> DataFrame:
    """Per-document hashed-bigram LM score (in-corpus model).

    Returns ``(id_col, n_bigrams, sum_logp, avg_logp)``:

    - ``n_bigrams`` — bigrams in the doc (0 for docs under 2 tokens);
    - ``sum_logp``  — Σ log p(cur|prev), decimal-summed then cast double;
    - ``avg_logp``  — sum/n rounded to 6 places (NULL when n_bigrams=0) —
      the filtering key: threshold it or take per-domain quantiles
      (compose with text.quality / curation.domain_cap).

    In-corpus composition means the bigram-rows subtree feeds the fused
    model agg AND the scoring join. The corpus-sized rows stay lazy (no
    corpus-sized executor-memory pinning) at the cost of two bigram
    passes (model + scoring — the fundamental minimum) plus the id
    universe. The fused model-count frame, bounded by pair_buckets +
    ctx_buckets rows at any corpus size, is persisted and held in
    :data:`~datawarehouse_backup_system_spark.scratch.persist_slot`
    until the next holder evicts it or ``persist_slot.release()``.
    For train-on-A/score-B setups use
    :func:`bigram_model` + :func:`score_with_model` directly.
    """
    rows = bigram_rows(df, id_col, text_col, pair_buckets, ctx_buckets)
    # Fused model build (r12, guide §2.3 "aggregate before you shuffle"
    # / §2.4): each bigram row feeds BOTH count tables, so explode a
    # 2-element (kind, bucket) array and count in ONE aggregation —
    # one corpus pass where the two per-table groupBys re-ran the
    # tokenize+hash lineage each. The result is bounded by
    # pair_buckets + ctx_buckets rows at ANY corpus size, so persisting
    # it is scale-free and stops the two broadcast builds in
    # _score_rows from re-running the pass.
    both = (
        rows.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit(0).alias("kind"), F.col("bp").alias("bucket")
                    ),
                    F.struct(
                        F.lit(1).alias("kind"), F.col("bc").alias("bucket")
                    ),
                )
            ).alias("kb")
        )
        .groupBy(
            F.col("kb.kind").alias("kind"), F.col("kb.bucket").alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    persist_slot.hold(both)
    pair_cnt = both.where(F.col("kind") == 0).select(
        F.col("bucket").alias("bp"), F.col("c").alias("c_pair")
    )
    ctx_cnt = both.where(F.col("kind") == 1).select(
        F.col("bucket").alias("bc"), F.col("c").alias("c_ctx")
    )
    base = df.select(F.col(id_col)).distinct()
    return _score_rows(
        rows, base, (pair_cnt, ctx_cnt), id_col, pair_buckets, k
    )
