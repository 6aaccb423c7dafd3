"""Deterministic sampling and splitting for dataset curation.

Seeded-RNG sampling (``df.sample``) is neither reproducible across
engines nor stable under retries at scale. These operators derive all
randomness from content hashes instead: the same row always lands in the
same sample or split, on any engine, any partitioning, any
rerun — which is what a training-data pipeline needs for auditable
dataset versions.

- **hash_split** — assign train/val/test (any weighted splits) by hash
  bucket; splits are disjoint and exhaustive.
- **stratified_sample**, **domain_mixture**, **quantile_filter**,
  **negative_samples** and the weighted samplers — per-stratum,
  per-budget and per-anchor selections on the same content hashes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: buckets per key: md5's first 8 hex chars → 32-bit uniform int
_BUCKETS = 1_000_000


def _bucket(key: Column, salt: str = "") -> Column:
    """Uniform bucket 0..999999 from md5 (conv handles the hex).

    NULL keys hash the '<NULL>' sentinel (review r11): the old
    F.concat propagated NULL, so hash_split routed NULL-key rows to the
    alphabetically-last split, and stratified_sample ranked them first
    in every stratum. For non-NULL keys the bytes are unchanged — the
    FROZEN 8-hex recipe (hashing.md5_prefix_long's exception list) and
    every pinned oracle replay are unaffected; the spec oracles replay
    the non-null form because their key columns are primary keys, and
    the NULL branch is pytest-pinned instead."""
    h = F.md5(
        F.concat(
            F.lit(salt),
            F.coalesce(key.cast("string"), F.lit("<NULL>")),
        )
    )
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % _BUCKETS)


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Disjoint, exhaustive split assignment (e.g. {'train': .9,
    'val': .05, 'test': .05}) by hash bucket — stable across reruns and
    engines. Weights must sum to 1 (±1e-9)."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    b = _bucket(F.col(key_col), salt)
    expr = None
    acc = 0.0
    names = sorted(weights)  # deterministic boundary order
    for name in names[:-1]:
        acc += weights[name]
        cond = b < int(acc * _BUCKETS)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return df.withColumn(out_col, expr)


def stratified_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    n_per_stratum: int,
    salt: str = "",
) -> DataFrame:
    """Exactly min(n, |stratum|) rows per stratum, chosen by hash order —
    deterministic class-balanced subsampling (the training-data fix for
    label skew that a global fraction sample can't give you).

    One shuffle: window row_number per stratum ordered by (md5 bucket,
    key) — the hash order makes the selection uniform-ish and stable
    across engines/reruns; the key tiebreak makes it total. Per-stratum
    state is one counter, so a hot stratum costs its partition only."""
    from pyspark.sql import Window

    if "_rn" in df.columns:
        # loud failure, not silent column loss (review r11: the
        # weighted_reservoir reserved-name rule, applied consistently)
        raise ValueError("stratified_sample reserves the column name '_rn'")
    w = Window.partitionBy(stratum_col).orderBy(
        _bucket(F.col(key_col), salt), F.col(key_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n_per_stratum)
        .drop("_rn")
    )


def domain_mixture(
    df: DataFrame,
    key_col: str,
    domain_col: str,
    tokens_col: str,
    targets: DataFrame,
    salt: str = "",
) -> DataFrame:
    """Deterministic domain-mixture sampling to a per-domain TOKEN
    budget — the data-mixing step of a pretraining pipeline ("x% web,
    y% code, z% books" by tokens, not documents).

    ``targets`` is a tiny (domain, target_tokens) table. Per domain the
    keep fraction is min(1, target_tokens / total_tokens); a document is
    kept iff its md5 hash bucket falls below floor(fraction * buckets) —
    the same content-derived randomness as :func:`hash_split`, so the
    selection is reproducible across engines, retries, and partitionings,
    and a domain's sample only grows when its budget does (buckets are
    nested: threshold_1 < threshold_2 selects a superset).

    Expected sampled tokens per domain ≈ target (hash buckets are
    uniform; exactness would need a global sort — the deterministic
    knapsack variant — which no 100 TB mixing pass does).

    Scale shape: ONE groupBy on domain for token totals (domains are
    few — partial agg collapses it), broadcast of the per-domain plan
    back onto the corpus, then a stateless filter. The corpus is read
    once per pass and never shuffled.

    CONTRACT NOTES (review r9):

    - A corpus domain ABSENT from ``targets`` is dropped entirely (the
      plan join is inner) — that is the mixing semantic ("domains not
      in the recipe contribute nothing"), but it is silent, so audit
      the domain list before a production pass (compare
      ``df.select(domain).distinct()`` against ``targets``).
    - A domain whose total tokens is 0 (every doc has 0/NULL tokens)
      keeps NOTHING: ``try_divide`` yields NULL on /0 and the
      threshold coalesces to 0. The previous raw division made
      ``least`` skip the NULL and SATURATE the keep fraction to 1.0
      (keeping every unrankable doc), and crashed outright under ANSI
      mode.
    """
    totals = df.groupBy(domain_col).agg(
        F.sum(F.col(tokens_col)).alias("_total_tokens")
    )
    plan = totals.join(targets, domain_col).withColumn(
        "_thresh",
        F.floor(
            F.least(
                F.lit(1.0),
                # coalesce INSIDE least: least() skips NULL operands,
                # so a bare try_divide NULL would saturate to 1.0 —
                # the exact bug being fixed (review r9)
                F.coalesce(
                    F.try_divide(
                        F.col("target_tokens") * 1.0,
                        F.col("_total_tokens"),
                    ),
                    F.lit(0.0),
                ),
            )
            * _BUCKETS
        ).cast("bigint"),
    )
    return (
        df.join(F.broadcast(plan), domain_col)
        .where(_bucket(F.col(key_col), salt) < F.col("_thresh"))
        # project back to the INPUT schema: the plan join also carries
        # target_tokens (and any extra targets columns) — leaking them
        # breaks downstream unionByName/strict-schema writes
        .select(*df.columns)
    )


def quantile_filter(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    score_col: str,
    drop_frac: float = 0.25,
) -> DataFrame:
    """Drop the bottom ``drop_frac`` of every stratum by score — the
    "cut the worst quartile per domain" curation rule, EXACT-rank
    variant: within each stratum rows are ordered by (score, key) and
    the lowest floor(drop_frac · n) rows are removed, so the cut is a
    total order and reproducible on any engine.

    One shuffle: a per-stratum window computing (row_number, count).
    At 100 TB with severely hot strata, swap the exact rank for an
    approx_percentile threshold computed in a first pass (sketch
    partial-aggregates map-side) and filter on score >= threshold —
    same semantics up to sketch error, no windowed sort.

    Rows with a NULL score are DROPPED (they cannot be ranked) — review
    r9: they previously ranked FIRST and counted toward n, so
    unrankable rows could survive the cut while scored rows were
    dropped.
    """
    from pyspark.sql import Window

    if "_rk" in df.columns or "_n" in df.columns:
        # loud failure, not silent column loss (review r11)
        raise ValueError(
            "quantile_filter reserves the column names '_rk' and '_n'"
        )
    if not 0 <= drop_frac < 1:
        raise ValueError("drop_frac must be in [0, 1)")
    scored = df.where(F.col(score_col).isNotNull())
    w = Window.partitionBy(stratum_col).orderBy(
        F.col(score_col).asc(), F.col(key_col).asc()
    )
    wn = Window.partitionBy(stratum_col)
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wn))
        .where(F.col("_rk") > F.floor(F.col("_n") * drop_frac))
        .drop("_rk", "_n")
    )


def negative_samples(
    df: DataFrame,
    key_col: str,
    domain_col: str,
    anchors: DataFrame,
    k: int = 4,
    salt: str = "",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    each anchor, the ``k`` pseudo-random candidates from a DIFFERENT
    domain (same-domain candidates are too likely to be semantically
    related to serve as negatives), ranked by a content hash over the
    (anchor, candidate) pair — reproducible across engines/retries like
    every sampler here, so the training pairs of a dataset version are
    re-derivable.

    ``anchors`` carries (key, domain) for the anchor set. Scale shape:
    the anchor set is the small side and broadcasts into one linear
    pass over the corpus (anchors × corpus candidate rows, ranked by a
    per-anchor window). The hash ranking is a full shuffle of the
    candidate rows per anchor — bound the anchor batch (mini-batches of
    anchors per pass), not the corpus.
    """
    a = anchors.select(
        F.col(key_col).alias("anchor_id"),
        F.col(domain_col).alias("_adom"),
    )
    c = df.select(
        F.col(key_col).alias("neg_id"), F.col(domain_col).alias("_cdom")
    )
    from pyspark.sql import Window

    pair_bucket = _bucket(
        F.concat(
            F.col("anchor_id").cast("string"),
            F.lit("|"),
            F.col("neg_id").cast("string"),
        ),
        salt,
    )
    w = Window.partitionBy("anchor_id").orderBy(
        pair_bucket.asc(), F.col("neg_id").asc()
    )
    return (
        # null-safe inequality (review r11): NULL != x is NULL, so a
        # NULL-domain anchor silently got ZERO negatives and NULL-domain
        # corpus rows could never serve as negatives — under the
        # documented semantic NULL is simply a different domain
        c.join(F.broadcast(a), ~F.col("_adom").eqNullSafe(F.col("_cdom")))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("anchor_id", "neg_id", "rank")
    )


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    scale: int,
    salt: str = "",
) -> DataFrame:
    """Deterministic Poisson/PPS sampling: row *i* is kept with
    inclusion probability ``p_i = min(1, weight_i / scale)`` — the
    survey-sampling scheme (probability proportional to size) behind
    every importance-weighted corpus subsample ("keep long documents
    more often, reweight at training time").

    The Bernoulli draw is the md5 hash bucket, and the comparison is
    CROSS-MULTIPLIED so it stays in integer arithmetic — ``bucket *
    scale < weight * buckets`` — exact on any engine, no float
    boundary. Output carries ``p_num``/``p_den`` (the exact inclusion
    probability as a rational) so downstream Horvitz-Thompson
    reweighting (1/p) never reconstructs p from floats.

    Stateless filter over the scan: zero shuffles at any corpus size.
    ``weight_col`` must be a non-negative integral column.
    """
    if scale <= 0:
        raise ValueError("scale must be positive")
    b = _bucket(F.col(key_col), salt)
    w = F.col(weight_col).cast("bigint")
    # DECIMAL promotion (review r11): weight*1e6 or bucket*scale wraps
    # int64 past ~9.2e12 in non-ANSI mode, silently INVERTING keep/drop
    # for exactly the heaviest rows PPS most wants — the q49/q50/w02
    # overflow class, applied to the comparison itself
    kept = df.where(
        b * F.lit(scale).cast("decimal(38,0)")
        < w.cast("decimal(38,0)") * F.lit(_BUCKETS)
    )
    return kept.withColumn(
        "p_num", F.least(w, F.lit(scale)).cast("bigint")
    ).withColumn("p_den", F.lit(scale).cast("bigint"))


def weighted_reservoir(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    weight_col: str,
    k: int,
    weight_cap: int = 16,
    salt: str = "",
    presplit: int = 32,
) -> DataFrame:
    """Fixed-size weighted sampling WITHOUT replacement, inclusion
    probability proportional to weight (Efraimidis & Spirtakis 2006,
    "Weighted random sampling with a reservoir" — the A-ES scheme):
    per group, keep the ``k`` rows with the largest *priority*, where a
    row of integer weight ``w`` gets priority ``max_{j=1..w} h(key, j)``
    for the repo's uniform 56-bit md5 hash ``h``.

    Why max-of-w-hashes instead of the textbook ``u^(1/w)`` key:
    ``u^(1/w)`` is exactly the distribution of the MAX of ``w`` iid
    uniforms, so for integral weights the two samplers are the SAME
    distribution — but the max form never leaves integer arithmetic
    (no ``pow``/``ln``, whose last-ulp rounding differs across engines
    and could flip a top-k boundary), so the sample is bit-reproducible
    on any engine and MERGEABLE: priorities are per-row constants, so
    sample(A ∪ B) = top-k(sample(A) ∪ sample(B)) — the bottom-k/KMV
    property that makes a re-sharded or incrementally-grown corpus
    yield the identical sample (reference analog: none; completes the
    sampler triad: ``weighted_sample`` = Poisson-PPS, random size;
    ``bottomk_sample`` = uniform, fixed size; this = weighted, fixed
    size — the per-item selector that consumes importance weights such
    as DSIR's).

    Scale shape: priorities are computed in the scan (≤ ``weight_cap``
    md5s per row, no shuffle, no data-sized state); the per-group top-k
    runs TWO row_number windows — first within ``(group, md5-bucket %
    presplit)``, then over the ≤ ``presplit·k`` survivors per group —
    so a hot group (one domain holding half the corpus) never funnels
    through a single reducer. Two-phase equals one-phase exactly
    because priorities are deterministic per row.

    ``weight_col`` must be a non-NULL integral column, and ``key_col``
    must be unique within each group — priority and tie-break both
    derive from the key, so duplicate keys would make WHICH physical
    row survives arbitrary (the kept key SET stays deterministic, but
    payload columns could differ between plans/retries). Weights are
    clamped to ``[1, weight_cap]``. The cap bounds per-row hash work;
    above it inclusion probability saturates, so callers needing more
    dynamic range rescale weights upstream (sub-linear weighting is
    usually what corpus mixing wants anyway).

    Output adds ``weight_clamped``, ``priority``, ``rank_in_group``.
    """
    from pyspark.sql import Window

    from .hashing import md5_bucket, md5_prefix_long

    if k <= 0:
        raise ValueError("k must be positive")
    if weight_cap <= 0 or presplit <= 0:
        raise ValueError("weight_cap and presplit must be positive")
    reserved = {"weight_clamped", "priority", "rank_in_group", "_wr_rn"}
    clash = reserved & set(df.columns)
    if clash:
        # same loud-failure rule as self_dedup_first/asof_join: silently
        # replacing a caller's column loses data (review r8)
        raise ValueError(
            f"weighted_reservoir reserves column name(s) {sorted(clash)}; "
            "rename them before sampling"
        )
    key_s = F.col(key_col).cast("string")
    w = F.least(
        F.greatest(F.col(weight_col).cast("bigint"), F.lit(1)),
        F.lit(int(weight_cap)),
    )
    pri = F.array_max(
        F.transform(
            F.sequence(F.lit(1).cast("bigint"), w),
            lambda j: md5_prefix_long(
                F.concat_ws("\x01", F.lit(salt), key_s, j.cast("string"))
            ),
        )
    )
    with_pri = df.withColumn("weight_clamped", w).withColumn(
        "priority", pri
    )
    # phase 1: top-k inside each (group, key-hash presplit) slice — the
    # bucket expression need not be engine-portable (it only SPLITS;
    # the survivors' final ranking is recomputed in phase 2)
    bucket = md5_bucket(
        F.concat_ws("\x01", F.lit("wr-split"), key_s), int(presplit)
    )
    local = Window.partitionBy(*group_cols, bucket).orderBy(
        F.col("priority").desc(), F.col(key_col).asc()
    )
    survivors = (
        with_pri.withColumn("_wr_rn", F.row_number().over(local))
        .where(F.col("_wr_rn") <= k)
        .drop("_wr_rn")
    )
    final = Window.partitionBy(*group_cols).orderBy(
        F.col("priority").desc(), F.col(key_col).asc()
    )
    return survivors.withColumn(
        "rank_in_group", F.row_number().over(final).cast("bigint")
    ).where(F.col("rank_in_group") <= k)


def bottomk_sample(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    k: int,
    salt: str = "",
) -> DataFrame:
    """Bottom-k sketch: per group, the k rows whose salted md5(key) is
    smallest — a MERGEABLE deterministic uniform sample (Cohen &
    Kaplan's bottom-k lineage; the k-minimum-values distinct-count
    sketch keeps exactly this set).

    Why this is the 100 TB sampling primitive: ``rand()``-based
    sampling is neither repeatable across retries nor mergeable across
    shards, while bottom-k is both — each shard keeps its own k
    smallest hashes, and merging shards = keep the k smallest of the
    union, so a re-sharded or incrementally-extended corpus yields the
    SAME sample as a single pass. Union semantics also compose:
    bottomk(A ∪ B) = bottomk(bottomk(A) ∪ bottomk(B)). One window per
    group (map-side partial possible via per-partition top-k under
    AQE); no randomness, so retries and engines agree bit-for-bit.

    Returns the sampled rows with their ``rank_in_group``.
    """
    from pyspark.sql import Window

    h = F.md5(F.concat_ws("\x01", F.lit(salt), F.col(key_col).cast("string")))
    w = Window.partitionBy(*group_cols).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("rank_in_group", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank_in_group") <= k)
    )
