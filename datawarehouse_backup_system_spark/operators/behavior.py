"""Behavioral / event-sequence analytics over an event stream table.

The reference system's analytics surface stops at per-table aggregates;
a warehouse that ingests a clickstream-shaped ``events`` table needs the
standard product-analytics operators on top: ordered funnels, cohort
retention, transition (path) counts, and rolling anomaly flags. All
four are expressed as single-shuffle DataFrame plans keyed on the
entity column, so they scale with the number of entities, not events
per entity:

- **funnel**: each step's first-completion timestamp is a conditional
  windowed ``min`` over the entity partition; the strictly-after
  constraint chains step *i* on step *i−1*'s column. One exchange on
  the entity key; every subsequent window reuses it (Catalyst collapses
  same-partitioning windows into one sort).
- **cohort retention**: two hash aggregations (first-activity epoch
  week per entity, then distinct entities per cohort×offset cell) plus
  one equi-join on the entity key — the join side with first-activity
  weeks is |entities| rows, broadcastable for most real corpora.
- **transitions**: ``lead`` over the entity partition, then a hash agg
  on (src,dst) — the classic Markov-transition / next-page matrix.
- **rolling anomaly**: count/sum/sum-of-squares over a bounded
  preceding-rows frame per key; the z-score test is cross-multiplied
  into pure integer arithmetic on fixed-point values so the flag is
  exact on any engine (no float stddev in the comparison).

Timestamps are bucketed by integer epoch arithmetic (``unix_micros``),
never by calendar ``date_trunc('week',…)``, so bucket boundaries are
engine- and locale-independent.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_WEEK_US = 7 * 24 * 3600 * 1_000_000


def funnel_steps(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    type_col: str,
    steps: Sequence[str],
) -> DataFrame:
    """Per-entity ordered-funnel completion: one row per entity with
    ``step{i}_ts`` = the earliest time the entity completed step *i*
    STRICTLY AFTER its step *i−1* completion (NULL = never reached).

    This is the sequential semantics real funnels need — an entity that
    purchased before ever viewing does not count as view→purchase; the
    conditional-window chain encodes exactly that without a self-join
    per step. ``steps`` is assumed small (funnels are 3–8 steps); cost
    is one shuffle on ``entity_col`` + len(steps) windows over the same
    partitioning + one final hash agg.
    """
    if not steps:
        raise ValueError("funnel_steps: need at least one step")
    w = Window.partitionBy(entity_col)
    # NULL entities are dropped (review r10): partitionBy/groupBy merge
    # every NULL-entity row into ONE phantom entity whose steps can be
    # completed by unrelated anonymous events — one anon 'view' plus a
    # different anon 'purchase' counted as a completion. Matches
    # cohort_retention, which drops NULL entities via its equi-join.
    out = df.where(F.col(entity_col).isNotNull()).select(
        entity_col, ts_col, type_col
    )
    prev: str | None = None
    for i, step in enumerate(steps, 1):
        cond = F.col(type_col) == step
        if prev is not None:
            cond = cond & (F.col(ts_col) > F.col(prev))
        out = out.withColumn(
            f"step{i}_ts", F.min(F.when(cond, F.col(ts_col))).over(w)
        )
        prev = f"step{i}_ts"
    step_cols = [f"step{i}_ts" for i in range(1, len(steps) + 1)]
    return out.groupBy(entity_col).agg(
        *[F.min(c).alias(c) for c in step_cols]
    )


def funnel_counts(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    type_col: str,
    steps: Sequence[str],
) -> DataFrame:
    """Funnel summary: (step_index, step, n_entities) — how many
    entities reached each step in order. Monotone non-increasing by
    construction."""
    per_entity = funnel_steps(df, entity_col, ts_col, type_col, steps)
    counts = per_entity.agg(
        *[
            F.count(f"step{i}_ts").alias(f"_n{i}")
            for i in range(1, len(steps) + 1)
        ]
    )
    pairs: list[Column] = []
    for i, step in enumerate(steps, 1):
        pairs += [
            F.struct(
                F.lit(i).alias("step_index"),
                F.lit(step).alias("step"),
                F.col(f"_n{i}").alias("n_entities"),
            )
        ]
    return (
        counts.select(F.explode(F.array(*pairs)).alias("s"))
        .select("s.step_index", "s.step", "s.n_entities")
    )


def cohort_retention(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
) -> DataFrame:
    """Weekly cohort-retention matrix: entities grouped by their
    first-activity epoch week; each (cohort_week, week_offset) cell
    counts the distinct entities from that cohort active that week.

    Weeks are ``unix_micros div week`` — integer TRUNCATION toward
    zero, which Spark ``div`` and DuckDB ``//`` agree on (review r8:
    this is not floor for negatives — pre-epoch timestamps would merge
    weeks −1 and 0; event data postdates the epoch, so the precondition
    is ts ≥ 1970-01-01). No calendar/locale semantics. The
    first-activity frame is one row per entity; at 100 TB it is the
    small side and broadcasts.
    """
    # integer `div`, not float division + floor: micros ~1e15 are exact
    # in double, but the quotient's rounding could land on a boundary —
    # integer arithmetic can't.
    wk = F.expr(f"CAST(unix_micros(`{ts_col}`) div {_WEEK_US} AS BIGINT)")
    active = df.select(F.col(entity_col).alias("_e"), wk.alias("_wk"))
    first = active.groupBy("_e").agg(F.min("_wk").alias("_cohort"))
    # no broadcast HINT (review r10): `first` is one row per entity —
    # small for most corpora, but billions of entities would blow the
    # 8 GB broadcast limit, and a hint removes the planner's fallback.
    # AQE broadcasts it at runtime exactly when it is actually small.
    return (
        active.join(first, "_e")
        .groupBy(
            F.col("_cohort").alias("cohort_week"),
            (F.col("_wk") - F.col("_cohort")).alias("week_offset"),
        )
        .agg(F.count_distinct(F.col("_e")).alias("n_entities"))
    )


def path_transitions(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    type_col: str,
    order_tiebreak: str,
) -> DataFrame:
    """Markov transition counts: for each entity's time-ordered event
    sequence, count (src_type → dst_type) adjacent pairs across the
    whole corpus. ``lead`` over the entity partition (one shuffle),
    then a hash agg; the tiebreak column makes the order total so the
    matrix is deterministic under equal timestamps."""
    w = Window.partitionBy(entity_col).orderBy(ts_col, order_tiebreak)
    nxt = df.select(
        F.col(type_col).alias("src_type"),
        F.lead(type_col).over(w).alias("dst_type"),
    )
    return (
        nxt.where(F.col("dst_type").isNotNull())
        .groupBy("src_type", "dst_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def rolling_anomaly_flags(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    lookback: int = 100,
    min_n: int = 30,
    z_threshold: float = 3,
) -> DataFrame:
    """Rows whose fixed-point ``value_col`` deviates more than
    ``z_threshold`` sample-free sigmas from the trailing ``lookback``
    rows of the same key. ``value_col`` must already be integral
    (cents); the z² test is cross-multiplied to integers —
    ``(n·x − s)² > z²·(n·ssq − s²)`` with s=Σv, ssq=Σv² over the
    preceding frame — so the flag is EXACT on every engine (a float
    stddev comparison would not hash-stably reproduce). z² is
    quantized to micro-units first, so exactness requires z² exact at
    6 decimals (true of every conventional threshold: 2, 2.5, 3, …);
    see the inline note for the boundary behavior otherwise. The products
    run in DECIMAL(38,0) (review r8: raw bigint wrapped for cent
    values ≳ 1e8 with the default lookback — n·ssq ~ 1e20 exceeds
    int64 — the same overflow class pair_support already guards).

    One shuffle on the key; the frame is bounded rows (not time), so
    per-row state is O(lookback) and the window never globalizes.
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, tiebreak_col)
        .rowsBetween(-lookback, -1)
    )
    v = F.col(value_col)
    dec = "decimal(38,0)"
    # the promotion must start INSIDE the window sums: v² for a 5e9-cent
    # value already exceeds int64, so a bigint Σv² throws under ANSI
    # (or wraps with it off) before any downstream cast could help
    vd0 = v.cast(dec)
    staged = df.select(
        key_col,
        ts_col,
        tiebreak_col,
        value_col,
        F.count(v).over(w).alias("_n"),
        F.sum(vd0).over(w).alias("_s"),
        F.sum(vd0 * vd0).over(w).alias("_ssq"),
    )
    n = F.col("_n")
    nd, vd = n.cast(dec), v.cast(dec)
    sd, ssqd = F.col("_s").cast(dec), F.col("_ssq").cast(dec)
    # z² in exact micro-units so a fractional z (2.5 → 6.25) keeps an
    # exact rational test instead of int-truncating to z=2 (review r8).
    # Exactness scope (review r9): lhs·10⁶ > z²_micro·rhs ⟺
    # lhs > z²·rhs exactly when z SQUARED is exact at 6 decimals
    # (z=2.5, 3, 1.25, …); a z whose square is inexact at that grain
    # (z=1.234567 → z²=1.524195…) shifts the boundary by up to
    # 1e-6·rhs and can flip rows sitting exactly on it. Integer z is
    # bit-unchanged (both sides scale by 10⁶).
    z2_micro = int(round(float(z_threshold) ** 2 * 1_000_000))
    lhs = (
        (nd * vd - sd) * (nd * vd - sd) * F.lit(1_000_000).cast(dec)
    )
    rhs = F.lit(z2_micro).cast(dec) * (nd * ssqd - sd * sd)
    return (
        staged.where((n >= min_n) & (lhs > rhs))
        .select(key_col, ts_col, tiebreak_col, value_col, n.alias("n_window"))
    )


def ewma_dyadic(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    k_window: int = 16,
) -> DataFrame:
    """Per-key exponentially-weighted moving average with α = 1/2 over
    the last ``k_window`` observations — in EXACT dyadic-rational
    arithmetic, so the result hash-compares across engines.

    α = 1/2 is the one EWMA whose weights (2⁻¹, 2⁻², ...) are finite
    binary fractions: with integer inputs every term is exact, and
    truncating the tail at k_window bounds the dropped mass below
    2^-k_window. The recurrence s_n = (x_n + s_{n-1})/2 is sequential,
    but the TRUNCATED form is a fixed linear combination of the last k
    values — expressible as k LAG columns inside one window pass (all
    codegen, no UDF; the interpreted higher-order-function alternative
    measured 10× slower on similar shapes — SCALE.md measured lessons):

        num = Σ_{j=0..k-1} lag(x, j) · 2^(k-1-j)      (newest heaviest)
        den = 2^k − 2^(k−m)        (m = observations actually present)

    and the reported smoothed value is the exact integer floor of
    1000·num/den (milli-units of the integer input). One shuffle on
    ``key_col``; per-key state is the k-row window frame.

    PRECONDITION: ``value_col`` must be non-NULL on every row. The
    den = 2^k − 2^(k−m) correction is only exact when the m missing
    terms are the OLDEST lags (i.e. the key simply has fewer than k
    rows); an interior NULL value would be coalesced to 0 in num yet
    subtracted from den as if it were the oldest weight, skewing the
    result. Rows with NULL values are therefore dropped up front, which
    restores the only-oldest-missing shape; a key whose values are ALL
    NULL has no surviving rows and yields NO output row (and every
    surviving latest row has m ≥ 1, so den ≥ 2^(k−1) > 0 — division is
    always defined).

    Returns the input keys + ``m_terms, ewma_num, ewma_den,
    ewma_milli`` for the LATEST row per key.

    EXACTNESS BOUND (review r10): ``ewma_num`` is the exposed-schema
    bigint Σ x·2^j ≤ x·2^k_window, so values must satisfy
    |x| < 2^63 / 2^k_window (k=16 → |x| < 1.4e14 — $1.4e12 in cents);
    the *1000 milli step is decimal-promoted so it can never wrap on
    values ewma_num itself holds.
    """
    df = df.where(F.col(value_col).isNotNull())
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    x = F.col(value_col).cast("bigint")
    lags = [F.lag(x, j).over(w) for j in range(k_window)]
    num = None
    for j, lg in enumerate(lags):
        term = F.coalesce(lg, F.lit(0)) * F.lit(1 << (k_window - 1 - j))
        num = term if num is None else num + term
    m = None
    for lg in lags:
        t = lg.isNotNull().cast("bigint")
        m = t if m is None else m + t
    out = (
        df.withColumn("ewma_num", num)
        .withColumn("m_terms", m)
        .withColumn(
            "rn_desc",
            F.row_number().over(
                Window.partitionBy(key_col).orderBy(
                    *[F.col(c).desc() for c in order_cols]
                )
            ),
        )
        .where(F.col("rn_desc") == 1)
        .withColumn(
            "ewma_den",
            # bit shift, not pow() — the quantiles.py module contract
            # (libm-free integer arithmetic; pow is double-exact only
            # below 2^53, so k_window > 53 silently loses exactness)
            F.lit(1 << k_window)
            - F.expr(f"shiftleft(cast(1 as bigint), {k_window} - m_terms)"),
        )
        .withColumn(
            "ewma_milli",
            # the *1000 step promotes to DECIMAL(38,0) (review r10, the
            # rolling_anomaly/pair_support overflow pattern): num ~
            # x·2^k, so num*1000 wraps int64 already at x ≈ 1.4e14/2^k;
            # the quotient fits bigint whenever num does. ewma_num
            # itself stays bigint — exposed-schema contract; its bound
            # (x < 2^63 / 2^k_window) is documented above.
            F.expr(
                "cast((cast(ewma_num as decimal(38,0)) * 1000)"
                " div ewma_den as bigint)"
            ),
        )
    )
    return out.select(
        key_col, "m_terms", "ewma_num", "ewma_den", "ewma_milli"
    )


def pair_support(
    df: DataFrame,
    basket_cols: Sequence[str],
    item_col: str,
    min_support: int = 1,
    max_basket_size: int | None = None,
) -> DataFrame:
    """Frequent co-occurring item PAIRS with support and lift — the
    A-priori first pass / market-basket co-occurrence, the one frequent-
    pattern primitive the analytics family lacked (reference analog:
    none — the daemon has no pattern mining; this extends §2.6 the same
    way the funnel/path operators do).

    A basket is one distinct ``basket_cols`` tuple; items are the
    distinct ``item_col`` values inside it. Pairs are generated by an
    equi-join of the deduplicated basket-item relation with itself on
    the basket key plus ``item_a < item_b`` — work is
    Σ_baskets C(k, 2) with k ≤ |item vocabulary|, so the join is
    candidate-bound exactly like the LSH bucket join, never |df|².
    At 100 TB: one shuffle on the basket key (both sides identically
    partitioned — AQE plans a single exchange per side); per-item
    counts are a vocabulary-sized frame, broadcast; the basket total is
    a broadcast 1-row frame (no driver-side collect in the plan).

    ``max_basket_size`` is the hot-basket cap (VERDICT r7): one skewed
    mega-basket (a bot user touching 10⁵ distinct items) alone is
    ~5·10⁹ pairs — the exact skew class d02's ``max_bucket_size`` caps.
    A basket with more distinct items keeps only its ``max_basket_size``
    LOWEST-md5-hash items (deterministic, order- and partition-
    independent), bounding per-basket work at C(cap, 2). Capped-out
    items still count toward ``n_a``/``n_b``/``n_baskets`` — the lift
    denominators stay exact; only pair GENERATION is capped.

    Lift is reported exactly as integer milli-units:
    ``lift_milli = floor(1000 · support · n_baskets / (n_a · n_b))``.
    """
    bc = list(basket_cols)
    baskets = df.select(*bc, item_col).distinct()
    pair_src = _cap_hot_baskets(baskets, bc, item_col, max_basket_size)
    a, b = pair_src.alias("a"), pair_src.alias("b")
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in bc]
    cond.append(F.col(f"a.{item_col}") < F.col(f"b.{item_col}"))
    pairs = (
        a.join(b, cond)
        .groupBy(
            F.col(f"a.{item_col}").alias("item_a"),
            F.col(f"b.{item_col}").alias("item_b"),
        )
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= min_support)
    )
    counts = baskets.groupBy(item_col).agg(F.count("*").alias("n"))
    total = baskets.select(*bc).distinct().agg(
        F.count("*").alias("n_baskets")
    )
    return (
        pairs.join(
            F.broadcast(
                counts.select(
                    F.col(item_col).alias("item_a"), F.col("n").alias("n_a")
                )
            ),
            "item_a",
        )
        .join(
            F.broadcast(
                counts.select(
                    F.col(item_col).alias("item_b"), F.col("n").alias("n_b")
                )
            ),
            "item_b",
        )
        .crossJoin(F.broadcast(total))
        # DECIMAL(38,0) intermediates: support·n_baskets·1000 overflows
        # int64 around 1e9 baskets × 1e7 support — silently negative in
        # non-ANSI Spark, an error in DuckDB. The QUOTIENT (milli-lift)
        # is always small, so DIV's bigint result is safe.
        .withColumn(
            "lift_milli",
            F.expr(
                "(CAST(support AS DECIMAL(38,0)) * n_baskets * 1000)"
                " div (CAST(n_a AS DECIMAL(38,0)) * n_b)"
            ),
        )
        .select("item_a", "item_b", "support", "n_a", "n_b", "lift_milli")
    )


def _cap_hot_baskets(
    baskets: DataFrame,
    basket_cols: list[str],
    item_col: str,
    max_basket_size: int | None,
) -> DataFrame:
    """Keep each basket's ``max_basket_size`` lowest-md5-hash items
    (the d02 ``cap_hot_buckets`` shape, but rank-capped instead of
    all-or-nothing: a mega-basket still contributes its capped pair
    neighborhood instead of vanishing). ``None`` = passthrough.
    md5(item), ties by item: deterministic across partitionings."""
    if max_basket_size is None:
        return baskets
    w = Window.partitionBy(*basket_cols).orderBy(
        F.md5(F.col(item_col).cast("string")), F.col(item_col)
    )
    return (
        baskets.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= max_basket_size)
        .drop("_rk")
    )

