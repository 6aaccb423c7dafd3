"""Extended relational surface (q22+): the join/grouping/set-operator
vocabulary Spark contributes beyond the reference's pipeline operators —
outer joins, rollup, pivot, set ops, EXISTS, as-of joins, exact
percentiles. Same portability rules as queries.relational.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse_backup_system_spark.queries.base import QuerySpec, load
from datawarehouse_backup_system_spark.queries.relational import cents


# --------------------------------------------------------------------------
# q22 — TPC-H-Q3-style: top-10 open orders by discounted revenue
# --------------------------------------------------------------------------
def q22_topk_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1997-01-01")
    li = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") >= "1997-01-01")
    rev = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(rev) / 100.0).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q22_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) / 100.0 AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""


# --------------------------------------------------------------------------
# q23 — TPC-H-Q4-style: EXISTS subquery, counts per priority
# --------------------------------------------------------------------------
def q23_exists_late_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    # "late": shipped more than 60 days after the order date
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    joined = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        # INTERVAL keeps time-of-day (date_add would truncate to date,
        # diverging from the oracle's o_orderdate + INTERVAL 60 DAY)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return joined.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


Q23_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# q24 — left outer join preserving zero-order customers
# --------------------------------------------------------------------------
def q24_outer_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_big_orders"))  # nulls don't count
    )


Q24_SQL = """
SELECT c_custkey, c_mktsegment, COUNT(o_orderkey) AS n_big_orders
FROM customer
LEFT OUTER JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
  ON c_custkey = o.o_custkey
GROUP BY c_custkey, c_mktsegment
"""


# --------------------------------------------------------------------------
# q25 — ROLLUP: subtotals + grand total with grouping-null markers
# --------------------------------------------------------------------------
def q25_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            (F.sum(cents(F.col("l_extendedprice"))) / 100.0).alias("sum_price"),
        )
    )


Q25_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0 AS sum_price
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# --------------------------------------------------------------------------
# q26 — pivot: order counts, priority × status matrix
# --------------------------------------------------------------------------
def q26_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    statuses = ["F", "O", "P"]
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", statuses)
        .agg(F.count(F.lit(1)))
        .na.fill(0, [*statuses])
        .withColumnsRenamed({s: f"n_{s}" for s in statuses})
    )


Q26_SQL = """
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_F,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_O,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_P
FROM orders GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# q27 — set operators: INTERSECT / EXCEPT on derived key sets
# --------------------------------------------------------------------------
def q27_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    big = orders.where(F.col("o_totalprice") > 250000).select("o_custkey")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    both = big.intersect(urgent).withColumn("set_kind", F.lit("both"))
    big_only = big.subtract(urgent).withColumn("set_kind", F.lit("big_only"))
    return both.unionByName(big_only).select("set_kind", "o_custkey")


Q27_SQL = """
SELECT 'both' AS set_kind, o_custkey FROM (
  SELECT o_custkey FROM orders WHERE o_totalprice > 250000
  INTERSECT
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
UNION ALL
SELECT 'big_only', o_custkey FROM (
  SELECT o_custkey FROM orders WHERE o_totalprice > 250000
  EXCEPT
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
"""


# --------------------------------------------------------------------------
# q28 — as-of join: each purchase matched to the user's most recent
# earlier 'view' event (composed from an ignore-nulls running window —
# Spark has no native as-of join; this is the documented composition)
# --------------------------------------------------------------------------
def q28_asof_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    view_ts = F.when(F.col("event_type") == "view", F.col("ts"))
    with_prior = ev.withColumn("prior_view_ts", F.last(view_ts, ignorenulls=True).over(w))
    return (
        with_prior.where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("purchase_us"),
            F.unix_micros("prior_view_ts").alias("prior_view_us"),
        )
    )


Q28_SQL = """
WITH w AS (
  SELECT event_id, user_id, event_type, ts,
         last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view_ts
  FROM events
)
SELECT event_id, user_id, epoch_us(ts) AS purchase_us,
       epoch_us(prior_view_ts) AS prior_view_us
FROM w WHERE event_type = 'purchase'
"""


# --------------------------------------------------------------------------
# q29 — exact percentiles (linear interpolation) of quantities
# --------------------------------------------------------------------------
def q29_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(l_quantity, 0.99)"), 6).alias("p99"),
        F.count("*").alias("n"),
    )


Q29_SQL = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50,
       ROUND(quantile_cont(l_quantity, 0.9), 6) AS p90,
       ROUND(quantile_cont(l_quantity, 0.99), 6) AS p99,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# q31 — semi-structured: JSON field extraction from the props column
# --------------------------------------------------------------------------
def q31_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_id", k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(F.count("*").alias("n"), F.sum("k").alias("sum_k"))
    )


Q31_SQL = """
WITH x AS (
  SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT k % 10 AS k_mod, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k
FROM x GROUP BY 1
"""


# --------------------------------------------------------------------------
# q32 — vector column stats: per-label norm profile (exact fixed-point)
# --------------------------------------------------------------------------
def q32_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datawarehouse_backup_system_spark.operators.similarity import norm

    emb = load(spark, sf_dir, "embeddings")
    n_micro = cents(norm(F.col("embedding").cast("array<double>")), 1_000_000)
    cnt = F.count("*")
    return emb.groupBy("label").agg(
        cnt.alias("n"),
        (F.sum(n_micro) / (1_000_000.0 * cnt)).alias("avg_norm"),
        F.max(F.size("embedding")).alias("dim"),
    )


Q32_SQL = """
WITH v AS (
  SELECT label, CAST(embedding AS DOUBLE[]) AS e, len(embedding) AS dim
  FROM embeddings
)
SELECT label, COUNT(*) AS n,
       SUM(CAST(FLOOR(sqrt(list_dot_product(e, e)) * 1000000 + 0.5) AS BIGINT))
         / (1000000.0 * COUNT(*)) AS avg_norm,
       MAX(dim) AS dim
FROM v GROUP BY label
"""


# --------------------------------------------------------------------------
# q33 — ranking functions: rank / dense_rank / ntile over user activity
# --------------------------------------------------------------------------
def q33_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale note (review r11): the unpartitioned window single-
    partitions the per-user counts frame — acceptable ONLY because
    ntile is inherently global (its bucket boundaries need the total
    ordered count) and this spec exists to pin the three rank
    functions' tie semantics. Production global ranking without ntile
    uses the two-phase presplit shape (sampling.weighted_reservoir) or
    e02's percentile-band tier; at e02's 2 GiB threshold this plan is
    the wrong tool and the docstrings there say what to use."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
    w = Window.orderBy(F.desc("n_events"), F.asc("user_id"))
    return counts.select(
        "user_id",
        "n_events",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


Q33_SQL = """
WITH c AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id)
SELECT user_id, n_events,
       rank()       OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       ntile(4)     OVER w AS quartile
FROM c WINDOW w AS (ORDER BY n_events DESC, user_id ASC)
"""


# --------------------------------------------------------------------------
# q34 — decorrelated "above my customer's average" (correlated scalar
# subquery class, expressed as an exact integer comparison: price > avg
# ⟺ cents(price)·n > Σcents — no division, no FP)
# --------------------------------------------------------------------------
def q34_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    pc = cents(F.col("o_totalprice"))
    w = Window.partitionBy("o_custkey")
    stats = orders.withColumn("price_c", pc).withColumn(
        "sum_c", F.sum("price_c").over(w)
    ).withColumn("n_c", F.count("*").over(w))
    return (
        stats.where(F.col("price_c") * F.col("n_c") > F.col("sum_c"))
        .select("o_orderkey", "o_custkey")
    )


Q34_SQL = """
WITH s AS (
  SELECT o_orderkey, o_custkey,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
           OVER (PARTITION BY o_custkey) AS sum_c,
         COUNT(*) OVER (PARTITION BY o_custkey) AS n_c
  FROM orders
)
SELECT o_orderkey, o_custkey FROM s WHERE price_c * n_c > sum_c
"""


# --------------------------------------------------------------------------
# q35 — deterministic hash sampling + train/val/test split (dataset
# curation surface: reproducible across engines/retries, unlike seeded RNG)
# --------------------------------------------------------------------------
def q35_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datawarehouse_backup_system_spark.operators.sampling import hash_split

    docs = load(spark, sf_dir, "documents")
    split = hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="r1"
    )
    return split.groupBy("split").agg(
        F.count("*").alias("n"), F.min("doc_id").alias("min_id")
    )


Q35_SQL = """
WITH b AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('r1' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           % 1000000 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 100000 THEN 'test'    -- boundaries follow
            WHEN bucket < 900000 THEN 'train'   -- sorted split names
            ELSE 'val' END AS split,
       COUNT(*) AS n, MIN(doc_id) AS min_id
FROM b GROUP BY 1
"""


# --------------------------------------------------------------------------
# q36 — declarative data-quality report (one aggregation pass + FK check)
# --------------------------------------------------------------------------
def q36_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datawarehouse_backup_system_spark.operators import expectations as ex

    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    report = ex.run_checks(
        orders,
        [
            ex.not_null("o_custkey"),
            ex.unique("o_orderkey"),
            ex.in_range("o_totalprice", 0, 10_000_000),
            ex.matches("o_orderstatus", "^[FOP]$"),
            ex.satisfies("priority_known", F.col("o_orderpriority").rlike("^[1-5]-")),
        ],
    )
    fk = ex.fk_exists(lineitem, "l_orderkey", orders, "o_orderkey")
    return report.unionByName(fk)


Q36_SQL = """
WITH agg AS (
  SELECT COUNT(*) AS n,
         COUNT(*) FILTER (WHERE o_custkey IS NULL) AS v0,
         COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS v1,
         COUNT(*) FILTER (WHERE o_totalprice IS NOT NULL
                            AND o_totalprice NOT BETWEEN 0 AND 10000000) AS v2,
         COUNT(*) FILTER (WHERE o_orderstatus IS NOT NULL
                            AND NOT regexp_matches(o_orderstatus, '^[FOP]$')) AS v3,
         -- IS NULL counts as a violation: satisfies() treats a NULL
         -- predicate as failed (r11 rule); the bare NOT regexp skipped it
         COUNT(*) FILTER (WHERE o_orderpriority IS NULL
                             OR NOT regexp_matches(o_orderpriority, '^[1-5]-')) AS v4
  FROM orders
)
SELECT check_name, violations, n_rows, violations = 0 AS passed FROM (
  SELECT 'not_null(o_custkey)' AS check_name, v0 AS violations, n AS n_rows FROM agg
  UNION ALL SELECT 'unique(o_orderkey)', v1, n FROM agg
  UNION ALL SELECT 'in_range(o_totalprice,0,10000000)', v2, n FROM agg
  UNION ALL SELECT 'matches(o_orderstatus)', v3, n FROM agg
  UNION ALL SELECT 'priority_known', v4, n FROM agg
  UNION ALL
  SELECT 'fk_exists(l_orderkey->o_orderkey)',
         (SELECT COUNT(*) FROM lineitem l
          WHERE l.l_orderkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
         CAST(NULL AS BIGINT)
)
"""


# --------------------------------------------------------------------------
# q30 — approximate profiling (SURVEY §2.6 gap list). HLL / KLL sketch
# values are engine-specific, so the hashable output is (exact counts +
# tolerance booleans): Spark compares its own approx_count_distinct /
# percentile_approx against the exact answers computed in the same pass,
# and emits `*_ok` flags; the DuckDB oracle asserts the same flags TRUE
# from exact counts alone.  10% relative tolerance is far above HLL++'s
# default 5% rsd, so the flags are deterministically true (HLL register
# merge is max-based and partition-order independent).
# --------------------------------------------------------------------------
def q30_approx_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # the exact distincts run as SEPARATE distinct→count aggs crossJoined
    # back (three 1-row frames): two countDistinct in one Aggregate plan
    # an Expand that triples the input through the hash agg — measured
    # 10× slower (6.4 s vs 0.6 s at sf0.1) than per-column two-stage
    # distinct aggregation, which partial-aggregates map-side.
    agg = (
        li.agg(
            F.approx_count_distinct("l_orderkey").alias("a_orders"),
            F.approx_count_distinct("l_partkey").alias("a_parts"),
            F.percentile_approx("l_quantity", 0.5).alias("a_med"),
            F.expr("percentile(l_quantity, 0.5)").alias("med"),
            F.count("*").alias("n_rows"),
        )
        .crossJoin(
            li.select("l_orderkey").distinct()
            .agg(F.count("*").alias("exact_orders"))
        )
        .crossJoin(
            li.select("l_partkey").distinct()
            .agg(F.count("*").alias("exact_parts"))
        )
    )
    tol = 0.10
    # (a == b) short-circuits the both-zero case; try_divide keeps an
    # empty table from an ANSI DIVIDE_BY_ZERO crash
    ok = lambda a, b: (a == b) | (  # noqa: E731
        F.try_divide(F.abs(a - b), F.abs(b)) <= tol
    )
    return agg.select(
        "exact_orders",
        "exact_parts",
        "n_rows",
        ok(F.col("a_orders"), F.col("exact_orders")).alias("orders_ok"),
        ok(F.col("a_parts"), F.col("exact_parts")).alias("parts_ok"),
        ok(F.col("a_med"), F.col("med")).alias("median_ok"),
    )


Q30_SQL = """
SELECT COUNT(DISTINCT l_orderkey) AS exact_orders,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       COUNT(*) AS n_rows,
       TRUE AS orders_ok, TRUE AS parts_ok, TRUE AS median_ok
FROM lineitem
"""


# --------------------------------------------------------------------------
# q37 — fixed-width histogram profile (binned value distribution)
# --------------------------------------------------------------------------
def q37_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution profile of l_extendedprice in 10k-wide bins: one
    groupBy on a computed bin key (map-side partial agg, single shuffle
    of ~#bins rows per partition). Values go through the integer-cent
    pattern so min/max/sum hash exactly cross-engine."""
    li = load(spark, sf_dir, "lineitem")
    c = cents(F.col("l_extendedprice"))
    staged = li.select(c.alias("_c"))
    b = F.floor(F.col("_c") / 1_000_000).cast("bigint")  # 10k currency units
    return (
        staged.groupBy(b.alias("bin"))
        .agg(
            F.count("*").alias("n"),
            F.min("_c").alias("min_cents"),
            F.max("_c").alias("max_cents"),
            F.sum("_c").alias("sum_cents"),
        )
    )


Q37_SQL = """
WITH c AS (
  SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS c FROM lineitem
)
SELECT CAST(FLOOR(c / 1000000) AS BIGINT) AS bin, COUNT(*) AS n,
       MIN(c) AS min_cents, MAX(c) AS max_cents,
       CAST(SUM(c) AS BIGINT) AS sum_cents
FROM c GROUP BY 1
"""


# --------------------------------------------------------------------------
# q38 — stratified sample: exactly N per class, deterministic hash order
# --------------------------------------------------------------------------
def q38_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datawarehouse_backup_system_spark.operators.sampling import (
        stratified_sample,
    )

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    return stratified_sample(emb, "vec_id", "label", 20, salt="r2")


Q38_SQL = """
SELECT vec_id, label FROM (
  SELECT vec_id, label,
         row_number() OVER (
           PARTITION BY label
           ORDER BY CAST('0x' || substr(md5('r2' || CAST(vec_id AS VARCHAR)), 1, 8)
                         AS BIGINT) % 1000000,
                    vec_id
         ) AS rn
  FROM embeddings
) WHERE rn <= 20
"""


# --------------------------------------------------------------------------
# q39 — rolling-window feature: trailing 7-event mean per user
# --------------------------------------------------------------------------
def q39_rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-engineering shape: a bounded ROWS window per entity (the
    partition key distributes; frame state is O(7)). Integer-cent sums
    divided once keep the mean bit-identical cross-engine."""
    ev = load(spark, sf_dir, "events").withColumn("cents", cents(F.col("value")))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, 0)
    )
    s = F.sum("cents").over(w)
    n = F.count("*").over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.round(s * 1.0 / n, 6).alias("rolling_avg_cents"),
    )


Q39_SQL = """
SELECT event_id, user_id,
       ROUND(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER w AS BIGINT)
             * 1.0 / COUNT(*) OVER w, 6) AS rolling_avg_cents
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


# --------------------------------------------------------------------------
# q40 — generic cross-table as-of join (union-trick operator)
# --------------------------------------------------------------------------
def q40_asof_join_generic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reusable operators.asof.asof_join (ONE shuffle union trick, no
    join node) joining purchases to their most recent prior-or-equal view
    per user. Oracled by DuckDB's NATIVE ASOF JOIN — an independent
    implementation of the same semantics. Right side pre-deduped to one
    row per (user_id, ts) so the match is deterministic in both engines."""
    from datawarehouse_backup_system_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    j = asof_join(purchases, views, on=["user_id"], left_ts="ts", right_ts="ts")
    return j.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.col("view_event_id_right").alias("view_event_id"),
        F.unix_micros("ts_right").alias("view_us"),
    )


Q40_SQL = """
WITH v AS (
  SELECT user_id, ts, MAX(event_id) AS view_event_id
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
),
p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
       v.view_event_id, epoch_us(v.ts) AS view_us
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
"""


# --------------------------------------------------------------------------
# q41 — range join: views inside each purchase's 1-hour attribution window
# --------------------------------------------------------------------------
def q41_range_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.asof.range_join (interval-bucketing equi-join, no range
    theta-join) counting views in [purchase-1h, purchase] per user —
    the classic attribution-window join. Oracle is DuckDB's native
    BETWEEN join (IEJoin), again an independent implementation."""
    from datawarehouse_backup_system_spark.operators.asof import range_join

    ev = load(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("vts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("w_start"),
        F.col("ts").alias("w_end"),
    )
    j = range_join(
        views, purchases, on=["user_id"],
        point_ts="vts", start_ts="w_start", end_ts="w_end",
        bucket_seconds=3600,
    )
    return j.groupBy("purchase_id", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_views_1h")
    )


Q41_SQL = """
WITH v AS (SELECT user_id, ts AS vts FROM events WHERE event_type = 'view'),
p AS (SELECT event_id AS purchase_id, user_id, ts AS pts
      FROM events WHERE event_type = 'purchase')
SELECT p.purchase_id, p.user_id, CAST(COUNT(*) AS BIGINT) AS n_views_1h
FROM p JOIN v
  ON v.user_id = p.user_id
 AND v.vts BETWEEN p.pts - INTERVAL 1 HOUR AND p.pts
GROUP BY p.purchase_id, p.user_id
"""


# --------------------------------------------------------------------------
# q42 — hypertable rollup cascade (minute→hour→day re-aggregation)
# --------------------------------------------------------------------------
def q42_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators.rollup.rollup_cascade over events: per event_type
    count/sum/min/max of integer cents at minute, hour, and day
    resolution — hour and day are RE-AGGREGATED from the minute tier.
    The oracle aggregates each tier DIRECTLY from raw rows, so an exact
    match proves partial re-aggregation loses nothing."""
    from datawarehouse_backup_system_spark.operators.rollup import rollup_cascade
    from datawarehouse_backup_system_spark.scratch import persist_slot

    ev = load(spark, sf_dir, "events")
    tiers = rollup_cascade(
        ev, "ts", cents(F.col("value")), key_cols=["event_type"], persist=True
    )
    # repeated runs (bench best-of-2, gate loops) would otherwise
    # accumulate this query's tier caches — new DataFrame objects each
    # call, never reused. The shared slot evicts exactly the PRIOR
    # holder's frames (not clearCache(), which would nuke unrelated
    # caches a harness holds in the same session).
    persist_slot.hold(*tiers.values())
    out = None
    for name, df in tiers.items():
        tagged = df.select(F.lit(name).alias("resolution"), "*")
        out = tagged if out is None else out.unionByName(tagged)
    return out


def _q42_tier_sql(name: str, step: int) -> str:
    return f"""
SELECT '{name}' AS resolution,
       CAST(FLOOR(epoch_us(ts) / {step * 1_000_000}) AS BIGINT) * {step} AS bucket_s,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_v,
       CAST(MIN(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS min_v,
       CAST(MAX(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS max_v
FROM events GROUP BY 2, 3"""


Q42_SQL = "\nUNION ALL\n".join(
    _q42_tier_sql(n, s) for n, s in (("minute", 60), ("hour", 3600), ("day", 86400))
)


# --------------------------------------------------------------------------
# q43 — native session_window aggregation (vs q17's hand-rolled islands)
# --------------------------------------------------------------------------
def q43_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's BUILT-IN session_window (dynamic-gap event-time sessions,
    the same operator Structured Streaming uses for streaming sessions):
    one session row per (user, burst), window end = last event + gap.
    Oracle replays the semantics as a gaps-and-islands SQL — an
    independent formulation of the same sessions."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
            "n_events",
        )
    )


Q43_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
islands AS (
  -- ORDER BY ts, event_id: the cumulative sum must walk rows in the
  -- SAME order the flags were computed in — ts alone is
  -- nondeterministic under (user_id, ts) ties (review r8)
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       epoch_us(MIN(ts)) AS session_start_us,
       epoch_us(MAX(ts)) + 30*60*1000000 AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM islands GROUP BY user_id, session_id
"""


SPECS: list[QuerySpec] = [
    QuerySpec("q30_approx_profile", q30_approx_profile, Q30_SQL,
              "HLL/KLL approximate profiling (tolerance-boolean oracle)"),
    QuerySpec("q22_topk_revenue_orders", q22_topk_revenue_orders, Q22_SQL,
              "TPC-H Q3-style top-k join revenue"),
    QuerySpec("q23_exists_late_lineitem", q23_exists_late_lineitem, Q23_SQL,
              "EXISTS with correlated date arithmetic (Q4-style)"),
    QuerySpec("q24_outer_join_counts", q24_outer_join_counts, Q24_SQL,
              "left outer join preserving zero-count rows"),
    QuerySpec("q25_rollup_revenue", q25_rollup_revenue, Q25_SQL,
              "ROLLUP subtotals/grand total"),
    QuerySpec("q26_pivot_status", q26_pivot_status, Q26_SQL,
              "pivot to priority × status matrix"),
    QuerySpec("q27_set_ops", q27_set_ops, Q27_SQL, "INTERSECT / EXCEPT"),
    QuerySpec("q28_asof_view_before_purchase", q28_asof_view_before_purchase, Q28_SQL,
              "as-of join via ignore-nulls running window"),
    QuerySpec("q29_percentiles", q29_percentiles, Q29_SQL,
              "exact interpolated percentiles"),
    QuerySpec("q31_json_extract", q31_json_extract, Q31_SQL,
              "JSON field extraction + grouped agg"),
    QuerySpec("q32_vector_stats", q32_vector_stats, Q32_SQL,
              "array-column norm profile (exact fixed-point)"),
    QuerySpec("q33_rank_functions", q33_rank_functions, Q33_SQL,
              "rank/dense_rank/ntile"),
    QuerySpec("q34_above_customer_avg", q34_above_customer_avg, Q34_SQL,
              "decorrelated above-average (integer-exact comparison)"),
    QuerySpec("q35_hash_split", q35_hash_split, Q35_SQL,
              "deterministic hash-bucket train/val/test split"),
    QuerySpec("q36_data_quality", q36_data_quality, Q36_SQL,
              "declarative data-quality report (one-pass checks + FK)"),
    QuerySpec("q37_histogram", q37_histogram, Q37_SQL,
              "fixed-width histogram profile of a value column"),
    QuerySpec("q38_stratified_sample", q38_stratified_sample, Q38_SQL,
              "deterministic per-class stratified sampling"),
    QuerySpec("q40_asof_join_generic", q40_asof_join_generic, Q40_SQL,
              "generic as-of join operator vs DuckDB native ASOF JOIN"),
    QuerySpec("q41_range_join_attribution", q41_range_join_attribution, Q41_SQL,
              "bucketed range join vs DuckDB native BETWEEN (IEJoin)"),
    QuerySpec("q42_rollup_cascade", q42_rollup_cascade, Q42_SQL,
              "hypertable rollup cascade: re-aggregated tiers vs direct"),
    QuerySpec("q43_session_window", q43_session_window, Q43_SQL,
              "native session_window vs gaps-and-islands oracle"),
    QuerySpec("q39_rolling_mean", q39_rolling_mean, Q39_SQL,
              "trailing 7-event rolling mean per user (bounded frame)"),
]


# r7 consolidation, candidate batch (COVERAGE.md): q26 -> q27 (the reshape
# pair; pivot parity pinned in tests/test_folded_twins.py), q38 -> w03
# (both deterministic hash samplers; proportional-allocation math kept in
# the folded spec's SQL replay).
_FOLDED = {"q26_pivot_status", "q38_stratified_sample"}
FOLDED_SPECS = [s for s in SPECS if s.name in _FOLDED]
SPECS = [s for s in SPECS if s.name not in _FOLDED]
