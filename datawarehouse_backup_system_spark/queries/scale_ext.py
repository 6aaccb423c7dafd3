"""Round-4 scale extensions: exact prefix-filtered set-similarity join,
mergeable binned-quantile sketch, SCD2 point-in-time dimension lookup,
and the TPC-H Q17-shaped correlated small-quantity aggregate.

Every spec pairs the Spark plan with a DuckDB oracle that replays the
same relational algebra with integer-exact arithmetic (fixed-point
cents, rational thresholds, integer binning) so value hashes match
bit-for-bit across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import quantiles as qsk
from ..operators import zorder
from ..operators.setjoin import prefix_jaccard_join
from ..operators.upsert import scd2_apply
from .base import QuerySpec, load
from .llm_ops import _NEARDUP_CORPUS_SQL, _docs_with_neardups
from .relational import cents


# --------------------------------------------------------------------------
# d13 — EXACT set-similarity self-join via prefix filtering (PPJoin-lite)
# over 3-gram word shingles. The oracle replays the FULL quadratic
# shingle join, so a green row is a machine check of the prefix-filter
# exactness theorem on this corpus. (Unigram token sets are useless
# here: the synthetic docs share one small vocabulary, so nearly every
# pair clears 0.7 — measured 195 k pairs; shingles require shared
# PHRASING and report only real near-dups.)
# --------------------------------------------------------------------------
_D13_NUM, _D13_DEN = 7, 10


def d13_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _docs_with_neardups(spark, sf_dir)
    return prefix_jaccard_join(
        corpus, "doc_id", "text",
        threshold_num=_D13_NUM, threshold_den=_D13_DEN, shingle_n=3,
    )


D13_SQL = f"""
WITH corpus AS ({_NEARDUP_CORPUS_SQL}),
toks AS (
  SELECT doc_id, string_split_regex(regexp_replace(text, '^[ \\t\\n\\f\\r\\x0B]+|[ \\t\\n\\f\\r\\x0B]+$', '', 'g'), '[ \\t\\n\\f\\r\\x0B]+') AS t FROM corpus
),
tok AS (
  SELECT DISTINCT doc_id, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS token
  FROM toks, UNNEST(range(len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
),
n AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_inter, na.n AS n_a, nb.n AS n_b,
       round(CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter), 6) AS jaccard
FROM inter
JOIN n na ON na.doc_id = id_a
JOIN n nb ON nb.doc_id = id_b
WHERE {_D13_DEN} * n_inter >= {_D13_NUM} * (na.n + nb.n - n_inter)
"""


# --------------------------------------------------------------------------
# h01 — mergeable binned-quantile sketch over event value cents: 4-shard
# build + merge must equal the direct build (merge_ok pinned TRUE), and
# the p50/p90/p99 CDF reads must match DuckDB's replay of the identical
# integer binning — the deterministic cross-engine quantile.
# --------------------------------------------------------------------------
_H01_BINS = 64
_H01_QS = [0.5, 0.9, 0.99]


def h01_binned_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id", cents(F.col("value")).alias("c")
    )
    # bounded 1-row collect: domain bounds for the fixed binning (the
    # same two numbers the oracle recomputes in its CTE)
    lo, hi = ev.agg(F.min("c"), F.max("c")).collect()[0]
    if lo is None:
        # empty/all-NULL input: flow through the SAME pipeline with a
        # degenerate domain — every downstream frame is empty, so the
        # result is the schema-stable empty set the oracle also returns
        # (review r11: bin_width(None, ...) raised TypeError instead)
        lo, hi = 0, 0
    w = qsk.bin_width(lo, hi, _H01_BINS)
    direct = qsk.binned_histogram(ev, "c", lo, hi, _H01_BINS)
    shards = [
        qsk.binned_histogram(
            ev.where(F.pmod(F.col("event_id"), F.lit(4)) == s),
            "c", lo, hi, _H01_BINS,
        )
        for s in range(4)
    ]
    merged = qsk.merge_histograms(shards)
    merge_ok = qsk.histograms_equal(merged, direct).select(
        F.col("equal").alias("merge_ok")
    )
    return (
        qsk.histogram_quantiles(merged, _H01_QS, lo, w)
        .crossJoin(merge_ok)
        .select("q", "value", "n_total", "merge_ok")
    )


H01_SQL = f"""
WITH v AS (
  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events
  WHERE value IS NOT NULL  -- matches the sketch operators' NULL drop
),
b AS (SELECT min(c) AS lo, max(c) AS hi FROM v),
p AS (
  SELECT lo, (hi - lo + {_H01_BINS}) // {_H01_BINS} AS w FROM b
),
binned AS (
  SELECT least({_H01_BINS - 1}, greatest(0, (c - lo) // w)) AS bin,
         count(*) AS cnt
  FROM v, p GROUP BY 1
),
cum AS (
  SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum,
         sum(cnt) OVER () AS n_total
  FROM binned
),
qs AS (SELECT unnest({_H01_QS}) AS q)
SELECT q,
       (SELECT lo FROM p) + min(bin) * (SELECT w FROM p) AS value,
       CAST(min(n_total) AS BIGINT) AS n_total,
       TRUE AS merge_ok
FROM qs JOIN cum ON cum.cum >= (CAST(round(q * 1000000) AS BIGINT) * CAST(cum.n_total AS HUGEINT) + 999999) // 1000000
GROUP BY q
"""


# --------------------------------------------------------------------------
# u03 — SCD2 point-in-time lookup: build a versioned user dimension from
# the purchase change feed with operators.upsert.scd2_apply (seed open
# row per user from the epoch), then join every view event to the
# version valid AT its event time via the as-of shape. The classic
# warehouse "fact joins dimension as of transaction date".
# --------------------------------------------------------------------------
def u03_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # one change per (user, ts): deterministic attr = max purchase cents
    changes = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("_change_ts"))
        .agg(F.max(cents(F.col("value"))).alias("spend_cents"))
        .select("user_id", "spend_cents", "_change_ts")
    )
    seed = (
        ev.select("user_id").distinct()
        .withColumn("spend_cents", F.lit(None).cast("bigint"))
        .withColumn("valid_from", F.lit("1970-01-01 00:00:00").cast("timestamp"))
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
    )
    dim = scd2_apply(seed, changes, key="user_id")
    dim = dim.withColumn(
        "version",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("valid_from"))
        .cast("bigint"),
    )
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    # intervals tile [epoch, ∞) per user, so "valid_from <= ts < valid_to"
    # equals the backward as-of pick of the latest valid_from <= ts; the
    # equi-join + filter shape shuffles once on user_id.
    out = views.join(
        dim.select("user_id", "valid_from", "valid_to", "version", "spend_cents"),
        "user_id",
    ).where(
        (F.col("valid_from") <= F.col("ts"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to")))
    )
    return out.select("event_id", "user_id", "version", "spend_cents")


U03_SQL = """
WITH ch AS (
  SELECT user_id,
         max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS spend_cents,
         ts AS valid_from
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
),
seed AS (
  SELECT DISTINCT user_id, CAST(NULL AS BIGINT) AS spend_cents,
         TIMESTAMP '1970-01-01 00:00:00' AS valid_from
  FROM events
),
vers AS (
  SELECT user_id, spend_cents, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
           AS valid_to,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY valid_from)
              AS BIGINT) AS version
  FROM (SELECT * FROM seed UNION ALL SELECT * FROM ch)
)
SELECT e.event_id, e.user_id, v.version, v.spend_cents
FROM events e JOIN vers v
  ON v.user_id = e.user_id
 AND v.valid_from <= e.ts
 AND (v.valid_to IS NULL OR e.ts < v.valid_to)
WHERE e.event_type = 'view'
"""


# --------------------------------------------------------------------------
# q45 — TPC-H Q17 shape: revenue from order lines whose quantity is
# below 20% of the part's average quantity, for one brand. The
# correlated avg becomes a per-part aggregate joined back; the 0.2·avg
# comparison is cross-multiplied into integers (5·qty·n < sum_qty) so
# both engines evaluate the identical predicate.
# --------------------------------------------------------------------------
_Q45_BRAND = "Brand#4"


def q45_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (
        load(spark, sf_dir, "part")
        .where(F.col("p_brand") == _Q45_BRAND)
        .select("p_partkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("bigint").alias("qty"),
        cents(F.col("l_extendedprice")).alias("price_c"),
    )
    # brand parts are a tiny dim — broadcast so the big side never shuffles
    brand_lines = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).drop("p_partkey")
    per_part = brand_lines.groupBy("l_partkey").agg(
        F.sum("qty").alias("sum_qty"), F.count(F.lit(1)).alias("n_lines")
    )
    return (
        brand_lines.join(F.broadcast(per_part), "l_partkey")
        .where(F.lit(5) * F.col("qty") * F.col("n_lines") < F.col("sum_qty"))
        .agg(
            F.coalesce(F.sum("price_c"), F.lit(0)).alias("total_cents"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


Q45_SQL = f"""
WITH brand_lines AS (
  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = '{_Q45_BRAND}'
),
per_part AS (
  SELECT l_partkey, sum(qty) AS sum_qty, count(*) AS n_lines
  FROM brand_lines GROUP BY l_partkey
)
SELECT CAST(coalesce(sum(price_c), 0) AS BIGINT) AS total_cents,
       CAST(count(*) AS BIGINT) AS n_rows
FROM brand_lines JOIN per_part USING (l_partkey)
WHERE 5 * qty * n_lines < sum_qty
"""


# --------------------------------------------------------------------------
# h02 — per-group quantiles from ONE aggregation keyed by (group, bin):
# the scale answer to "p50/p95 latency per event type" that needs no
# per-group sort and no percentile_approx engine divergence.
# --------------------------------------------------------------------------
_H02_QS = [0.5, 0.95]


def h02_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_type", cents(F.col("value")).alias("c")
    )
    lo, hi = ev.agg(F.min("c"), F.max("c")).collect()[0]
    if lo is None:
        # empty/all-NULL input: flow through the SAME pipeline with a
        # degenerate domain — every downstream frame is empty, so the
        # result is the schema-stable empty set the oracle also returns
        # (review r11: bin_width(None, ...) raised TypeError instead)
        lo, hi = 0, 0
    w = qsk.bin_width(lo, hi, _H01_BINS)
    hist = qsk.grouped_binned_histogram(
        ev, ["event_type"], "c", lo, hi, _H01_BINS
    )
    return qsk.grouped_histogram_quantiles(
        hist, ["event_type"], _H02_QS, lo, w
    ).select("event_type", "q", "value", "n_total")


H02_SQL = f"""
WITH v AS (
  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events
  WHERE value IS NOT NULL  -- matches the sketch operators' NULL drop
),
b AS (SELECT min(c) AS lo, max(c) AS hi FROM v),
p AS (SELECT lo, (hi - lo + {_H01_BINS}) // {_H01_BINS} AS w FROM b),
binned AS (
  SELECT event_type,
         least({_H01_BINS - 1}, greatest(0, (c - lo) // w)) AS bin,
         count(*) AS cnt
  FROM v, p GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bin,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS n_total
  FROM binned
),
qs AS (SELECT unnest({_H02_QS}) AS q)
SELECT event_type, q,
       (SELECT lo FROM p) + min(bin) * (SELECT w FROM p) AS value,
       CAST(min(n_total) AS BIGINT) AS n_total
FROM qs JOIN cum ON cum.cum >= (CAST(round(q * 1000000) AS BIGINT) * CAST(cum.n_total AS HUGEINT) + 999999) // 1000000
GROUP BY event_type, q
"""


# --------------------------------------------------------------------------
# z02 — data-skipping economics: the measured WHY of z-ordering. Bucket
# lineitem two ways — Morton-code prefix tiles (what a z-ordered write
# produces) vs row-key modulo (what an unclustered write produces) —
# compute per-bucket min/max "file stats" for both dims, and count how
# many buckets a 2-D box predicate must scan under each layout. The
# whole report is two 64-group aggregations over ONE staged scan.
# --------------------------------------------------------------------------
_Z02_BITS = 8                       # dims clamped to [0, 256)
_Z02_TILE_DIV = 1 << 10            # keep top 6 code bits -> 8x8 grid of tiles
_Z02_BOX = (32, 47, 64, 79)        # d1 in [32,47], d2 in [64,79]


def z02_skipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.zorder import morton_code

    lo1, hi1, lo2, hi2 = _Z02_BOX
    lim = F.lit(1 << _Z02_BITS)
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.pmod(F.col("l_partkey"), lim).alias("d1"),
        F.pmod(F.col("l_suppkey"), lim).alias("d2"),
    )
    code = morton_code([F.col("d1"), F.col("d2")], bits=_Z02_BITS)
    staged = li.select(
        "d1", "d2",
        code.alias("zcode"),
        F.pmod(F.col("l_orderkey"), F.lit(64)).alias("rbucket"),
    ).withColumn("zbucket", F.expr(f"zcode div {_Z02_TILE_DIV}"))

    # ONE corpus scan (review r11: the old three-subtree shape scanned
    # and Morton-encoded lineitem once per layout plus once for the
    # matching count): a single (zbucket, rbucket)-keyed aggregation
    # reduces the corpus to ≤64×64 pair rows carrying per-pair stats
    # AND the in-box row count; both layouts' per-bucket stats and the
    # matching total then derive from that tiny frame.
    in_box = F.col("d1").between(lo1, hi1) & F.col("d2").between(lo2, hi2)
    # persisted: ≤64×64 rows, and the three consumers below (two
    # layouts + matching) would otherwise each re-run the corpus scan —
    # exchange reuse is a planner heuristic, the persist is a guarantee
    pair = staged.groupBy("zbucket", "rbucket").agg(
        F.min("d1").alias("min1"), F.max("d1").alias("max1"),
        F.min("d2").alias("min2"), F.max("d2").alias("max2"),
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(in_box, 1).otherwise(0)).alias("cnt_match"),
    ).persist()

    def layout(bucket_col: str, name: str) -> DataFrame:
        per = pair.groupBy(F.col(bucket_col).alias("bucket")).agg(
            F.min("min1").alias("min1"), F.max("max1").alias("max1"),
            F.min("min2").alias("min2"), F.max("max2").alias("max2"),
            F.sum("cnt").alias("cnt"),
        )
        scan = (
            (F.col("min1") <= hi1) & (F.col("max1") >= lo1)
            & (F.col("min2") <= hi2) & (F.col("max2") >= lo2)
        )
        return per.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.when(scan, 1).otherwise(0)).alias("buckets_scanned"),
            F.sum(F.when(scan, F.col("cnt")).otherwise(0)).alias(
                "rows_in_scanned"
            ),
        ).select(F.lit(name).alias("layout"), "*")

    matching = pair.agg(
        F.sum("cnt_match").alias("rows_matching")
    )
    return (
        layout("zbucket", "zorder")
        .unionByName(layout("rbucket", "rowkey"))
        .crossJoin(matching)
    )


Z02_SQL = f"""
WITH staged AS (
  SELECT l_partkey % {1 << _Z02_BITS} AS d1,
         l_suppkey % {1 << _Z02_BITS} AS d2,
         ({zorder.morton_interleave_sql(["d1", "d2"], _Z02_BITS)}) // {_Z02_TILE_DIV} AS zbucket,
         l_orderkey % 64 AS rbucket
  FROM lineitem
),
matching AS (
  SELECT CAST(count(*) AS BIGINT) AS rows_matching FROM staged
  WHERE d1 BETWEEN {_Z02_BOX[0]} AND {_Z02_BOX[1]}
    AND d2 BETWEEN {_Z02_BOX[2]} AND {_Z02_BOX[3]}
),
z AS (
  SELECT zbucket AS bucket, min(d1) min1, max(d1) max1,
         min(d2) min2, max(d2) max2, count(*) cnt
  FROM staged GROUP BY 1
),
r AS (
  SELECT rbucket AS bucket, min(d1) min1, max(d1) max1,
         min(d2) min2, max(d2) max2, count(*) cnt
  FROM staged GROUP BY 1
),
reports AS (
  SELECT 'zorder' AS layout,
         CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum(CASE WHEN min1 <= {_Z02_BOX[1]} AND max1 >= {_Z02_BOX[0]}
                        AND min2 <= {_Z02_BOX[3]} AND max2 >= {_Z02_BOX[2]}
                       THEN 1 ELSE 0 END) AS BIGINT) AS buckets_scanned,
         CAST(sum(CASE WHEN min1 <= {_Z02_BOX[1]} AND max1 >= {_Z02_BOX[0]}
                        AND min2 <= {_Z02_BOX[3]} AND max2 >= {_Z02_BOX[2]}
                       THEN cnt ELSE 0 END) AS BIGINT) AS rows_in_scanned
  FROM z
  UNION ALL
  SELECT 'rowkey',
         CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN min1 <= {_Z02_BOX[1]} AND max1 >= {_Z02_BOX[0]}
                        AND min2 <= {_Z02_BOX[3]} AND max2 >= {_Z02_BOX[2]}
                       THEN 1 ELSE 0 END) AS BIGINT),
         CAST(sum(CASE WHEN min1 <= {_Z02_BOX[1]} AND max1 >= {_Z02_BOX[0]}
                        AND min2 <= {_Z02_BOX[3]} AND max2 >= {_Z02_BOX[2]}
                       THEN cnt ELSE 0 END) AS BIGINT)
  FROM r
)
SELECT layout, n_buckets, buckets_scanned, rows_in_scanned, rows_matching
FROM reports, matching
"""


# --------------------------------------------------------------------------
# q46 — referential-integrity audit: orphan counts for every FK
# relationship in the star schema. The cross-TABLE health check the
# expectations family (q36, single-table) doesn't cover; each
# relationship is one anti-join against a broadcastable dim.
# --------------------------------------------------------------------------
def q46_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit in TWO child scans (was eight): each
    orphan count is a LEFT join + null-flag sum riding the same pass as
    the row count, and the three lineitem FKs share one scan — their
    parent key sets join consecutively, then one stack() reshapes the
    three sums into audit rows. O(child) work per child table, not per
    FK. NO broadcast hints anywhere (review r11): every parent key set
    here grows linearly with sf, and a forced F.broadcast bypasses the
    size threshold — at the docstring's own 100 TB regime that means
    shipping a hundreds-of-millions-row build side whole (the 8 GB
    broadcast hard limit / driver OOM). AQE broadcasts each side at
    runtime exactly when it is actually small."""
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pk_c"))
    ordk = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("pk_o"))
    part = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk_p"))
    supp = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("pk_s"))

    o_row = (
        load(spark, sf_dir, "orders").select("o_custkey")
        .join(cust, F.col("o_custkey") == F.col("pk_c"), "left")
        .agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.col("pk_c").isNull().cast("bigint")).alias("n_orphans"),
        )
        .select(
            F.lit("orders.o_custkey->customer").alias("relationship"),
            "n_child", "n_orphans",
        )
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey")
        .join(ordk, F.col("l_orderkey") == F.col("pk_o"), "left")
        .join(part, F.col("l_partkey") == F.col("pk_p"), "left")
        .join(supp, F.col("l_suppkey") == F.col("pk_s"), "left")
        .agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.col("pk_o").isNull().cast("bigint")).alias("orph_o"),
            F.sum(F.col("pk_p").isNull().cast("bigint")).alias("orph_p"),
            F.sum(F.col("pk_s").isNull().cast("bigint")).alias("orph_s"),
        )
    )
    li_rows = li.selectExpr(
        """stack(3,
           'lineitem.l_orderkey->orders', n_child, orph_o,
           'lineitem.l_partkey->part', n_child, orph_p,
           'lineitem.l_suppkey->supplier', n_child, orph_s
        ) AS (relationship, n_child, n_orphans)"""
    )
    return o_row.unionByName(li_rows)


Q46_SQL = """
SELECT 'orders.o_custkey->customer' AS relationship,
       CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_child,
       CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS
             (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
            AS BIGINT) AS n_orphans
UNION ALL
SELECT 'lineitem.l_orderkey->orders',
       CAST((SELECT count(*) FROM lineitem) AS BIGINT),
       CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
            AS BIGINT)
UNION ALL
SELECT 'lineitem.l_partkey->part',
       CAST((SELECT count(*) FROM lineitem) AS BIGINT),
       CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
            AS BIGINT)
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
       CAST((SELECT count(*) FROM lineitem) AS BIGINT),
       CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
            AS BIGINT)
"""


# --------------------------------------------------------------------------
# q47 — TPC-H Q21 shape: suppliers who were the SOLE late supplier in a
# multi-supplier order (EXISTS another supplier + NOT EXISTS another
# LATE supplier). Spark expresses the double correlation as two
# per-order aggregates — n_suppliers and n_late_suppliers — joined back:
# one shuffle each on orderkey, no correlated re-scans.
# --------------------------------------------------------------------------
def q47_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    with_dates = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).withColumn(
        "late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"),
    )
    per_order = with_dates.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    late_su = (
        with_dates.where("late").select("l_orderkey", "l_suppkey").distinct()
    )
    return (
        late_su.join(per_order, "l_orderkey")
        .where((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .groupBy("l_suppkey")
        .agg(F.countDistinct("l_orderkey").alias("n_orders"))
    )


Q47_SQL = """
SELECT l1.l_suppkey, CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS n_orders
FROM lineitem l1
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY l1.l_suppkey
"""


# --------------------------------------------------------------------------
# t32 — temperature-based language re-balancing (XLM-R / mBERT lineage):
# sampling weight w_l ∝ n_l^α with α = 0.5, i.e. sqrt — the one
# temperature whose power function is a correctly-rounded IEEE op on
# both engines. Weights are quantized to integer micro-units BEFORE the
# normalizing sum, so the total is exact and the final rounded ratios
# are bit-identical regardless of summation order.
# --------------------------------------------------------------------------
def t32_lang_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    per = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "wq",
            F.floor(F.sqrt(F.col("n_docs")) * F.lit(1_000_000)).cast("bigint"),
        )
    )
    tot = per.agg(
        F.sum("wq").alias("wq_total"), F.sum("n_docs").alias("n_total")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.round(F.col("wq") / F.col("wq_total"), 6).alias("weight"),
        # decimal(38,0) products (review r11): the int64 form wq*N is
        # the exact overflow class w02's comment documents (Spark wraps
        # silently with ANSI off, DuckDB raises) — route through the
        # same decimal/HUGEINT micro-unit pattern; /1e6 of the floored
        # micro value IS the 6-decimal result, bit-identical.
        (
            F.expr(
                "cast((cast(wq as decimal(38,0)) * n_total * 1000000)"
                " div (cast(wq_total as decimal(38,0)) * n_docs)"
                " as bigint)"
            )
            / F.lit(1_000_000.0)
        ).alias("epochs"),
    )


T32_SQL = """
WITH per AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(floor(sqrt(count(*)) * 1000000) AS BIGINT) AS wq
  FROM documents GROUP BY lang
),
tot AS (
  SELECT CAST(sum(wq) AS BIGINT) AS wq_total,
         CAST(sum(n_docs) AS BIGINT) AS n_total
  FROM per
)
SELECT lang, n_docs,
       round(CAST(wq AS DOUBLE) / wq_total, 6) AS weight,
       CAST((CAST(wq AS HUGEINT) * n_total * 1000000)
            // (CAST(wq_total AS HUGEINT) * n_docs) AS BIGINT)
         / 1000000.0 AS epochs
FROM per, tot
"""


# --------------------------------------------------------------------------
# w02 — deterministic resampling manifest from the t32 weights: per-doc
# copy count = ⌊epochs⌋ plus one more iff the doc's md5-derived uniform
# lands under the fractional part. EVERYTHING is integer (micro-epoch
# units, 56-bit hash mod 1e6), so the manifest is reproducible across
# engines, partitionings, and reruns — the property a training run
# actually needs from its sampler. The micro-epoch products run in
# DECIMAL(38,0)/HUGEINT (review r8: the int64 form wq·N·1e6 ≈
# √n_lang·N·1e12 already hit 77% of int64 at a 50k-doc corpus — Spark
# would wrap silently with ANSI off while DuckDB raised; decimal holds
# to ~10^12 docs) and only the small quotient returns to BIGINT.
# --------------------------------------------------------------------------
def w02_temperature_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    per = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "wq",
            F.floor(F.sqrt(F.col("n_docs")) * F.lit(1_000_000)).cast("bigint"),
        )
    )
    tot = per.agg(
        F.sum("wq").alias("wq_total"), F.sum("n_docs").alias("n_total")
    )
    # integer micro-epochs: floor(wq * N * 1e6 / (wq_total * n_l))
    lang_epochs = per.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.expr(
            "cast((cast(wq as decimal(38,0)) * n_total * 1000000)"
            " div (cast(wq_total as decimal(38,0)) * n_docs) as bigint)"
        ).alias("epochs_micro"),
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 14), 16, 10)
        .cast("bigint") % F.lit(1_000_000)
    )
    return (
        docs.join(F.broadcast(lang_epochs), "lang")
        .select(
            "doc_id",
            "lang",
            (
                F.expr("epochs_micro div 1000000")
                + F.when(u < F.col("epochs_micro") % 1_000_000, 1).otherwise(0)
            ).alias("n_copies"),
        )
    )


W02_SQL = """
WITH per AS (
  SELECT lang, count(*) AS n_docs,
         CAST(floor(sqrt(count(*)) * 1000000) AS BIGINT) AS wq
  FROM documents GROUP BY lang
),
tot AS (
  SELECT CAST(sum(wq) AS BIGINT) AS wq_total,
         CAST(sum(n_docs) AS BIGINT) AS n_total
  FROM per
),
le AS (
  SELECT lang, CAST((CAST(wq AS HUGEINT) * n_total * 1000000)
               // (CAST(wq_total AS HUGEINT) * n_docs) AS BIGINT) AS epochs_micro
  FROM per, tot
)
SELECT d.doc_id, d.lang,
       CAST(epochs_micro // 1000000
            + CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 14))
                        ::BIGINT % 1000000 < epochs_micro % 1000000
                   THEN 1 ELSE 0 END AS BIGINT) AS n_copies
FROM documents d JOIN le ON le.lang = d.lang
"""


# --------------------------------------------------------------------------
# r08 — measured recall of the MinHash-LSH dedup (d02 parameters) vs the
# EXACT prefix-filter ground truth at the same threshold and the same
# shingle universe. RECALL.md covers the ANN families (r01–r07); this
# closes the gap for the pair-dedup family: LSH misses (band collisions
# that never happen) and the hot-bucket cap both subtract from recall,
# and this query prints the honest number. Precision is 1 by
# construction — d02 exact-verifies every candidate.
# --------------------------------------------------------------------------
_R08_CAP = 1500


def r08_recall_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup_approx

    # bounded ground truth (r07 precedent): at Jaccard 1/2 the exact
    # join's prefixes are half of every shingle set — the ground-truth
    # cost grows superlinearly with sf, so the EXACT side runs on a
    # capped doc population (measured 15.6 s → bounded at sf0.1). The
    # LSH side is cheap and runs on the FULL corpus exactly as d02
    # ships it (bucket caps and collisions at production density), with
    # its pairs then restricted to the capped population — recall of
    # the real pipeline, measured on an exactly-known subset.
    # the corpus helper slices base docs to doc_id < 100000 (r11), so
    # the %100000 cap below can never alias a base id with a
    # perturbed one at any sf
    full = _docs_with_neardups(spark, sf_dir)
    capped = full.where(F.col("doc_id") % 100000 < _R08_CAP)
    exact = prefix_jaccard_join(
        capped, "doc_id", "text", threshold_num=1, threshold_den=2,
        shingle_n=3,
    ).select("id_a", "id_b")
    approx = (
        dedup_approx.minhash_lsh_dedup(
            full, "doc_id", "text", shingle_n=3, k=9, band_size=3,
            threshold=0.5, max_bucket_size=20,
        )
        .where(
            (F.col("id_a") % 100000 < _R08_CAP)
            & (F.col("id_b") % 100000 < _R08_CAP)
        )
        .select("id_a", "id_b")
        .dropDuplicates()
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(approx, ["id_a", "id_b"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("hit").alias("n_hit"),
        )
        .withColumn("recall", F.round(F.col("n_hit") / F.col("n_exact"), 6))
    )


def _r08_sql() -> str:
    from .llm_ops import D02_SQL

    return f"""
WITH corpus AS (
  SELECT * FROM ({_NEARDUP_CORPUS_SQL}) c0 WHERE doc_id % 100000 < {_R08_CAP}
),
toks AS (
  SELECT doc_id, string_split_regex(regexp_replace(text, '^[ \\t\\n\\f\\r\\x0B]+|[ \\t\\n\\f\\r\\x0B]+$', '', 'g'), '[ \\t\\n\\f\\r\\x0B]+') AS t FROM corpus
),
tok AS (
  SELECT DISTINCT doc_id, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS token
  FROM toks, UNNEST(range(len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
),
n AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
exact AS (
  SELECT id_a, id_b
  FROM inter JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
  WHERE 2 * n_inter >= 1 * (na.n + nb.n - n_inter)
),
approx AS (
  SELECT DISTINCT id_a, id_b FROM ({D02_SQL}) d2
  WHERE id_a % 100000 < {_R08_CAP} AND id_b % 100000 < {_R08_CAP}
)
SELECT CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(h.id_a) AS BIGINT) AS n_hit,
       round(CAST(count(h.id_a) AS DOUBLE) / count(*), 6) AS recall
FROM exact e
LEFT JOIN approx h ON h.id_a = e.id_a AND h.id_b = e.id_b
"""


# --------------------------------------------------------------------------
# e06 — exact Gram-matrix sufficient statistics over embeddings: the
# map-reduce half of distributed PCA/whitening. Components quantize to
# integer ten-thousandths so the Σ xᵢxⱼ sums are engine-exact (float
# accumulation order can't differ); the eigendecomposition that follows
# is a driver-side numpy step on a d×d matrix — NOT big data. The 100 TB
# shape: corpus → one (i, j)-keyed integer aggregation → d(d+1)/2 rows.
# --------------------------------------------------------------------------
_E06_DIMS = 16          # leading dims: d(d+1)/2 = 136 output rows
_E06_Q = 10_000         # component quantization (ten-thousandths)


def e06_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id",
        F.posexplode(F.slice("embedding", 1, _E06_DIMS)).alias("i", "x"),
    ).select(
        "vec_id",
        F.col("i").cast("bigint").alias("i"),
        F.floor(F.col("x").cast("double") * _E06_Q + F.lit(0.5))
        .cast("bigint")
        .alias("xq"),
    )
    a = comp.select("vec_id", F.col("i").alias("i"), F.col("xq").alias("xi"))
    b = comp.select("vec_id", F.col("i").alias("j"), F.col("xq").alias("xj"))
    return (
        a.join(b, "vec_id")
        .where(F.col("j") >= F.col("i"))
        .groupBy("i", "j")
        .agg(
            F.sum(F.col("xi") * F.col("xj")).alias("sum_xy"),
            F.count(F.lit(1)).alias("n"),
        )
    )


E06_SQL = f"""
WITH comp AS (
  SELECT vec_id, i,
         CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * {_E06_Q} + 0.5)
              AS BIGINT) AS xq
  FROM embeddings, UNNEST(range({_E06_DIMS})) AS u(i)
)
SELECT a.i, b.i AS j,
       CAST(sum(a.xq * b.xq) AS BIGINT) AS sum_xy,
       CAST(count(*) AS BIGINT) AS n
FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND b.i >= a.i
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# c03 — per-group isotonic calibration (PAVA via applyInPandas). The
# grouped-map escape hatch used where it is genuinely needed: PAVA is
# sequential within a group. The oracle does NOT reimplement PAVA — it
# replays the classical MINIMAX characterization (iso(i) = max over
# prefixes of min over suffixes of weighted window means), so a green
# row is the PAVA==minimax theorem machine-checked on this data, across
# engines, in exact integer micro-units.
# --------------------------------------------------------------------------
_C03_BUCKETS = 20


def c03_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.calibration import isotonic_calibrate

    ev = (
        load(spark, sf_dir, "events")
        # NULL drop, the h01/h02/h04 rule (review r11): Spark's
        # greatest(0, NULL) SKIPS the null (and DuckDB's greatest(0,
        # NULL)=0 agrees), so a value-less event silently fed bucket 0's
        # calibrated rate on BOTH engines — oracle-blind pollution
        .where(F.col("value").isNotNull())
        .select(
            F.dayofweek("ts").alias("g"),
            cents(F.col("value")).alias("c"),
            (F.col("event_type") == "purchase").cast("long").alias("y"),
        )
    )
    lo, hi = ev.agg(F.min("c"), F.max("c")).collect()[0]
    if lo is None:
        # empty/all-NULL input: flow through the SAME pipeline with a
        # degenerate domain — every downstream frame is empty, so the
        # result is the schema-stable empty set the oracle also returns
        # (review r11: bin_width(None, ...) raised TypeError instead)
        lo, hi = 0, 0
    w = qsk.bin_width(lo, hi, _C03_BUCKETS)
    base = (
        ev.select(
            "g",
            F.least(
                F.lit(_C03_BUCKETS - 1),
                F.greatest(
                    F.lit(0), F.expr(f"(c - {lo}) div {w}")
                ),
            ).cast("int").alias("bucket"),
            "y",
        )
        .groupBy("g", "bucket")
        .agg(F.sum("y").alias("y_sum"), F.count(F.lit(1)).alias("n"))
    )
    return isotonic_calibrate(base, ["g"]).select(
        "g", "bucket", "y_sum", "n", "rate_micro"
    )


C03_SQL = f"""
WITH ev AS (
  SELECT dayofweek(ts) + 1 AS g,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
  WHERE value IS NOT NULL  -- matches the sketch operators' NULL drop
),
b AS (SELECT min(c) AS lo, max(c) AS hi FROM ev),
p AS (SELECT lo, (hi - lo + {_C03_BUCKETS}) // {_C03_BUCKETS} AS w FROM b),
base AS (
  SELECT g,
         CAST(least({_C03_BUCKETS - 1},
                    greatest(0, (c - lo) // w)) AS INT) AS bucket,
         CAST(sum(y) AS BIGINT) AS y_sum,
         CAST(count(*) AS BIGINT) AS n
  FROM ev, p GROUP BY 1, 2
),
win AS (  -- weighted window sums for every a <= b2 within a group
  SELECT x.g, x.bucket AS a, y2.bucket AS b2,
         CAST(sum(z.y_sum) AS BIGINT) AS S, CAST(sum(z.n) AS BIGINT) AS C
  FROM base x
  JOIN base y2 ON y2.g = x.g AND y2.bucket >= x.bucket
  JOIN base z ON z.g = x.g AND z.bucket BETWEEN x.bucket AND y2.bucket
  GROUP BY 1, 2, 3
),
inner_min AS (  -- per (g, i, a): min over b2 >= i, argmin carried exactly
  SELECT g, i, a, S, C FROM (
    SELECT i.g, i.bucket AS i, w2.a, w2.S, w2.C,
           row_number() OVER (
             PARTITION BY i.g, i.bucket, w2.a
             ORDER BY CAST(w2.S AS DOUBLE) / w2.C, w2.b2
           ) AS rn
    FROM base i
    JOIN win w2 ON w2.g = i.g AND w2.a <= i.bucket AND w2.b2 >= i.bucket
  ) WHERE rn = 1
),
outer_max AS (  -- per (g, i): max over a <= i of the inner minima
  SELECT g, i, S, C FROM (
    SELECT g, i, a, S, C,
           row_number() OVER (
             PARTITION BY g, i
             ORDER BY CAST(S AS DOUBLE) / C DESC, a
           ) AS rn
    FROM inner_min
  ) WHERE rn = 1
)
SELECT base.g, base.bucket, base.y_sum, base.n,
       CAST((1000000 * om.S) // om.C AS BIGINT) AS rate_micro
FROM base JOIN outer_max om ON om.g = base.g AND om.i = base.bucket
"""


# --------------------------------------------------------------------------
# a07 — conversion-lag distribution: per user, seconds from first view
# to first subsequent purchase, summarized through the mergeable
# quantile sketch (p50/p90). Composes the funnel shape (a01) with the
# sketch family (h01) — integer lag seconds end to end.
# --------------------------------------------------------------------------
_A07_BINS = 32
#: single source for both the Spark call and the oracle's unnest —
#: hardcoding the list twice was the h01/h02/h04 trap too (review r8)
_A07_QS = [0.5, 0.9]


def a07_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    fv = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    lags = (
        ev.where(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .where(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_purchase"))
        .select(
            F.expr(
                "(unix_micros(t_purchase) - unix_micros(t_view)) div 1000000"
            ).alias("lag_s")
        )
    )
    lo, hi = lags.agg(F.min("lag_s"), F.max("lag_s")).collect()[0]
    if lo is None:  # no conversions at this sf — empty, schema-stable
        return spark.createDataFrame(
            [], "q double, value bigint, n_total bigint"
        )
    w = qsk.bin_width(lo, hi, _A07_BINS)
    hist = qsk.binned_histogram(lags, "lag_s", lo, hi, _A07_BINS)
    return qsk.histogram_quantiles(hist, _A07_QS, lo, w)


A07_SQL = f"""
WITH fv AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
lags AS (
  SELECT (epoch_us(min(e.ts)) - epoch_us(fv.t_view)) // 1000000 AS lag_s
  FROM events e JOIN fv ON fv.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= fv.t_view
  GROUP BY e.user_id, fv.t_view
),
b AS (SELECT min(lag_s) AS lo, max(lag_s) AS hi FROM lags),
p AS (SELECT lo, (hi - lo + {_A07_BINS}) // {_A07_BINS} AS w FROM b),
binned AS (
  SELECT least({_A07_BINS - 1}, greatest(0, (lag_s - lo) // w)) AS bin,
         count(*) AS cnt
  FROM lags, p GROUP BY 1
),
cum AS (
  SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum,
         sum(cnt) OVER () AS n_total
  FROM binned
),
qs AS (SELECT unnest({_A07_QS}) AS q)
SELECT q,
       (SELECT lo FROM p) + min(bin) * (SELECT w FROM p) AS value,
       CAST(min(n_total) AS BIGINT) AS n_total
FROM qs JOIN cum ON cum.cum >= (CAST(round(q * 1000000) AS BIGINT) * CAST(cum.n_total AS HUGEINT) + 999999) // 1000000
GROUP BY q
"""


# --------------------------------------------------------------------------
# q48 — TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue
# (max-of-aggregate with tie retention). The revenue view aggregates
# once; the max is a 1-row broadcast back into it — no window over the
# full aggregate needed and ties survive exactly.
# --------------------------------------------------------------------------
def q48_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            cents(F.col("l_extendedprice")) * (100 - cents(F.col("l_discount")))
        ).alias("rev_u")
    )
    top = rev.agg(F.max("rev_u").alias("max_rev"))
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(top), rev.rev_u == top.max_rev)
        .join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
        .select("s_suppkey", "s_name", F.col("rev_u").alias("revenue_units"))
    )


Q48_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                  * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
              AS BIGINT) AS rev_u
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, rev_u AS revenue_units
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE rev_u = (SELECT max(rev_u) FROM rev)
"""


# --------------------------------------------------------------------------
# h04 — sketch-accuracy audit: the h01 sketch's quantiles vs the EXACT
# order statistics, with the error bound |sketch − exact| < bin width
# pinned as a boolean. The quantile family's honesty artifact, like r0x
# for the ANN family. (The exact side ranks globally — an audit query
# over one column, not a production path; the sketch IS the production
# path.) All integer arithmetic.
# --------------------------------------------------------------------------
def h04_sketch_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(cents(F.col("value")).alias("c"))
    lo, hi = ev.agg(F.min("c"), F.max("c")).collect()[0]
    if lo is None:
        # empty/all-NULL input: flow through the SAME pipeline with a
        # degenerate domain — every downstream frame is empty, so the
        # result is the schema-stable empty set the oracle also returns
        # (review r11: bin_width(None, ...) raised TypeError instead)
        lo, hi = 0, 0
    w = qsk.bin_width(lo, hi, _H01_BINS)
    hist = qsk.binned_histogram(ev, "c", lo, hi, _H01_BINS)
    sk = qsk.histogram_quantiles(hist, _H01_QS, lo, w).select(
        "q", F.col("value").alias("sketch_value"), "n_total"
    )
    # NULL drop BEFORE ranking — the sketch and the oracle both skip
    # NULLs, and NULLS FIRST ordering would shift every rank by the
    # NULL count (review r8; latent: the fixture column has no NULLs)
    ranked = ev.where(F.col("c").isNotNull()).withColumn(
        "rk", F.row_number().over(Window.orderBy("c"))
    )
    exact = (
        sk.select("q", "n_total")
        .join(
            ranked,
            # same micro-unit rational rank as the sketch read (the IEEE
            # ceil(q·N) is off by one whenever q·N rounds up across an
            # integer — review r8)
            F.col("rk")
            == F.expr(
                "(cast(round(q * 1000000) as bigint)"
                " * cast(n_total as decimal(38,0)) + 999999) div 1000000"
            ),
        )
        .select("q", F.col("c").alias("exact_value"))
    )
    return (
        sk.join(exact, "q")
        .select(
            "q",
            "sketch_value",
            "exact_value",
            (
                F.abs(F.col("sketch_value") - F.col("exact_value")) < F.lit(w)
            ).alias("within_one_bin"),
        )
    )


H04_SQL = f"""
WITH v AS (
  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events
  WHERE value IS NOT NULL  -- matches the sketch operators' NULL drop
),
b AS (SELECT min(c) AS lo, max(c) AS hi, count(*) AS n FROM v),
p AS (SELECT lo, n, (hi - lo + {_H01_BINS}) // {_H01_BINS} AS w FROM b),
binned AS (
  SELECT least({_H01_BINS - 1}, greatest(0, (c - lo) // w)) AS bin,
         count(*) AS cnt
  FROM v, p GROUP BY 1
),
cum AS (
  SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum,
         sum(cnt) OVER () AS n_total
  FROM binned
),
qs AS (SELECT unnest({_H01_QS}) AS q),
sk AS (
  SELECT q, (SELECT lo FROM p) + min(bin) * (SELECT w FROM p)
           AS sketch_value,
         min(n_total) AS n_total
  FROM qs JOIN cum ON cum.cum >= (CAST(round(q * 1000000) AS BIGINT) * CAST(cum.n_total AS HUGEINT) + 999999) // 1000000
  GROUP BY q
),
ranked AS (SELECT c, row_number() OVER (ORDER BY c) AS rk FROM v),
exact AS (
  SELECT sk.q, r.c AS exact_value
  FROM sk JOIN ranked r
    ON r.rk = (CAST(round(sk.q * 1000000) AS BIGINT)
               * CAST(sk.n_total AS HUGEINT) + 999999) // 1000000
)
SELECT sk.q, sk.sketch_value, e.exact_value,
       abs(sk.sketch_value - e.exact_value) < (SELECT w FROM p)
         AS within_one_bin
FROM sk JOIN exact e ON e.q = sk.q
"""


# --------------------------------------------------------------------------
# u05 — the STORAGE DML layer under the hard signal: append → MERGE →
# DELETE through the write-id format in a scratch warehouse, then read
# the committed state back. The oracle replays the declarative outcome
# (CASE for the upsert, anti-filter for the delete) directly over the
# source — so a green row certifies that the transactional machinery
# (atomic append, composite-commit rewrite, tombstone reads) computes
# exactly the relational semantics it claims. Until now this layer was
# pytest-only evidence.
# --------------------------------------------------------------------------
# the lifecycle implementation lives in ..scratch (review r8 — it was
# three line-for-line copies across scale_ext/graph/bench whose sweep
# prefixes had to be kept in sync by hand); this alias keeps the
# established call sites and tests stable.
from ..scratch import sweep_stale_scratch as _sweep_stale_scratch  # noqa: E402


def u05_storage_dml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ledger import Ledger
    from ..plans.table_format import (
        WriteIdParquetFormat,
        delete_from_table,
        merge_into_table,
    )
    from ..scratch import new_scratch_root
    from pyspark.sql import types as T

    _sweep_stale_scratch()  # crashed-run strays first (pid-liveness-gated)
    # the returned DataFrame lazily reads this scratch warehouse, so it
    # cannot be deleted eagerly — scratch roots live until process exit
    root = new_scratch_root("dwbss-u05-")
    fmt = WriteIdParquetFormat(
        Ledger(spark, root / "_ledger"), root, move=lambda s, d: s.rename(d)
    )
    table = root / "t"
    struct = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("v", T.LongType()),
        ]
    )
    src = load(spark, sf_dir, "events").where(F.col("event_id") < 2000).select(
        "event_id", "user_id", cents(F.col("value")).alias("v"),
        F.lit("2024-01-05").cast("date").alias("ingest_date"),
    )
    # the working set is ~2k rows (SF-independent: event_id < 2000):
    # coalesce(1) everywhere so each of the ~15 tiny Spark jobs this
    # exercise schedules writes ONE file, not 32 shuffle-partition
    # fragments — measured 27 s → ~8 s at sf0.1
    fmt.append(src.where("event_id < 1500").coalesce(1), table, "t")
    merge_into_table(
        spark, fmt, table, struct, "t",
        src.where("event_id >= 1000").withColumn("v", F.col("v") * 2)
        .coalesce(1),
        key="event_id",
    )
    delete_from_table(spark, fmt, table, struct, "t", "event_id % 7 = 0")
    return fmt.read_as_of(spark, table, struct, "t").select(
        "event_id", "user_id", "v"
    )


U05_SQL = """
WITH src AS (
  SELECT event_id, user_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
  FROM events WHERE event_id < 2000
)
SELECT event_id, user_id,
       CASE WHEN event_id >= 1000 THEN 2 * v ELSE v END AS v
FROM src
WHERE event_id % 7 <> 0
"""


# --------------------------------------------------------------------------
# r09 — PLANTED-regime ANN recall under the hard signal (VERDICT r4 item
# 7). r01–r08 pin the adversarial floor (random near-orthogonal probes);
# the regime embedding-dedup actually runs in is "probe ≈ a corpus
# vector" — each probe here is a deterministically perturbed copy of a
# corpus vector, and the metric is the fraction of probes whose ANN
# top-3 (d08 production config: 8-bit sign bucket, Hamming-1
# multi-probe) contains the planted source. Same computation RECALL.md
# tabulates, now hash-verified per-round by the driver.
# --------------------------------------------------------------------------
def r09_recall_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    emb = load(spark, sf_dir, "embeddings")
    # planted probes: vec_id+1e6, each component nudged by a
    # deterministic integer pattern scaled to 0.02 (cosine stays ≈ 1)
    # vec_id < 1e6 bounds the probe slice so probe ids (vec_id+1e6)
    # can never equal a corpus vec_id at any sf (review r11); the
    # self-exclusion below is also mirrored in the oracle now so the
    # two engines can never desync on a residual collision
    probes = emb.where(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 1_000_000)
    ).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + 0.02 * ((F.col("vec_id") * 7 + i) % 5 - 2),
        ).alias("embedding"),
    )
    ann = similarity.bucketed_ann(emb, probes, k=3, n_bits=8, multi_probe=1)
    hits = (
        ann.where(F.col("neighbor_id") == F.col("query_id") - 1_000_000)
        .select("query_id").distinct().withColumn("hit", F.lit(1))
    )
    return (
        probes.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.count("hit").alias("n_hits"),
        )
        .withColumn(
            "hit_rate", F.round(F.col("n_hits") / F.col("n_probes"), 6)
        )
    )


_R09_BUCKET = " + ".join(
    f"(CASE WHEN {{v}}[{i + 1}] > 0 THEN {2 ** i} ELSE 0 END)"
    for i in range(8)
)

R09_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
p0 AS (SELECT vec_id, e FROM v
       WHERE vec_id % 100 = 0 AND vec_id < 1000000),
probes AS (
  SELECT vec_id + 1000000 AS query_id,
         list(e[i + 1] + 0.02 * (((vec_id * 7 + i) % 5) - 2) ORDER BY i)
           AS qe
  FROM p0, UNNEST(range(len(e))) AS u(i)
  GROUP BY vec_id
),
vb AS (SELECT vec_id, e,
              CAST({_R09_BUCKET.format(v='e')} AS BIGINT) AS bucket FROM v),
qb AS (SELECT query_id, qe,
              CAST({_R09_BUCKET.format(v='qe')} AS BIGINT) AS bucket
       FROM probes),
qp AS (  -- own bucket + 8 Hamming-1 neighbors (d08 multi-probe config)
  SELECT query_id, qe, bucket FROM qb
  UNION ALL
  SELECT query_id, qe, xor(bucket, (1::BIGINT << i))
  FROM qb, UNNEST(range(8)) AS u(i)
),
scored AS (
  SELECT qp.query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(qe, c.e)
               / NULLIF(sqrt(list_dot_product(qe, qe))
                        * sqrt(list_dot_product(c.e, c.e)), 0),
               6) AS score
  FROM qp JOIN vb c ON c.bucket = qp.bucket
  WHERE c.vec_id <> qp.query_id  -- mirrors bucketed_ann's self-exclusion
),
topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id ASC) AS rk
    FROM scored
  ) WHERE rk <= 3
),
hits AS (
  SELECT DISTINCT query_id FROM topk
  WHERE neighbor_id = query_id - 1000000
)
SELECT count(*) AS n_probes, count(h.query_id) AS n_hits,
       ROUND(count(h.query_id) / count(*), 6) AS hit_rate
FROM probes p LEFT JOIN hits h ON h.query_id = p.query_id
"""


SPECS = [
    QuerySpec("d13_prefix_jaccard", d13_prefix_jaccard, D13_SQL,
              "EXACT Jaccard>=0.7 set-similarity self-join via prefix "
              "filtering; oracle replays the full quadratic join"),
    QuerySpec("h01_binned_quantiles", h01_binned_quantiles, H01_SQL,
              "mergeable equi-width histogram quantiles (p50/p90/p99), "
              "shard-merge == direct pinned"),
    QuerySpec("u03_scd2_pointintime", u03_scd2_pointintime, U03_SQL,
              "SCD2 dim from purchase change feed + point-in-time fact "
              "lookup at event time"),
    QuerySpec("q45_small_qty_revenue", q45_small_qty_revenue, Q45_SQL,
              "TPC-H Q17-shaped correlated small-quantity revenue, "
              "integer cross-multiplied"),
    QuerySpec("h02_group_quantiles", h02_group_quantiles, H02_SQL,
              "per-group quantiles from one (group, bin)-keyed agg — "
              "no per-group sort, no percentile_approx divergence"),
    QuerySpec("z02_skipping_report", z02_skipping_report, Z02_SQL,
              "data-skipping economics: buckets scanned for a 2-D box "
              "under z-order tiles vs row-key layout"),
    QuerySpec("q46_fk_orphans", q46_fk_orphans, Q46_SQL,
              "cross-table referential-integrity audit: orphan counts "
              "per FK relationship (anti-join vs broadcast dim)"),
    QuerySpec("q47_sole_late_supplier", q47_sole_late_supplier, Q47_SQL,
              "TPC-H Q21 shape: double-correlated EXISTS/NOT-EXISTS as "
              "two per-order aggregates joined back"),
    QuerySpec("t32_lang_temperature", t32_lang_temperature, T32_SQL,
              "temperature (alpha=0.5) language re-balancing weights, "
              "integer-quantized before the normalizing sum"),
    QuerySpec("w02_temperature_manifest", w02_temperature_manifest, W02_SQL,
              "deterministic per-doc resampling manifest from t32 "
              "weights (integer micro-epochs + md5 fractional draw)"),
    QuerySpec("r08_recall_minhash", r08_recall_minhash, _r08_sql(),
              "measured pair recall of MinHash-LSH dedup vs the exact "
              "prefix-filter ground truth at the same threshold"),
    QuerySpec("e06_gram_matrix", e06_gram_matrix, E06_SQL,
              "exact integer Gram-matrix sufficient statistics over "
              "embedding dims (the map-reduce half of PCA/whitening)"),
    QuerySpec("c03_isotonic_calibration", c03_isotonic_calibration, C03_SQL,
              "per-group isotonic calibration: sequential PAVA in "
              "applyInPandas, oracle-checked via the minimax theorem"),
    QuerySpec("a07_conversion_lag", a07_conversion_lag, A07_SQL,
              "first-view to first-purchase lag quantiles through the "
              "mergeable sketch (funnel x sketch composition)"),
    QuerySpec("q48_top_revenue_supplier", q48_top_revenue_supplier, Q48_SQL,
              "TPC-H Q15 shape: max-of-aggregate with tie retention, "
              "1-row max broadcast back into the revenue view"),
    QuerySpec("h04_sketch_vs_exact", h04_sketch_vs_exact, H04_SQL,
              "sketch-accuracy audit: histogram quantiles vs exact "
              "order statistics, one-bin error bound pinned"),
    QuerySpec("u05_storage_dml_roundtrip", u05_storage_dml_roundtrip, U05_SQL,
              "append->MERGE->DELETE through the write-id format vs the "
              "declarative outcome — the storage DML layer under the "
              "hard signal"),
    # appended r5, BEHIND the never-checked backlog (VERDICT r4 item 1):
    # never-checked specs tie at staleness -1 and resolve by original
    # spec order, so a spec added at the END of the last module cannot
    # jump the rotation queue
    QuerySpec("r09_recall_planted", r09_recall_planted, R09_SQL,
              "planted-neighbor hit rate of the d08 multi-probe ANN "
              "config — recall in the near-dup operating regime, not "
              "just the adversarial random floor"),
]


# r7 consolidation (COVERAGE.md): h01 -> h02 (global quantiles == the
# single-group case of grouped quantiles; shard-merge==direct stays
# asserted inside the folded query, re-run by tests/test_folded_twins.py).
_FOLDED = {"h01_binned_quantiles",
           # candidate batch: z02 -> z01 (the layout-report pair)
           "z02_skipping_report"}
FOLDED_SPECS = [s for s in SPECS if s.name in _FOLDED]
SPECS = [s for s in SPECS if s.name not in _FOLDED]
