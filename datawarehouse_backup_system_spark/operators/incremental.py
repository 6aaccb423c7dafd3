"""Incremental aggregate-view maintenance via mergeable partials.

The reference recomputes its running counters per cycle over whatever it
has on disk (``util/data_processing.py`` tallies per chunk); at 100 TB a
materialized aggregate (revenue by priority, counts by day, ...) cannot
be rebuilt by rescanning history every batch. The standard warehouse
answer — Delta/Iceberg MERGE-maintained summary tables, Druid/Pinot
rollup segments — is to keep the view as *mergeable partial aggregates*
and fold each new batch in with a key-wise merge:

    view ⊕ partial(batch)  ==  partial(history ∪ batch)

for any aggregate expressible as a commutative monoid: COUNT and SUM
(add), MIN/MAX (lattice meet/join), and anything derivable from kept
partials (AVG = sum/count). One groupBy over the BATCH plus one
merge-shuffle over O(|groups|) view rows — history is never rescanned.

Aggregates that are NOT monoidal over these partials (exact DISTINCT,
exact medians) need their own sketch partials — see
``operators/sketches.py`` (HLL rollup) and ``operators/quantiles.py``
(mergeable histograms), which slot into the same merge shape.

Reference parity: running counters A5 (`util/data_processing.py:209`,
tallies per 100k-row chunk) — re-expressed as a distributed monoid fold
instead of a driver-side accumulator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: partial-aggregate columns produced per (value) metric
_PARTIAL_COLS = ("n_rows", "n_vals", "sum_v", "min_v", "max_v")


def partial_aggs(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """One map-side-combinable groupBy producing the monoid partials
    (count, non-null value count, sum, min, max) of ``value_col`` per
    key. ``value_col`` must already be exact-typed (integer cents, not
    raw doubles) if the view is hash-compared downstream.

    ``n_vals`` is a separate partial from ``n_rows`` (review r11): SUM
    skips NULL values while COUNT(*) counts every row, so deriving AVG
    as sum_v/n_rows silently skewed any nullable metric column — AVG's
    true denominator is the non-null count."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(value_col).alias("n_vals"),
        F.sum(value_col).alias("sum_v"),
        F.min(value_col).alias("min_v"),
        F.max(value_col).alias("max_v"),
    )


def merge_many(partials: DataFrame, keys: list[str]) -> DataFrame:
    """Monoid merge of ANY number of stacked partials in one groupBy —
    THE single definition of the merge algebra. Readers and folds
    (:func:`merge_partials`) must route through here: a re-implemented
    column list would silently fork from the writer when
    ``_PARTIAL_COLS`` changes."""
    return partials.groupBy(*keys).agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_vals").alias("n_vals"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


def merge_partials(view: DataFrame, batch_partial: DataFrame,
                   keys: list[str]) -> DataFrame:
    """Fold a batch's partials into the maintained view: key-wise monoid
    merge (sum+sum, min∧min, max∨max). Cost is O(|view| + |batch
    groups|) — independent of history row count. New keys appear via the
    union; absent keys pass through unchanged."""
    return merge_many(view.unionByName(batch_partial), keys)


def finalize(view: DataFrame) -> DataFrame:
    """Derive the presented aggregates from the kept partials: AVG as
    exact integer division so the view hash-compares across engines.

    Precisely: ``div`` TRUNCATES TOWARD ZERO (-7 div 2 = -3), and
    DuckDB's integer ``//`` does the same — so the Spark↔DuckDB hash
    parity holds on negative sums too (verified: both give -3).
    Python's ``//`` FLOORS (-4); the column is named ``avg_floor`` for
    historical reasons but is truncating division — don't reconcile it
    against Python ``//`` on negative aggregates (review r8)."""
    return view.select(
        *[c for c in view.columns if c not in _PARTIAL_COLS],
        "n_rows", "n_vals", "sum_v", "min_v", "max_v",
        # n_vals, not n_rows (review r11): SUM skipped the NULLs, so
        # the average must divide by the non-null count. An all-NULL
        # group yields NULL (div by 0 is NULL non-ANSI) — the true AVG.
        F.expr("sum_v div n_vals").alias("avg_floor"),
    )


def merge_join_view(view: DataFrame,
                    a_hist: DataFrame, a_new: DataFrame,
                    b_hist: DataFrame, b_new: DataFrame,
                    on: list[str]) -> DataFrame:
    """Incremental JOIN-view maintenance by delta decomposition:

        (A ∪ ΔA) ⋈ (B ∪ ΔB)
            == (A ⋈ B)  ∪  ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB
              └── view ──┘

    The view (history⋈history) is NEVER recomputed — the standard
    materialized-view delta rule (Blakeley et al., "Efficiently
    updating materialized views"). What scale buys: each maintenance
    cycle joins only delta-sized frames against the other side, so a
    daily batch over a 100 TB join costs |Δ|-proportional work; the
    delta side is broadcast-sized in the common fact⋈dim case. Callers
    must feed DISJOINT hist/new splits (append-only deltas; updates
    need the SCD2 path in operators/upsert.py)."""
    return (
        view
        .unionByName(a_new.join(b_hist, on))
        .unionByName(a_hist.join(b_new, on))
        .unionByName(a_new.join(b_new, on))
    )
