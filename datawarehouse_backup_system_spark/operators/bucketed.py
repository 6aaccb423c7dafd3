"""Bucketed (pre-shuffled) tables: shuffle-free co-located joins.

The 100 TB join story: a shuffle join on a 100 TB fact table moves the
whole table across the network EVERY run. Writing the table BUCKETED on
the join key (`bucketBy` — hash-partitioned into a fixed bucket count at
write time, bucket id recorded in the catalog and filenames) moves that
shuffle to write time, ONCE; every subsequent join on the bucket key
reads co-located buckets and Catalyst plans a SortMergeJoin with NO
Exchange on the bucketed side(s). `sortBy` additionally pre-sorts within
buckets so even the Sort node drops.

This is the DataFrame-native equivalent of Hive bucketed tables /
Iceberg bucket partition transforms (all public Spark surface:
``DataFrameWriter.bucketBy`` / ``sortBy`` / ``saveAsTable``).

Reference parity note: the reference engine re-reads its whole processed
history to dedup each new file (util/data_processing.py:209-393 —
per-run O(history)); bucketing `row_hash` is how this engine makes that
anti-join incremental at scale (SCALE.md J2 note).

Operational rules encoded here:
- bucket counts must MATCH (or divide evenly under
  ``spark.sql.bucketing.coalesceBucketsInJoin.enabled``) for the
  exchange to be elided on both sides;
- the join keys must be exactly the bucket keys (a superset key set
  still shuffles);
- bucketed writes require ``saveAsTable`` (catalog metadata carries the
  bucket spec; a bare ``parquet(path)`` write silently drops it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed parquet table in the session catalog.

    ``path`` makes it an external table (testable under tmp dirs); the
    bucket spec lives in catalog metadata either way.
    """
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def assert_no_exchange(df: DataFrame) -> str:
    """Raise if the physical plan contains a SHUFFLE Exchange. Returns
    the plan string for logging/audit. Guard helper for plan-regression
    tests and PLANS.md audits.

    Matches the standalone ``Exchange`` node name only: a bare
    substring test would also trip on ``BroadcastExchange`` (not a
    shuffle — e.g. Catalyst broadcasting the small side of a bucketed
    join is still a zero-shuffle plan) and ``ReusedExchange`` (which
    can only reference an Exchange caught elsewhere in the same plan);
    review r8."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    if re.search(r"\bExchange\b", plan):
        raise AssertionError(f"plan contains a shuffle Exchange:\n{plan}")
    return plan
