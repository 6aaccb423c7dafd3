"""Order-insensitive, mergeable table fingerprints — replica verification.

The operational question at 100 TB: "is this copy of the table byte-for-
byte the same data as that one?" — after a migration, a backfill, an
engine swap, or a cross-region replication. Sorting either side is off
the table at that size; the standard answer is a COMMUTATIVE digest:
hash every row independently, combine with an order-independent exact
operation, compare (n_rows, fingerprint) pairs.

Here: per-row 56-bit prefix of the canonical ``row_hash`` digest
(``hashing.hex_prefix_long`` — one md5 per row; the digest's own prefix
is already uniform) summed as DECIMAL(38,0). Exact integer summation is associative
and commutative, so the fingerprint is

- **partition-order independent** — any shuffle, any file order, any
  engine gives the same value;
- **mergeable** — fingerprint(A ∪ B) combines by adding sums and counts,
  so per-partition / per-shard fingerprints roll up to table level
  without touching rows again (same contract as the CMS/HLL sketches
  and the bigram-LM counts in this repo);
- **cheap** — one linear scan, one bounded aggregation; grouped form
  shuffles only (group, sum, count) partials.

Collision note: a 56-bit additive checksum is a VERIFICATION aid, not a
cryptographic proof — a mismatch is definitive (data differs); a match
is a very-high-confidence equality signal (an adversary could forge it;
random corruption cannot realistically preserve both count and sum).
Reference parity: the reference verifies loads only by row count
(`data_pushing.py` count checks); this strengthens that check to
content without changing its cost class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hashing import hex_prefix_long, row_hash_col


def table_fingerprint(
    df: DataFrame,
    columns: list[str] | None = None,
    group_by: list[str] | None = None,
) -> DataFrame:
    """(n_rows, fingerprint) per group (or one row for the whole table).

    ``columns`` defaults to every column (minus the group keys) in
    DataFrame order — pass an explicit list when comparing tables whose
    column order may differ. ``fingerprint`` is the exact decimal sum of
    per-row hashes, returned as DECIMAL(38,0).
    """
    from .skew import fan_out_small_scan

    keys = list(group_by or [])
    cols = columns if columns is not None else [
        c for c in df.columns if c not in keys
    ]
    # the fingerprint pass is pure per-row hashing (measured on v01),
    # so a single-small-file scan would run it all on one task: project
    # to exactly the hashed + key columns and conditionally fan out
    # (`skew.fan_out_small_scan` — no-op on corpus-scale inputs)
    sel = keys + [c for c in cols if c not in set(keys)]
    df = fan_out_small_scan(df.select(*sel))
    # prefix of the row_hash digest directly — md5(md5(x)) added a
    # second full hash per row for zero extra uniformity (measured on
    # v01: the fingerprint pass is pure hashing)
    h = hex_prefix_long(row_hash_col(cols)).cast("decimal(38,0)")
    # coalesce: an EMPTY table must fingerprint as 0, not NULL — two
    # empty replicas compared with `a.fingerprint = b.fingerprint`
    # would otherwise yield NULL instead of a match (review r7)
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.coalesce(F.sum(h), F.lit(0).cast("decimal(38,0)")).alias(
            "fingerprint"
        ),
    ]
    if keys:
        return df.groupBy(*keys).agg(*aggs)
    return df.agg(*aggs)


def table_diff(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Keyed replica diff — the row-level drill-down behind a
    :func:`table_fingerprint` mismatch: one output row per key whose
    content DIFFERS between the two tables, tagged ``status`` ∈
    {'added' (right only), 'removed' (left only), 'changed' (both
    present, ≥1 compared column differs null-safely)} with the
    differing column names as ``changed_cols`` (CSV in ``compare_cols``
    order; NULL for added/removed). Identical rows emit NOTHING.

    Scale shape: ONE full-outer sort-merge join on the key — the
    irreducible cost of a keyed comparison — and the output is
    proportional to the DRIFT, never the table (the 100 TB use is
    "fingerprints disagree; show me the few thousand rows that moved",
    not a full dump). Column comparisons are null-safe ``<=>``
    expressions, codegen'd, no UDFs; with both replicas bucketed on the
    key (``DataFrameWriter.bucketBy``) the join plans with zero
    Exchange.

    Contract: ``key_cols`` must identify rows uniquely on each side
    (duplicate keys join many-to-many, the standard keyed-diff caveat);
    NULL keys never equi-join, so a NULL-key row surfaces as one
    'removed' plus one 'added' — the honest rendering of a row no key
    can line up. ``compare_cols`` defaults to the non-key columns the
    two frames share, in ``left``'s column order.
    """
    keys = list(key_cols)
    if not keys:
        raise ValueError("key_cols must be non-empty")
    if compare_cols is None:
        rcols = set(right.columns)
        compare_cols = [
            c for c in left.columns if c in rcols and c not in set(keys)
        ]
    lside = left.select(
        *keys,
        *[F.col(c).alias(f"_l_{c}") for c in compare_cols],
        F.lit(True).alias("_in_l"),
    )
    rside = right.select(
        *keys,
        *[F.col(c).alias(f"_r_{c}") for c in compare_cols],
        F.lit(True).alias("_in_r"),
    )
    j = lside.join(rside, on=keys, how="full")
    differs = [
        ~F.col(f"_l_{c}").eqNullSafe(F.col(f"_r_{c}")) for c in compare_cols
    ]
    changed_csv = F.concat_ws(
        ",", *[F.when(d, F.lit(c)) for c, d in zip(compare_cols, differs)]
    )
    any_diff = F.lit(False)
    for d in differs:
        any_diff = any_diff | d
    status = (
        F.when(F.col("_in_l").isNull(), F.lit("added"))
        .when(F.col("_in_r").isNull(), F.lit("removed"))
        .when(any_diff, F.lit("changed"))
    )
    return (
        j.withColumn("status", status)
        .where(F.col("status").isNotNull())
        .select(
            *keys,
            "status",
            F.when(F.col("status") == "changed", changed_csv).alias(
                "changed_cols"
            ),
        )
    )


def merge_fingerprints(parts: DataFrame, group_by: list[str] | None = None) -> DataFrame:
    """Roll shard-level fingerprint rows up by summation — fingerprints
    over disjoint shards combine EXACTLY to the union's fingerprint."""
    keys = list(group_by or [])
    aggs = [
        F.coalesce(F.sum("n_rows"), F.lit(0)).cast("bigint").alias("n_rows"),
        F.coalesce(F.sum("fingerprint"), F.lit(0))
        .cast("decimal(38,0)")
        .alias("fingerprint"),
    ]
    if keys:
        return parts.groupBy(*keys).agg(*aggs)
    return parts.agg(*aggs)
