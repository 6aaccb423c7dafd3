"""Upsert / MERGE emulation on plain parquet.

Delta/Iceberg (not in this image) provide transactional MERGE INTO;
these operators emulate it on snapshot directories (SURVEY §2 S9's
parity sink), with the same DataFrame shapes a lakehouse MERGE would
plan:

- **merge_upsert** — keyed upsert: updates win over target rows with the
  same key (anti-join + union — one shuffle on the key, broadcast when
  the update batch is small).
- **scd2_apply** — slowly-changing-dimension type 2: close the current
  version of changed keys (valid_to stamped) and append the new version
  (valid_from stamped, open-ended).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key: str | list[str],
    order_col: str | None = None,
) -> DataFrame:
    """Rows of ``updates`` replace same-key rows of ``target``; new keys
    append. Pure plan — caller writes the result (overwrite or versioned
    snapshot).

    A MERGE requires at most one update row per key. When ``order_col``
    is given, duplicate-key updates resolve last-write-wins by that
    column (ties broken arbitrarily are not allowed: the column must be a
    total order per key); when None, ``updates`` MUST be key-unique —
    duplicates would corrupt the one-row-per-key snapshot downstream.

    NULL join keys follow SQL MERGE semantics (Delta behaves the same):
    NULL never equals NULL, so a NULL-keyed update row INSERTS alongside
    a NULL-keyed target row instead of replacing it. Scrub or surrogate
    NULL keys upstream when replacement semantics are required.
    """
    from pyspark.sql import Window

    keys = [key] if isinstance(key, str) else list(key)
    if order_col is not None:
        # last-write-wins dedup applies only to NON-NULL-keyed rows:
        # Window.partitionBy groups all NULL keys into ONE partition,
        # so the row_number would silently collapse every NULL-keyed
        # insert into one — contradicting the MERGE semantics above
        # (NULL never equals NULL; each inserts) and flipping data
        # loss on an unrelated parameter (review r9)
        null_key = F.lit(False)
        for k in keys:
            null_key = null_key | F.col(k).isNull()
        w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
        keyed = (
            updates.where(~null_key)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        updates = keyed.unionByName(updates.where(null_key))
    kept = target.join(updates.select(*keys).distinct(), keys, "left_anti")
    return kept.unionByName(updates)


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    key: str | list[str],
    effective_col: str = "valid_from",
    end_col: str = "valid_to",
    change_ts_col: str = "_change_ts",
) -> DataFrame:
    """SCD type-2: for each changed key, close the open version at the
    change timestamp and append the new version as the open row.

    ``dim`` carries (key..., attributes..., valid_from, valid_to NULL for
    open); ``changes`` carries (key..., attributes..., _change_ts).
    """
    from pyspark.sql import Window

    keys = [key] if isinstance(key, str) else list(key)
    closing_ts = changes.groupBy(*keys).agg(
        F.min(change_ts_col).alias("_close_ts")
    )
    open_rows = dim.where(F.col(end_col).isNull())
    closed_now = (
        open_rows.join(closing_ts, keys, "inner")
        # cast like the new_versions branch: an uncast _close_ts of a
        # different type would widen the whole valid_to column through
        # unionByName coercion (string beats timestamp) — silently
        # changing the dimension's schema for ALL rows
        .withColumn(
            end_col,
            F.col("_close_ts").cast(dim.schema[end_col].dataType),
        )
        .drop("_close_ts")
    )
    untouched_open = open_rows.join(closing_ts.select(*keys), keys, "left_anti")
    history = dim.where(F.col(end_col).isNotNull())
    # multiple changes per key in one batch: chain versions — each change
    # is valid until the NEXT change's timestamp; only the last stays open
    w = Window.partitionBy(*keys).orderBy(F.col(change_ts_col).asc())
    new_versions = (
        changes.withColumn("_next_ts", F.lead(change_ts_col).over(w))
        .withColumnRenamed(change_ts_col, effective_col)
        # cast valid_from like valid_to (review r9: an uncast string
        # change feed widened the dimension's valid_from column to
        # string for EVERY row through unionByName coercion — the
        # exact failure the end_col comment above warns about)
        .withColumn(
            effective_col,
            F.col(effective_col).cast(dim.schema[effective_col].dataType),
        )
        .withColumn(end_col, F.col("_next_ts").cast(dim.schema[end_col].dataType))
        .drop("_next_ts")
    )
    return (
        history.unionByName(closed_now)
        .unionByName(untouched_open)
        .unionByName(new_versions.select(*history.columns))
    )

