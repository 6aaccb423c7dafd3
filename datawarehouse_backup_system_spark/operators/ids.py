"""Dense sequential id assignment (reference F8, SURVEY §7 hard part).

The reference assigns ``range(last_id+1, ...)`` per 10k-row chunk on a
single thread (``util/data_pushing.py:325-331``). Dense global ids are
inherently a global-order problem: ``row_number()`` over a window
ordered by ``order_cols`` (which must be a unique key — e.g. the ingest
``_seq``) gives ids ``start+1 .. start+N``, dense and in that order,
under any input partitioning. The window has no partition key, so its
one stage runs in a single task; that bounds the rows one cycle can
number, not their correctness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assign_dense_ids(
    df: DataFrame,
    order_cols: list[str],
    start: int = 0,
    id_col: str = "id",
) -> DataFrame:
    w = Window.orderBy(*[F.col(c).asc() for c in order_cols])
    return df.withColumn(id_col, (F.row_number().over(w) + F.lit(start)).cast("long"))


def next_id_watermark(target: DataFrame, id_col: str = "id") -> int:
    """A2: MAX(id) of the snapshot — the single source of truth for the
    watermark (not a mutable JSON file, SURVEY §7). Parquet answers this
    from footer statistics."""
    row = target.agg(F.max(id_col).alias("m")).collect()[0]
    return int(row["m"]) if row["m"] is not None else 0
