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

from pathlib import Path
from urllib.parse import unquote, urlparse

import pyarrow.compute as pc
import pyarrow.parquet as pq
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
    watermark (not a mutable JSON file, SURVEY §7), 0 when it holds none.

    Parquet answers this from footer statistics: when ``target`` is a
    bare scan of local parquet files (its analyzed plan is one file
    relation), the driver folds each row group's ``max`` with pyarrow and
    no Spark job runs; a row group written without min/max reads just
    that column chunk. Files outside the table's listing — a ``_stats/``
    manifest, a staging dir — are not in ``inputFiles()`` and never
    count. The empty frame an absent table reads as (an empty local
    relation) is 0, also with no job. Any other frame (filtered,
    in-memory rows, or a scan whose files lack ``id_col``) runs the
    aggregate."""
    maxes = _footer_maxes(target, id_col)
    if maxes is None:
        m = target.agg(F.max(id_col).alias("m")).collect()[0]["m"]
    else:
        m = max((m for m in maxes if m is not None), default=None)
    return int(m) if m is not None else 0


def _footer_maxes(target: DataFrame, id_col: str) -> list[int | None] | None:
    """Each row group's MAX(``id_col``) (``None`` if all null) from the
    parquet footers of a bare local scan; ``[]`` for an empty local
    relation; ``None`` when ``target`` is neither or the footers cannot
    say."""
    plan = target._jdf.queryExecution().analyzed()
    kind = plan.getClass().getSimpleName()
    if kind == "LocalRelation" and plan.data().isEmpty():
        return []
    if (
        kind != "LogicalRelation"
        or plan.relation().getClass().getSimpleName() != "HadoopFsRelation"
        or plan.relation().fileFormat().shortName() != "parquet"
    ):
        return None
    uris = target.inputFiles()
    if not uris or not all(u.startswith("file:") for u in uris):
        return None
    maxes = []
    for uri in uris:
        with pq.ParquetFile(Path(unquote(urlparse(uri).path))) as pf:
            meta = pf.metadata
            paths = [meta.schema.column(k).path for k in range(meta.num_columns)]
            if id_col not in paths:
                return None
            j = paths.index(id_col)
            for i in range(meta.num_row_groups):
                stats = meta.row_group(i).column(j).statistics
                if stats is not None and stats.has_min_max:
                    maxes.append(stats.max)
                else:
                    chunk = pf.read_row_group(i, columns=[id_col])[id_col]
                    maxes.append(pc.max(chunk).as_py())
    return maxes
