"""Exact deduplication: the reference's hand-rolled hash-set joins
(SURVEY §2.3) as real Spark joins.

- J1 in-file self-dedup, FIRST occurrence kept
  (``util/data_processing.py:396-524``)
- J2 incremental anti-join vs processing history
  (``util/data_processing.py:209-393`` + driver loop ``main.py:221-248``)

Scale notes (the whole point of the rewrite):

- The reference builds an unbounded in-RAM ``set`` per comparison file and
  loops over history files one at a time — O(history) passes, OOM at
  scale. J2 here is ONE anti-join against the union of history's
  ``row_hash`` column as it is, since a left-anti join keeps the same
  rows whatever duplicates its build side holds: broadcast while history
  is small, else both sides hash-partitioned on ``row_hash``, spilling
  as needed.
- The reference's J3 replay guard (an anti-join on id against the
  target) is a plain ``left_anti`` join, spelled inline by the q04
  contract query; the daily cycle needs none, because ids continue from
  the stored watermark and the ledger skips a processed file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def self_dedup_first(
    df: DataFrame,
    hash_col: str = "row_hash",
    order_col: str | list[str] | None = None,
) -> DataFrame:
    """J1: keep the first occurrence per content hash.

    First-occurrence semantics are order-DEFINED (SURVEY D3): plain
    ``dropDuplicates`` keeps an arbitrary row. ``order_col`` (one column
    or a composite list) is the total order; when None a ``_seq`` is
    derived from ``monotonically_increasing_id()`` — beware that for
    multi-block file scans Spark packs blocks by size, so exact file-row
    order needs a composite like (file_rank, _metadata.file_block_start,
    mono_id) as used by plans.ingest.

    The window needs rows clustered by ``hash_col``: a shuffle on it,
    unless ``df`` is already one partition (as in plans.ingest, where the
    dense ids need that partition too); no global sort.
    """
    reserved = {"_rn"} | ({"_seq"} if order_col is None else set())
    clash = reserved & set(df.columns)
    if clash:
        # silently overwriting-then-dropping a user column loses data;
        # fail loudly like asof_join's reserved-name guard (review r8)
        raise ValueError(
            f"self_dedup_first reserves column name(s) {sorted(clash)}; "
            "rename them before deduplicating"
        )
    if order_col is None:
        cols = ["_seq"]
        out = df.withColumn("_seq", F.monotonically_increasing_id())
        drop_seq = True
    else:
        cols = [order_col] if isinstance(order_col, str) else list(order_col)
        out = df
        drop_seq = False
    w = Window.partitionBy(hash_col).orderBy(*[F.col(c).asc() for c in cols])
    out = (
        out.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    return out.drop("_seq") if drop_seq else out


def anti_join_history(
    new_rows: DataFrame,
    history: DataFrame,
    hash_col: str = "row_hash",
) -> DataFrame:
    """J2: keep rows whose content hash never appeared in history.

    ``history`` may be the full snapshot table — only ``hash_col`` is
    selected, so Catalyst prunes the scan to one column (the reference had
    to re-read whole CSVs per file, data_processing.py:308-311).
    """
    return new_rows.join(history.select(hash_col), on=hash_col, how="left_anti")

