"""Training-shard export: split a curated corpus into N fixed shards.

Trainers consume data as numbered shard files (webdataset/tfrecord
style): workers each stream a disjoint shard subset, so shard assignment
must be deterministic, uniform, and reproducible across reruns. Shard id
is ``md5(salt||key) % n_shards`` over the canonical 56-bit prefix
(:mod:`hashing`): no global sort, no driver state, stable on any
partitioning and any engine, uniform at any realistic shard count.

- **shard_assign** — add the shard_id column (pure expression).
- **shard_manifest** — per-shard audit row (doc/token counts, key
  range): what a training job reads to plan worker assignment.
- **export_shards** — write the corpus as ``shard_id=K/`` parquet
  directories, one file per shard, rows in deterministic hash order
  within each shard (the "shuffled" serving order trainers want).

At 100 TB: assignment is map-side only; the export's single shuffle is
``repartition(n_shards, shard_id)`` — each output file is written by
exactly one task, so shard count should be sized to ~0.5–2 GB per shard
file (tens of thousands of shards at full scale, not 8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datawarehouse_backup_system_spark.operators import text
from datawarehouse_backup_system_spark.operators.hashing import md5_bucket


def shard_id_expr(key_col: str, n_shards: int, salt: str = "shard"):
    """THE shard-assignment expression — single-sourced so a consumer
    replicating the layout (e.g. a pack_sequences plan over the exported
    shards) can never fork from what export_shards actually writes
    (review r8: the hand-copied expression did exactly that when the
    recipe changed)."""
    return md5_bucket(
        F.concat(F.lit(salt), F.col(key_col).cast("string")), n_shards
    )


def shard_order_exprs(key_col: str, salt: str = "shard") -> list:
    """THE within-shard order — (md5(salt||key), key) — single-sourced
    like :func:`shard_id_expr` (review r11: a hand-copied copy of this
    half of the layout contract is the exact fork class the r8 fix
    banned for the shard expression; a salt/recipe change here would
    silently make packing-plan offsets coordinates into a layout no
    file has)."""
    return [
        F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))),
        F.col(key_col),
    ]


def shard_assign(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    salt: str = "shard",
    out_col: str = "shard_id",
) -> DataFrame:
    """Deterministic uniform shard id: ``md5(salt||key) % n_shards``
    over the canonical 56-bit prefix (``hashing.md5_bucket``).

    Review r8: the previous route through ``sampling._bucket`` double-
    modded through its 1,000,000-bucket space, so any ``n_shards`` not
    dividing 10^6 was skewed (33% size imbalance at 300k shards — the
    module's own design point) and ``n_shards > 10^6`` left shards
    permanently empty. The 56-bit prefix is uniform at any realistic
    shard count. A NULL ``key_col`` yields a NULL shard id (concat with
    NULL is NULL on both engines); the manifest surfaces such rows as a
    ``shard_id IS NULL`` audit row rather than dropping them."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    return df.withColumn(out_col, shard_id_expr(key_col, n_shards, salt))


def _manifest_from_assigned(
    assigned: DataFrame, key_col: str, n_shards: int, text_col: str | None
) -> DataFrame:
    """Aggregate an already-assigned frame into the manifest, emitting a
    row for EVERY shard id — an empty shard shows n_docs=0 (NULL ranges)
    rather than vanishing, so a training job planning worker/shard
    assignment can tell 'empty' from 'missing'."""
    aggs = [
        # count rows, not keys: count(key_col) would report 0 docs on
        # the NULL-key audit row this manifest exists to surface
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min(key_col).alias("min_key"),
        F.max(key_col).alias("max_key"),
    ]
    if text_col is not None:
        # strict variant: empty/whitespace-only docs are 0 tokens, the
        # same accounting lm.bigram_rows / importance use — the plain
        # count reports 1 (split('') == ['']) and would overstate a
        # shard of blank docs by n_docs (review r8)
        aggs.append(
            F.sum(text.token_count_strict(F.col(text_col)))
            .cast("bigint")
            .alias("n_tokens")
        )
    per_shard = assigned.groupBy("shard_id").agg(*aggs)
    all_ids = assigned.sparkSession.range(n_shards).select(
        F.col("id").cast("bigint").alias("shard_id")
    )
    # full outer, not left: rows whose key was NULL carry a NULL
    # shard_id — a left join would silently drop them from the audit,
    # the one thing a manifest must never do (review r8). With non-NULL
    # keys this is identical to the left join.
    return (
        all_ids.join(per_shard, "shard_id", "full")
        .na.fill({"n_docs": 0})
    )


def shard_manifest(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    text_col: str | None = None,
    salt: str = "shard",
) -> DataFrame:
    """Per-shard manifest: row count, key range, and (when ``text_col``
    given) total whitespace tokens — the planning input for a training
    job's worker/shard assignment. One partial-aggregatable groupBy;
    every shard id appears (empty shards as n_docs=0)."""
    assigned = shard_assign(df, key_col, n_shards, salt)
    return _manifest_from_assigned(assigned, key_col, n_shards, text_col)


def export_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    n_shards: int,
    salt: str = "shard",
    text_col: str | None = None,
) -> DataFrame:
    """Write ``path/shard_id=K/`` parquet, one file per shard, rows in
    deterministic hash order within the shard; returns the manifest
    computed FROM THE WRITTEN FILES (one corpus pass total — a manifest
    recomputed from ``df``'s lineage would scan everything twice and
    could diverge from the files if upstream is non-deterministic).

    ``repartition(n_shards, shard_id)`` + ``partitionBy(shard_id)``:
    every shard is written by exactly one task (one file), and
    ``sortWithinPartitions`` gives the reproducible pseudo-random
    within-shard order trainers expect from a pre-shuffled corpus.
    """
    assigned = shard_assign(df, key_col, n_shards, salt)
    # sort key leads with shard_id: the dynamic-partition writer REQUIRES
    # a task-local sort on the partition column and would otherwise
    # replace this sort with its own (dropping the hash order); with the
    # shard_id prefix the requirement is already satisfied and the
    # within-shard (md5, key) order survives into the files
    (
        assigned.repartition(n_shards, F.col("shard_id"))
        .sortWithinPartitions(
            F.col("shard_id"), *shard_order_exprs(key_col, salt)
        )
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(path)
    )
    # explicit schema: an all-filtered-out corpus writes only _SUCCESS,
    # and schema inference over zero part files raises instead of
    # returning the documented all-shards-empty manifest (review r8)
    written = df.sparkSession.read.schema(assigned.schema).parquet(path)
    return _manifest_from_assigned(written, key_col, n_shards, text_col)
