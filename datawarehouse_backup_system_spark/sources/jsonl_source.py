"""JSONL source — the line-delimited format training-data pipelines
actually ingest (web-crawl dumps, annotation exports, model outputs).

Design: read lines with the TEXT reader (splittable, .gz transparent)
and parse with ``from_json`` in the projection. This beats the native
JSON reader for pipeline use on three counts:

- **the raw line is a first-class column** — corrupt lines quarantine
  with their original bytes (Spark's raw-JSON scan refuses
  corrupt-column-only queries: UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_
  RECORD_COLUMN — a real operational trap this layout sidesteps);
- **schema is explicit** — at 100 TB inference is a full extra pass,
  so the caller passes the schema;
- **parsing stays in the scan projection** (from_json is an expression)
  — no second source, no shuffle, and the same column prunes as any
  projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: quarantine column: the raw unparseable line
RAW_COL = "_raw_line"


def _nonblank(value):
    """True for lines with any NON-WHITESPACE content. F.trim strips
    ASCII spaces only, so a tab-only separator line passed the old
    trim-based filter and landed in the corrupt quarantine instead of
    being dropped as blank (review r11) — contradicting the documented
    'blank lines are dropped' contract."""
    return F.length(F.regexp_replace(value, r"\s", "")) > 0


def jsonl_projection(lines: DataFrame, schema: T.StructType) -> DataFrame:
    """The parse/quarantine projection over a frame of raw lines
    (column ``value``) behind :func:`read_jsonl`. Stateless and
    codegen'd: safe under any partitioning and in a streaming plan
    (``spark.readStream.text`` yields the same one-column frame).

    PERMISSIVE from_json marks malformed lines via the corrupt-record
    field (a TRUNCATED json like '{"k": ' yields a non-null struct, so
    struct-is-null alone is not a reliable corruption signal); a
    non-null struct with a NULL data field is a per-field type
    mismatch — a coercion concern for operators/cast.py, not line
    corruption. Blank lines are dropped.
    """
    # StructType.add mutates in place — build a fresh struct instead of
    # corrupting the caller's schema object. The corrupt-record field
    # name is derived to dodge the caller's field names: a schema that
    # itself contains '_corrupt' previously produced a duplicate-named
    # struct field and the user's column was silently dropped by the
    # output filter (review r8).
    corrupt_col = "_corrupt"
    taken = {f.name for f in schema.fields}
    while corrupt_col in taken:
        corrupt_col += "_"
    parse_schema = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    nonblank = lines.where(_nonblank(F.col("value")))
    parsed = nonblank.select(
        F.col("value"),
        F.from_json(
            F.col("value"),
            parse_schema,
            {"columnNameOfCorruptRecord": corrupt_col},
        ).alias("_j"),
    )
    is_bad = F.col("_j").isNull() | F.col("_j").getField(
        corrupt_col
    ).isNotNull()
    # getField, not F.col("_j.<name>"): a JSON key containing dots
    # (e.g. 'headers.content-type') would parse as a deeper nested path
    # and fail UNRESOLVED_COLUMN; getField treats the name literally
    return parsed.select(
        F.when(is_bad, F.col("value")).alias(RAW_COL),
        *[
            F.when(is_bad, F.lit(None))
            .otherwise(F.col("_j").getField(f.name))
            .alias(f.name)
            for f in schema.fields
        ],
    )


def read_jsonl(
    spark: SparkSession,
    paths: str | list[str],
    schema: T.StructType,
) -> DataFrame:
    """Read line-delimited JSON against an explicit schema.

    Output: the schema's columns plus ``_raw_line``, which is NULL for
    rows that parsed and carries the original line for rows that did
    not (feed those to the ledger via :func:`split_corrupt`).
    """
    return jsonl_projection(spark.read.text(paths), schema)


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good_rows_without_quarantine_col, corrupt_lines) — corrupt rows
    carry the raw line for audit/ledger."""
    if RAW_COL not in df.columns:
        return df, df.limit(0).select(
            F.lit(None).cast("string").alias("raw_line")
        )
    good = df.where(F.col(RAW_COL).isNull()).drop(RAW_COL)
    bad = df.where(F.col(RAW_COL).isNotNull()).select(
        F.col(RAW_COL).alias("raw_line")
    )
    return good, bad

