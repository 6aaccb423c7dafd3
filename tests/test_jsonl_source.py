"""JSONL source: schema-pinned reads, corrupt-line quarantine, gz."""

from __future__ import annotations

import gzip

from pyspark.sql import types as T

from datawarehouse_backup_system_spark.sources.jsonl_source import (
    RAW_COL,
    read_jsonl,
    split_corrupt,
)

LINES = [
    '{"doc_id": 1, "text": "hello world", "meta": {"lang": "en"}}',
    '{"doc_id": 2, "text": "bonjour", "meta": {"lang": "fr"}}',
    'this is not json at all',
    '{"doc_id": 3, "text": "ok", "meta": null}',
    '{"broken": ',
]

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField(
            "meta", T.StructType([T.StructField("lang", T.StringType())])
        ),
    ]
)


def _write(tmp_path, name, lines, gz=False):
    p = tmp_path / name
    data = ("\n".join(lines) + "\n").encode()
    if gz:
        p.write_bytes(gzip.compress(data))
    else:
        p.write_bytes(data)
    return str(p)


def test_read_jsonl_quarantines_corrupt_lines(spark, tmp_path):
    path = _write(tmp_path, "batch.jsonl", LINES)
    df = read_jsonl(spark, path, schema=SCHEMA)
    good, bad = split_corrupt(df)
    assert sorted(r["doc_id"] for r in good.collect()) == [1, 2, 3]
    assert RAW_COL not in good.columns
    raw = sorted(r["raw_line"] for r in bad.collect())
    assert raw == sorted(["this is not json at all", '{"broken": '])
    # nested field survives the schema-pinned read
    langs = {r["doc_id"]: r["meta"]["lang"] if r["meta"] else None for r in good.collect()}
    assert langs == {1: "en", 2: "fr", 3: None}


def test_read_jsonl_gz_transparent(spark, tmp_path):
    path = _write(tmp_path, "batch.jsonl.gz", LINES[:2], gz=True)
    good, bad = split_corrupt(read_jsonl(spark, path, schema=SCHEMA))
    assert good.count() == 2 and bad.count() == 0


def test_user_corrupt_column_survives(spark, tmp_path):
    """A caller schema containing '_corrupt' keeps its column — the
    quarantine field name is derived to dodge collisions (review r8:
    a duplicate-named struct field silently dropped the user's)."""
    import pyspark.sql.types as T

    p = tmp_path / "c.jsonl"
    p.write_text('{"doc_id": 1, "_corrupt": "user-data"}\nnot json\n')
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    out = read_jsonl(spark, str(p), schema=schema)
    good, bad = split_corrupt(out)
    assert bad.count() == 1
    rows = good.collect()
    assert len(rows) == 1
    assert rows[0]["doc_id"] == 1 and rows[0]["_corrupt"] == "user-data"


def test_export_jsonl_roundtrip(spark, tmp_path):
    """export_snapshot_jsonl -> read_jsonl is lossless for scalars."""
    from datawarehouse_backup_system_spark.operators.export import (
        export_snapshot_jsonl,
    )

    src = spark.createDataFrame(
        [(1, "hello", 1.5), (2, None, -3.25), (3, "x\"quoted\"", 0.0)],
        "doc_id long, text string, score double",
    )
    out = tmp_path / "export"
    export_snapshot_jsonl(src, out)
    back, bad = split_corrupt(
        read_jsonl(spark, str(out), schema=src.schema)
    )
    assert bad.count() == 0
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
