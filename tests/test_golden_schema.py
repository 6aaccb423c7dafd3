"""Golden-schema header validation over the F-1 registry (FIXTURES.md).

Reproduces the reference's exploratory notebook check (checkout_table.ipynb:
diff incoming CSV headers vs rename_mapping.json — its recorded run found
one extra header, 'SMTP response', at position 93) as deterministic
assertions through our P1/P3 validator. The registry and the headers come
from the F-1 fixture ``fixtures.generate_f1`` writes: its
``table_schema.json``, its ``rename_mapping.json`` and the header rows of
its wide and narrow exports. No Spark.
"""

from __future__ import annotations

import csv

import pytest

from datawarehouse_backup_system_spark.operators.normalize import validate_headers
from datawarehouse_backup_system_spark.registry import SchemaRegistry
from fixtures import generate_f1

KEY = "mini_campaign_events"


@pytest.fixture(scope="module")
def f1(tmp_path_factory) -> dict:
    return generate_f1(tmp_path_factory.mktemp("f1"), n=20)


@pytest.fixture(scope="module")
def reg(f1) -> SchemaRegistry:
    return SchemaRegistry.from_files(f1["schema_path"], f1["rename_path"])


def _header(path) -> list[str]:
    with open(path, newline="", encoding="utf-8") as f:
        return next(csv.reader(f, delimiter=";"))


def test_rename_map_covers_exact_schema(reg, f1):
    """A file carrying exactly the mapped raw headers validates cleanly."""
    schema = reg.get(KEY)
    rename = reg.rename_map(KEY)
    headers = _header(f1["files"][0])  # the wide export
    assert sorted(headers) == sorted(rename)
    report = validate_headers(headers, schema.data_columns, rename)
    assert report.ok, report.error
    assert report.missing_columns == ()
    # every mapped target is a real schema column
    assert set(rename.values()) <= set(schema.data_columns)


def test_notebook_extra_header_rejected(reg, f1):
    """The notebook's production finding: a header the mapping has not
    absorbed ('SMTP response') makes the file over-wide -> rejected with
    the culprit named."""
    schema = reg.get(KEY)
    rename = {k: v for k, v in reg.rename_map(KEY).items() if k != "SMTP response"}
    report = validate_headers(_header(f1["files"][0]), schema.data_columns, rename)
    assert not report.ok
    assert report.unknown_columns == ("SMTP response",)
    assert "SMTP response" in (report.error or "")


def test_duplicate_canonical_names_reject(reg, f1):
    """A rename collision (two raw headers mapping to one canonical
    name) must fail validation on the ledger path, not crash
    normalize() later with AMBIGUOUS_REFERENCE (review r8)."""
    schema = reg.get(KEY)
    rename = dict(reg.rename_map(KEY))
    first_canonical = schema.data_columns[0]
    rename["Some Extra Header"] = first_canonical
    headers = _header(f1["files"][0]) + ["Some Extra Header"]
    report = validate_headers(headers, schema.data_columns, rename)
    assert not report.ok
    assert "duplicate" in (report.error or "")


def test_missing_columns_warn_not_reject(reg, f1):
    """Q4 asymmetry: the narrow export (no 'SMTP response') is fewer
    columns -> ok, with the missing column backfilled and a warning."""
    schema = reg.get(KEY)
    headers = _header(f1["files"][2])
    assert "SMTP response" not in headers
    report = validate_headers(headers, schema.data_columns, reg.rename_map(KEY))
    assert report.ok
    assert report.missing_columns == ("smtp_response",)
    assert report.warnings
