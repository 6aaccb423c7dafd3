"""Tests for MERGE-emulation / SCD2 operators."""

from __future__ import annotations

import datetime as dt

from datawarehouse_backup_system_spark.operators.upsert import (
    merge_upsert,
    scd2_apply,
)


def test_merge_upsert(spark):
    target = spark.createDataFrame(
        [(1, "old1"), (2, "old2"), (3, "old3")], "k long, v string"
    )
    updates = spark.createDataFrame([(2, "NEW2"), (4, "NEW4")], "k long, v string")
    out = {(r["k"], r["v"]) for r in merge_upsert(target, updates, "k").collect()}
    assert out == {(1, "old1"), (2, "NEW2"), (3, "old3"), (4, "NEW4")}


def test_merge_upsert_duplicate_updates_last_write_wins(spark):
    target = spark.createDataFrame([(1, "old", 0)], "k long, v string, ts long")
    updates = spark.createDataFrame(
        [(1, "mid", 5), (1, "last", 9), (2, "x", 1)], "k long, v string, ts long"
    )
    out = {(r["k"], r["v"]) for r in merge_upsert(target, updates, "k", order_col="ts").collect()}
    assert out == {(1, "last"), (2, "x")}


def test_scd2_multiple_changes_same_key_chain(spark):
    t0, t1, t2 = (dt.datetime(2024, m, 1) for m in (1, 6, 9))
    dim = spark.createDataFrame(
        [(1, "v0", t0, None)],
        "k long, email string, valid_from timestamp, valid_to timestamp",
    )
    changes = spark.createDataFrame(
        [(1, "v1", t1), (1, "v2", t2)], "k long, email string, _change_ts timestamp"
    )
    out = scd2_apply(dim, changes, "k").collect()
    rows = {(r["email"], r["valid_from"], r["valid_to"]) for r in out}
    assert rows == {("v0", t0, t1), ("v1", t1, t2), ("v2", t2, None)}
    assert sum(1 for r in out if r["valid_to"] is None) == 1  # one open row


def test_scd2_apply(spark):
    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 6, 1)
    dim = spark.createDataFrame(
        [
            (1, "alice@a", t0, None),     # open
            (2, "bob@b", t0, None),       # open, unchanged
            (1, "alice@old", dt.datetime(2023, 1, 1), t0),  # history
        ],
        "k long, email string, valid_from timestamp, valid_to timestamp",
    )
    changes = spark.createDataFrame(
        [(1, "alice@new", t1)], "k long, email string, _change_ts timestamp"
    )
    out = scd2_apply(dim, changes, "k").collect()
    rows = {(r["k"], r["email"], r["valid_to"]) for r in out}
    assert (1, "alice@a", t1) in rows          # closed at change ts
    assert (1, "alice@new", None) in rows      # new open version
    assert (2, "bob@b", None) in rows          # untouched open row
    assert (1, "alice@old", t0) in rows        # history preserved
    assert len(out) == 4
    # exactly one open row per key
    open_counts = {}
    for r in out:
        if r["valid_to"] is None:
            open_counts[r["k"]] = open_counts.get(r["k"], 0) + 1
    assert open_counts == {1: 1, 2: 1}

