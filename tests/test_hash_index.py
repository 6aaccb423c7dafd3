"""Bucketed row-hash index for J2 (plans/hash_index.py): plan contract
(one Exchange, batch side only), e2e parity with the plain path across
cycles, and the self-healing validity rules (fallback, catch-up,
rolled-back writes, retention drops)."""

from __future__ import annotations

import pytest

from fixtures import generate_f1

import test_ingest as ti
from datawarehouse_backup_system_spark.plans import hash_index


@pytest.fixture()
def indexed_env(monkeypatch):
    """Force the index regime at test scale."""
    monkeypatch.setattr(hash_index, "_INDEX_MIN_BYTES", 1)
    monkeypatch.setattr(hash_index, "_INDEX_BUCKETS", 4)


def test_indexed_j2_plan_one_exchange_batch_side_only(
    spark, tmp_path, indexed_env
):
    """VERDICT r10 item 6 'done' bar: the production ingest J2 above the
    footprint threshold plans exactly ONE shuffle Exchange — the batch
    side aligning to the index bucketing; the history side reads
    co-located buckets with zero Exchange."""
    fx = generate_f1(tmp_path)
    job = ti.make_job(spark, tmp_path, fx)
    assert job.process_file(fx["files"][0]).rows_loaded > 0

    schema = job.registry.get("mini_campaign_events")
    batch = job.read_table(schema).select("row_hash").limit(50)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        fresh = job._dedup_against_history(batch, schema)
        plan = fresh._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert fresh.count() == 0  # every probed hash is already history


def test_indexed_cycles_match_plain_path_exactly(
    spark, tmp_path, indexed_env, monkeypatch
):
    """E2E parity: a full multi-file run under the index regime must
    produce byte-identical table content (same survivors, same dense
    ids) as the plain-path run on the same fixtures."""
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    fx_a = generate_f1(tmp_path / "a")
    job_a = ti.make_job(spark, tmp_path / "a", fx_a)
    res_a = job_a.run(tmp_path / "a")

    monkeypatch.setattr(hash_index, "_INDEX_MIN_BYTES", 1 << 60)
    fx_b = generate_f1(tmp_path / "b")
    job_b = ti.make_job(spark, tmp_path / "b", fx_b)
    res_b = job_b.run(tmp_path / "b")
    monkeypatch.setattr(hash_index, "_INDEX_MIN_BYTES", 1)

    assert [r.status for r in res_a] == [r.status for r in res_b]
    assert [r.rows_loaded for r in res_a] == [r.rows_loaded for r in res_b]
    ta = job_a.read_table(job_a.registry.get("mini_campaign_events"))
    tb = job_b.read_table(job_b.registry.get("mini_campaign_events"))
    cols = sorted(set(ta.columns) - {"ingest_date"})
    rows_a = sorted(map(tuple, ta.select(*cols).collect()))
    rows_b = sorted(map(tuple, tb.select(*cols).collect()))
    assert rows_a == rows_b

    # idempotency still holds through the index: second cycle no-op
    assert job_a.run(tmp_path / "a") == []
    # and a replayed duplicate FILE still dedups to zero new rows
    dup = tmp_path / "a" / "last24h__replay.csv"
    dup.write_bytes(fx_a["files"][0].read_bytes())
    replay = job_a.run(tmp_path / "a")
    assert [r.rows_loaded for r in replay] == [0]


def test_index_ignores_rolled_back_write_like_plain_read(
    spark, tmp_path, indexed_env
):
    """Rolled-back/vacuumed writes: their files vanish from the live
    listing, so the live-pair semi-join filters their (already indexed)
    hashes out and those rows re-ingest — plain-path semantics, with no
    index rewrite."""
    import os

    from datawarehouse_backup_system_spark.plans import hash_index

    fx = generate_f1(tmp_path)
    job = ti.make_job(spark, tmp_path, fx)
    schema = job.registry.get("mini_campaign_events")
    tp = job.table_path(schema)

    r0 = job.process_file(fx["files"][0])
    pairs0, _files0, _b0 = hash_index.live_write_pairs(tp)
    r1 = job.process_file(fx["files"][1])
    assert r0.rows_loaded > 0 and r1.rows_loaded > 0

    # index both writes
    probe = job.read_table(schema).select("row_hash").limit(1)
    job._dedup_against_history(probe, schema).count()

    # simulate file-0's write being rolled away AFTER it was indexed
    pairs1, files1, _b1 = hash_index.live_write_pairs(tp)
    for key in pairs0:
        for f in files1[key]:
            os.unlink(f)
    spark.catalog.refreshByPath(str(tp))

    # file-0's rows are novel again (its unique hashes re-enter); the
    # surviving write's rows still dedup to zero
    dup0 = tmp_path / "last24h__re0.csv"
    dup0.write_bytes(fx["files"][0].read_bytes())
    assert job.process_file(dup0).rows_loaded == r0.rows_loaded
    dup1 = tmp_path / "last24h__re1.csv"
    dup1.write_bytes(fx["files"][1].read_bytes())
    assert job.process_file(dup1).rows_loaded == 0


def test_index_refuses_unaccountable_files(spark, tmp_path, indexed_env):
    """A live data file outside the write-id naming (e.g. hand-copied
    parquet) makes the listing refuse: history_hash_frame returns None
    and the J2 auto-switch takes the plain path — never a wrong answer."""
    from datawarehouse_backup_system_spark.plans import hash_index

    fx = generate_f1(tmp_path)
    job = ti.make_job(spark, tmp_path, fx)
    job.process_file(fx["files"][0])
    schema = job.registry.get("mini_campaign_events")
    tp = job.table_path(schema)

    part = next(tp.glob("ingest_date=*"))
    spark.range(1).toPandas().to_parquet(part / "foreign.parquet")

    assert (
        hash_index.history_hash_frame(
            spark, tmp_path / "warehouse", tp, schema.table_name
        )
        is None
    )


def test_malformed_manifest_shape_rebootstraps_not_crashes(
    spark, tmp_path, indexed_env
):
    """A manifest that parses as JSON but has the wrong SHAPE (hand
    edit, truncated rewrite restored from backup) must read as absent —
    ``man["entries"]`` is consumed before history_hash_frame's fallback
    try, so without the shape gate this was a KeyError crashing the
    ingest cycle instead of the bootstrap re-read (r11 session review)."""
    import json

    from datawarehouse_backup_system_spark.plans import hash_index

    fx = generate_f1(tmp_path)
    job = ti.make_job(spark, tmp_path, fx)
    schema = job.registry.get("mini_campaign_events")
    r0 = job.process_file(fx["files"][0])
    assert r0.rows_loaded > 0

    # build the index, then corrupt the manifest four shape-level ways
    probe = job.read_table(schema).select("row_hash").limit(1)
    job._dedup_against_history(probe, schema).count()
    root = hash_index._index_root(
        tmp_path / "warehouse", schema.table_name
    )
    man_path = root / "manifest.json"
    good = json.loads(man_path.read_text())
    for bad in (
        ["not", "a", "dict"],
        {"entries": {}},  # n_buckets missing
        {"n_buckets": "4", "entries": {}},  # n_buckets not an int
        {"n_buckets": 4, "entries": {"w": "2020-01-01"}},  # dates not list
    ):
        man_path.write_text(json.dumps(bad))
        assert hash_index._read_manifest(root) is None
    # and the full J2 path survives it: re-bootstrap, still exact
    replay = tmp_path / "last24h__remanifest.csv"
    replay.write_bytes(fx["files"][0].read_bytes())
    assert job.process_file(replay).rows_loaded == 0
    # the re-bootstrap rewrote a well-formed manifest covering at least
    # every pair the intact one held (an empty-append write during the
    # replay cycle may add a pair; it must never lose one)
    reborn = hash_index._read_manifest(root)
    assert reborn is not None and reborn["n_buckets"] == good["n_buckets"]
    for w, dates in good["entries"].items():
        assert set(dates) <= set(reborn["entries"].get(w, []))


def test_retention_partition_drop_reflected_without_rebuild(
    spark, tmp_path, indexed_env
):
    """Retention drops a partition dir behind the index's back; the
    live-pair filter must stop matching those hashes with no index
    rewrite (a re-sent old row re-enters, as plain-path semantics say)."""
    import shutil

    fx = generate_f1(tmp_path)
    job = ti.make_job(spark, tmp_path, fx)
    schema = job.registry.get("mini_campaign_events")

    job.ingest_date = "2020-01-01"
    r0 = job.process_file(fx["files"][0])
    job.ingest_date = "2026-01-01"
    r1 = job.process_file(fx["files"][1])
    assert r0.rows_loaded > 0 and r1.rows_loaded > 0

    # index both partitions, then age out the 2020 one
    probe = job.read_table(schema).select("row_hash").limit(1)
    job._dedup_against_history(probe, schema).count()
    shutil.rmtree(job.table_path(schema) / "ingest_date=2020-01-01")

    # file-0's rows (disjoint from the surviving write by J1/J2
    # construction) are all novel again
    dup0 = tmp_path / "last24h__re0.csv"
    dup0.write_bytes(fx["files"][0].read_bytes())
    assert job.process_file(dup0).rows_loaded == r0.rows_loaded
