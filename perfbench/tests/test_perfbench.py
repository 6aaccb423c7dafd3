"""The benchmark's own tests.

Run from the root of a checkout::

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import dataclasses
import json
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT), str(ROOT / "tools")]

import landing  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import tables  # noqa: E402
import workloads  # noqa: E402

TINY = landing.Shape(main_files=2, rows_per_file=60, dirty=True, zipped_main=0,
                     history_rows=300)


def _tree_bytes(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes()
            for p in sorted(root.rglob("*")) if p.is_file()}


def _generate(seed: int, root: Path) -> landing.LandingGenerator:
    g = landing.LandingGenerator(seed, TINY, root)
    g.write_registry()
    g.write_history(root / "warehouse" / landing.TABLE, 0, 2)
    g.make_archive_day(0)
    g.make_day(7)
    g.make_day(8)
    return g


def test_same_seed_gives_identical_landing_files(tmp_path):
    a = _generate(5, tmp_path / "a")
    b = _generate(5, tmp_path / "b")
    files_a = _tree_bytes(a.landing)
    assert files_a == _tree_bytes(b.landing)
    assert len(files_a) == 2 + 2 * len(a._kinds())
    assert files_a != _tree_bytes(_generate(6, tmp_path / "c").landing)


def test_same_seed_gives_identical_tables(tmp_path):
    tables.write_tables(3, tmp_path / "a")
    tables.write_tables(3, tmp_path / "b")
    assert _tree_bytes(tmp_path / "a") == _tree_bytes(tmp_path / "b")


def test_oracle_predicts_every_dedup_path(tmp_path):
    g = _generate(5, tmp_path)
    day = g.make_day(9)
    by_status = {f.status for f in day.files}
    assert by_status == {landing.UPLOADED, landing.EMPTY, landing.NO_SCHEMA,
                         landing.COLUMN_MISMATCH, landing.EXTRACTION_FAILED}
    uploaded = [f for f in day.files if f.status == landing.UPLOADED]
    # within-file, cross-file and history duplicates are all dropped
    assert all(0 < f.rows_loaded < f.rows_in for f in uploaded)


def test_printed_names_match_benchmark_json(tmp_path):
    decl = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in decl["workloads"]] == list(run.WORKLOADS)
    res = workloads.Outcome(unit_s=[2.0], ops=3, rows=9, attempted=4)
    e2e = run.e2e_metrics(res, setup_s=5.0, rss=100.0)
    assert [m["name"] for m in decl["end_to_end"]] == list(e2e)
    assert all(e2e[m["name"]]["unit"] == m["unit"] for m in decl["end_to_end"])
    per_layer = layers.layer_metrics([], {}, res, 1.0, [])
    assert [m["name"] for m in decl["per_layer"]] == list(per_layer)
    assert all(per_layer[m["name"]]["unit"] == m["unit"] for m in decl["per_layer"])


@pytest.fixture(scope="module")
def spark():
    """The process's session (left running: other suites in the same
    process may share it)."""
    from datawarehouse_backup_system_spark.session import get_spark

    return get_spark(app_name="perfbench-test", master="local[2]", shuffle_partitions=2,
                     extra_conf={"spark.driver.memory": "1g",
                                 "spark.ui.showConsoleProgress": "false"})


def _ctx(spark, tmp_path) -> workloads.Ctx:
    return workloads.Ctx(spark, seed=11, seconds=0, out=tmp_path,
                         deadline=float("inf"))


def test_oracle_agrees_with_a_clean_cycle(spark, tmp_path, monkeypatch):
    monkeypatch.setitem(landing.SHAPES, "ingest_small_files", TINY)
    res = workloads.IngestRunner(_ctx(spark, tmp_path), "ingest_small_files").run()
    assert res.problems == []
    assert res.failed == 0
    # one check per file plus five per cycle, one cycle
    n_files = len(landing.LandingGenerator(0, TINY, tmp_path)._kinds())
    assert res.attempted == n_files + 5
    assert len(res.unit_s) == 1 and res.rows > 0


def test_checks_catch_a_wrong_expectation(spark, tmp_path, monkeypatch):
    monkeypatch.setitem(landing.SHAPES, "ingest_small_files", TINY)
    runner = workloads.IngestRunner(_ctx(spark, tmp_path), "ingest_small_files")
    runner.gen.write_history(runner.table_dir, 0, 1)
    day = runner.gen.make_day(7)
    day.files = [dataclasses.replace(f, rows_loaded=f.rows_loaded + 1)
                 if f.status == landing.UPLOADED else f for f in day.files]
    runner.gen.watermark += sum(f.status == landing.UPLOADED for f in day.files)
    res = workloads.Outcome()
    runner.cycle(day, res)
    wrong = [p for p in res.problems if "file last24h__" in p]
    assert len(wrong) == sum(f.status == landing.UPLOADED for f in day.files)
