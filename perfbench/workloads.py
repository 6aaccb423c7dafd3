"""The benchmark's three workloads, driven through the package's public calls.

Each workload runs as a closed loop with one client: one ingest cycle or
one query at a time. ``setup`` (session start, input generation, history
build) happens before the first measured unit; units then repeat until
the run's ``--seconds`` have elapsed (at least one). Every unit is
checked, untimed, after it ran; each failed check counts into ``failed``.

The first unit runs in a fresh session, as a scheduled daily run does:
its JIT and first-job costs are part of what a cycle or a report pays.
Warm units are not steady on a shared 4-core host: passes of the query
mix kept getting faster for four passes after a warm-up pass, by how much
depending on CPU steal, and their median spread ~35 % between runs. At
the benchmark's run length a run measures exactly one cold unit.
"""

from __future__ import annotations

import json
import re
import time
from dataclasses import dataclass, field
from pathlib import Path

import landing
import tables
from spans import NullTracer

#: the query mix; see README.md for why these seven
MIX = (
    "q05_self_dedup_first",
    "q06_crossfile_dedup",
    "q42_rollup_cascade",
    "g05_kcore",
    "t26_bigram_lm",
    "d02_minhash_lsh",
    "d14_containment_join",
)


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    out: Path
    tracer: object = field(default_factory=NullTracer)
    deadline: float = 0.0     # perf_counter() after which no unit starts


@dataclass
class Outcome:
    """What a workload hands back to run.py."""

    setup_done: float = 0.0                            # perf_counter()
    unit_s: list[float] = field(default_factory=list)  # one per measured unit
    ops: int = 0
    rows: int = 0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)          # per-layer extras

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


def _keep_going(ctx: Ctx, started: float, units: int) -> bool:
    now = time.perf_counter()
    return units == 0 or (now - started < ctx.seconds and now < ctx.deadline)


# -- ingest ----------------------------------------------------------------

def _tree(path: Path) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = files = 0
    for p in path.rglob("*"):
        if p.is_file():
            size += p.stat().st_size
            files += p.suffix == ".parquet"
    return size, files


def _listing(root: Path) -> set[Path]:
    return {p for p in root.rglob("*") if p.is_file()}


class IngestRunner:
    HISTORY_DAYS = 3
    FIRST_DAY = landing.RETENTION_DAYS    # days before it are archive only

    def __init__(self, ctx: Ctx, workload: str):
        from datawarehouse_backup_system_spark.registry import SchemaRegistry

        self.ctx = ctx
        self.root = ctx.out / "ingest"
        self.gen = landing.LandingGenerator(ctx.seed, landing.SHAPES[workload], self.root)
        self.schema_path, rename_path = self.gen.write_registry()
        self.registry = SchemaRegistry.from_files(self.schema_path, rename_path)
        self.warehouse = self.root / "warehouse"
        self.table_dir = self.warehouse / landing.TABLE

    def job(self, day: landing.Day):
        from datawarehouse_backup_system_spark.plans.ingest import IngestJob

        # the exact single-window id strategy: the default distributed one
        # assigns duplicate ids on multi-partition files (see README.md)
        return IngestJob(self.ctx.spark, self.registry, self.warehouse,
                         ingest_date=day.date, id_strategy="global")

    def run(self) -> Outcome:
        res = Outcome()
        self.gen.write_history(self.table_dir, 0, self.HISTORY_DAYS)
        for d in range(self.FIRST_DAY):
            self.gen.make_archive_day(d)
        res.setup_done = time.perf_counter()
        started, d = res.setup_done, self.FIRST_DAY
        while _keep_going(self.ctx, started, len(res.unit_s)):
            day = self.gen.make_day(d)        # untimed: input arrives
            self.cycle(day, res)
            d += 1
        return res

    def cycle(self, day: landing.Day, res: Outcome) -> None:
        """Steps 1-8 of the daily cycle, then the immediate re-run."""
        from datawarehouse_backup_system_spark.operators import retention

        tr = self.ctx.tracer
        job = self.job(day)
        prior_wm = self.gen.watermark - day.rows_loaded
        before = _listing(self.gen.landing)
        wh_bytes0, wh_files0 = _tree(self.table_dir)
        ledger_bytes0, _ = _tree(self.warehouse / "_ledger")
        cap = 10 * sum(p.stat().st_size for p in before)
        wm_out = self.root / f"watermarks-{day.index}.json"

        t0 = time.perf_counter()
        with tr.span("cycle"):
            results = job.run(day.dir)
            job.export_watermarks(self.schema_path, wm_out)
            with tr.span("retention.age") as s:
                removed_age = retention.cleanup_old_files(
                    self.gen.landing, landing.RETENTION_DAYS,
                    now=landing.retention_now(day.index))
            with tr.span("retention.cap") as s2:
                removed_cap = retention.check_storage_and_cleanup(
                    self.gen.landing, max_bytes=cap)
            if s is not None:
                s.counts["files_removed"] = removed_age
                s2.counts["files_removed"] = removed_cap
        cycle_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        with tr.span("rerun"):
            rerun = job.run(day.dir)
        rerun_s = time.perf_counter() - t1

        with tr.paused():
            self.check(day, job, res, results, rerun, wm_out, before,
                       removed_age, removed_cap, prior_wm)
        wh_bytes1, wh_files1 = _tree(self.table_dir)
        ledger_bytes1, _ = _tree(self.warehouse / "_ledger")
        res.unit_s.append(cycle_s)
        res.ops += len(results)
        res.rows += sum(r.rows_loaded for r in results)
        ex = res.extra
        ex.setdefault("rerun_s", []).append(rerun_s)
        ex.setdefault("storage_amp", []).append(
            (wh_bytes1 - wh_bytes0 + ledger_bytes1 - ledger_bytes0) / day.landing_bytes)
        ex.setdefault("data_files_added", []).append(wh_files1 - wh_files0)

    def check(self, day, job, res, results, rerun, wm_out, before,
              removed_age, removed_cap, prior_wm) -> None:
        """Untimed correctness checks, one count per file and five per cycle."""
        from pyspark.sql import functions as F

        got = {r.file_name: r for r in results}
        names = [f.name for f in day.files]
        ledger_rows = (
            job.ledger.read().where(F.col("file_name").isin(names))
            .select("file_name", "status").collect()
        )
        ledgered = {r["file_name"]: r["status"] for r in ledger_rows}
        for f in day.files:
            r = got.get(f.name)
            ok = (r is not None and r.status == f.status
                  and r.rows_loaded == f.rows_loaded
                  and (f.status != landing.UPLOADED or r.rows_in == f.rows_in)
                  and ledgered.get(f.name) == f.status)
            res.check(ok, f"day {day.index} file {f.name}: got "
                          f"{(r.status, r.rows_in, r.rows_loaded) if r else None}, "
                          f"ledger {ledgered.get(f.name)!r}, expected "
                          f"{(f.status, f.rows_in, f.rows_loaded)}")
        res.check(len(results) == len(day.files),
                  f"day {day.index}: {len(results)} results for {len(day.files)} files")

        schema = self.registry.get(landing.REGISTRY_KEY)
        today = F.col("ingest_date") == F.lit(day.date).cast("date")
        s = job.read_table(schema).agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("row_hash").alias("hashes"),
            F.max("id").alias("max_id"),
            F.sum(today.cast("int")).alias("n_today"),
            F.min(F.when(today, F.col("id"))).alias("lo"),
            F.max(F.when(today, F.col("id"))).alias("hi"),
            F.countDistinct(F.when(today, F.col("id"))).alias("ids_today"),
        ).collect()[0]
        n_new = day.rows_loaded
        dense = (s["n_today"] or 0) == n_new and s["ids_today"] == n_new and (
            n_new == 0 or (s["lo"] == prior_wm + 1 and s["hi"] == prior_wm + n_new))
        res.check(dense and s["n"] == self.gen.watermark and s["hashes"] == s["n"]
                  and s["max_id"] == self.gen.watermark,
                  f"day {day.index} table: {s.asDict()}, expected watermark "
                  f"{prior_wm}+{n_new}")

        last_id = json.loads(wm_out.read_text())[landing.REGISTRY_KEY]["last_id"]
        res.check(last_id == self.gen.watermark,
                  f"day {day.index} exported last_id {last_id} != {self.gen.watermark}")

        res.check(sum(r.rows_loaded for r in rerun) == 0 and not rerun,
                  f"day {day.index} re-run handled {len(rerun)} files")

        after = _listing(self.gen.landing)
        cutoff = landing.day_date(day.index - landing.RETENTION_DAYS).replace("-", "")
        expected_gone = {p for p in before if p.parent.name <= cutoff}
        res.check(before - after == expected_gone
                  and removed_age == len(expected_gone) and removed_cap == 0,
                  f"day {day.index} retention removed {removed_age}+{removed_cap}, "
                  f"expected {len(expected_gone)}+0")


# -- query mix ---------------------------------------------------------------

class QueryRunner:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def run(self) -> Outcome:
        import duckdb

        import __spark_entry__ as entry
        from check_oracle import compare

        ctx, res = self.ctx, Outcome()
        sf = ctx.out / "sf"
        counts = tables.write_tables(ctx.seed, sf)
        specs, oracle = entry.queries(), entry.oracle_sql()
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{ctx.out / 'duckdb'}'")
        for t in counts:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf / t}.parquet')")
        expected = {q: con.execute(oracle[q]).fetchdf() for q in MIX}
        con.close()
        # rows each query reads: the tables its oracle SQL names
        rows_in = {q: sum(n for t, n in counts.items()
                          if re.search(rf"\b{t}\b", oracle[q])) for q in MIX}

        res.setup_done = time.perf_counter()
        started = res.setup_done
        while _keep_going(ctx, started, len(res.unit_s)):
            got: dict = {}
            errors: dict = {}
            t0 = time.perf_counter()
            with ctx.tracer.span("pass"):
                self.one_pass(specs, str(sf), got, errors)
            res.unit_s.append(time.perf_counter() - t0)
            res.ops += len(MIX)
            res.rows += sum(rows_in.values())
            for q in MIX:
                if q not in got:
                    res.check(False, f"{q}: {errors[q]}")
                    continue
                exact, _close, msg = compare(got[q], expected[q])
                res.check(exact, f"{q}: {msg}")
        return res

    def one_pass(self, specs, sf: str, got: dict, errors: dict) -> None:
        """Each query once, results collected to the driver, in mix order."""
        for q in MIX:
            try:
                with self.ctx.tracer.span(f"query:{q}"):
                    pdf = specs[q](self.ctx.spark, sf).toPandas()
            except Exception as exc:  # noqa: BLE001 — a failed query is a counted failure
                errors[q] = f"{type(exc).__name__}: {exc}"[:300]
                continue
            got[q] = pdf
