"""Cycle-and-query benchmark for the warehouse-backup engine.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload ingest_small_files --seed 1 \\
        --seconds 10 --trace 0

Workloads (closed loop, one client, ``local[nproc]``):

- ``ingest_small_files``: the daily cycle over a day of small dirty exports;
- ``ingest_large_files``: the same cycle over a few large same-profile files;
- ``query_mix``: a pass over seven contract queries, results collected.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the run also records layer spans and a Spark event log
and prints the per-layer metrics instead. Everything the run writes lives
under ``.perfbench_out/`` in the checkout: inputs, warehouses and scratch
are deleted at the end; ``result.json`` (and for a traced run
``spans.json`` and ``layers.json``) stay in the run's directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT_ROOT = ROOT / ".perfbench_out"
WORKLOADS = ("ingest_small_files", "ingest_large_files", "query_mix")
#: no unit starts after this many seconds of a run (the run must end < 180 s)
RUN_BUDGET_S = 120.0


# -- host ------------------------------------------------------------------

def host_sizing() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    # an eighth of the host's memory, 1-2 GiB: the host is shared, and the
    # inputs are sized so that 2 GiB never binds
    heap_mb = max(1024, min(2048, mem_kb // 8192))
    return {"cpus": cpus, "mem_total_mb": mem_kb // 1024, "heap_mb": heap_mb}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# -- session ---------------------------------------------------------------

def start_session(out: Path, host: dict, trace: bool):
    """Size the session for the host through ``get_spark`` arguments only."""
    from datawarehouse_backup_system_spark.session import get_spark

    tmp = out / "tmp"
    local = out / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    # the JVM, its Python workers and the package's scratch roots inherit
    # these; -UsePerfData keeps both JVMs out of the system temp dir
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = str(tmp)
    n = host["cpus"]
    conf = {
        "spark.driver.memory": f"{host['heap_mb']}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(local),
        "spark.sql.warehouse.dir": str(out / "spark-warehouse"),
        # a fixed-size, pre-touched heap: peak RSS must not depend on when
        # the JVM grew the heap or how much of it a run happened to touch
        "spark.driver.extraJavaOptions":
            f"-Xms{host['heap_mb']}m -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        log_dir = out / "eventlog"
        log_dir.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=conf)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


# -- metrics ---------------------------------------------------------------

E2E_UNITS = {
    "setup_s": "s", "cycle_s": "s", "ops_per_s": "1/s", "rows_per_s": "1/s",
    "ok_frac": "frac", "peak_rss_mb": "MB",
}


def e2e_metrics(res, setup_s: float, rss: float) -> dict:
    busy = sum(res.unit_s)
    values = {
        "setup_s": setup_s,
        "cycle_s": statistics.median(res.unit_s),
        "ops_per_s": res.ops / busy,
        "rows_per_s": res.rows / busy,
        "ok_frac": 1.0 - res.failed / res.attempted,
        "peak_rss_mb": rss,
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}


def untraced_baseline(workload: str) -> list[float]:
    """cycle_s of earlier untraced runs of this workload in this checkout."""
    out = []
    for p in OUT_ROOT.glob(f"{workload}-*/result.json"):
        try:
            r = json.loads(p.read_text())
            if r.get("trace") == 0:
                out.append(r["result"]["metrics"]["cycle_s"]["value"])
        except (OSError, ValueError, KeyError):
            continue
    return out


# -- main --------------------------------------------------------------------

def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the package and the oracle helper come from the checkout
    sys.path[:0] = [str(ROOT), str(ROOT / "tools")]
    import datawarehouse_backup_system_spark  # noqa: F401 — fail before any work

    import layers
    import spans as trace_mod
    import workloads as wl

    host = host_sizing()
    out = OUT_ROOT / f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    try:
        return _run(args, t_start, host, out, layers, trace_mod, wl)
    finally:
        for sub in ("ingest", "sf", "tmp", "spark-local", "spark-warehouse",
                    "duckdb", "eventlog"):
            shutil.rmtree(out / sub, ignore_errors=True)


def _run(args, t_start: float, host: dict, out: Path, layers, trace_mod, wl) -> int:
    steal0, total0 = cpu_ticks()
    load0 = loadavg()
    spark = None
    try:
        spark, session_s = start_session(out, host, bool(args.trace))
        tracer = trace_mod.Tracer(spark.sparkContext) if args.trace else trace_mod.NullTracer()
        ctx = wl.Ctx(spark, args.seed, args.seconds, out, tracer,
                     deadline=t_start + RUN_BUDGET_S)
        if args.trace:
            trace_mod.install_layer_wrappers(tracer)
        runner = (wl.QueryRunner(ctx) if args.workload == "query_mix"
                  else wl.IngestRunner(ctx, args.workload))
        res = runner.run()
        setup_s = res.setup_done - t_start
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = peak_rss_mb() + peak_rss_mb(jvm_pid)
    finally:
        if args.trace and spark is not None:
            tracer.restore()
        if spark is not None:
            stop_session(spark)
    steal1, total1 = cpu_ticks()

    if args.trace:
        jobs, stages = trace_mod.fold_event_log(out / "eventlog")
        costs = trace_mod.span_costs(tracer.spans, jobs, stages)
        metrics = layers.layer_metrics(
            tracer.spans, costs, res, session_s, untraced_baseline(args.workload))
        tracer.dump(out / "spans.json", costs)
        (out / "layers.json").write_text(json.dumps(metrics, indent=1))
    else:
        metrics = e2e_metrics(res, setup_s, rss)
    result = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host,
        "steal_frac": (steal1 - steal0) / max(total1 - total0, 1),
        "loadavg_start": load0, "loadavg_end": loadavg(),
        "session_s": session_s, "unit_s": res.unit_s, "problems": res.problems[:50],
        "result": result,
    }
    (out / "result.json").write_text(json.dumps(record, indent=1))
    print(json.dumps({k: record[k] for k in
                      ("host", "steal_frac", "loadavg_start", "loadavg_end", "problems")}),
          file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
