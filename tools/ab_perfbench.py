#!/usr/bin/env python
"""Interleaved A/B of ``perfbench/run.py`` between two checkouts.

Each pair runs one untraced perfbench run (``--trace 0``) in checkout A
(the parent) and one in checkout B (the change) on the same seed; the
side that runs first alternates from pair to pair, and every pair gets
its own seed. Per workload the summary lists each pair's values of every
end-to-end metric declared in A's ``BENCHMARK.json``, each side's median
and Q1-Q3, how many pairs B won (ties count for neither side) and each
run's CPU steal and ``correct`` flag. It also says whether B's median is
inside the metric's bound. Usage::

    python tools/ab_perfbench.py PARENT_DIR CHANGE_DIR --pairs 10 \\
        --seed0 31001 --workload ingest_small_files --json ab.json

The script only runs the checkouts' own ``perfbench/run.py`` and reads
the ``result.json`` each run leaves under ``.perfbench_out/``; it imports
neither checkout.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

SIDES = ("A", "B")


def run_once(checkout: Path, workload: str, seed: int, seconds: float) -> dict:
    """One untraced perfbench run; its ``result.json`` record, or an error."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.Popen(cmd, cwd=checkout, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)
    try:
        _, err = proc.communicate(timeout=600)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        return {"error": "timeout after 600 s"}
    # run.py names its output directory after its own pid
    out = checkout / ".perfbench_out" / f"{workload}-s{seed}-t0-p{proc.pid}"
    if proc.returncode != 0 or not (out / "result.json").is_file():
        return {"error": f"exit {proc.returncode}: {err[-500:]}"}
    return json.loads((out / "result.json").read_text())


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(workload: str, pairs: list[dict], metrics: list[dict]) -> dict:
    print(f"\n== {workload}: {len(pairs)} pairs")
    for p in pairs:
        cells = []
        for side in SIDES:
            r = p[side]
            if "error" in r:
                cells.append(f"{side} ERROR {r['error'][:80]!r}")
                continue
            cyc = r["result"]["metrics"]["cycle_s"]["value"]
            cells.append(f"{side} cycle_s={cyc:.3f} steal={r['steal_frac']:.3f} "
                         f"correct={r['result']['correct']}")
        print(f"  seed {p['seed']} first={p['first']}: " + " | ".join(cells))
    ok = [p for p in pairs if all("error" not in p[s] for s in SIDES)]
    summary = {}
    for m in metrics if ok else ():
        name, lower = m["name"], m["better"] == "lower"
        vals = {s: [p[s]["result"]["metrics"][name]["value"] for p in ok] for s in SIDES}
        wins = sum((b < a) if lower else (b > a) for a, b in zip(vals["A"], vals["B"]))
        qa, qb = quartiles(vals["A"]), quartiles(vals["B"])
        worse = (qb[1] - qa[1]) if lower else (qa[1] - qb[1])
        rel = worse / abs(qa[1]) if qa[1] else 0.0
        summary[name] = {"A": vals["A"], "B": vals["B"], "A_q": qa, "B_q": qb,
                         "B_wins": wins, "B_worse_frac": rel,
                         "inside_bound": rel <= m["bound"]}
        print(f"  {name}: A {qa[1]:.4g} [{qa[0]:.4g}-{qa[2]:.4g}]  "
              f"B {qb[1]:.4g} [{qb[0]:.4g}-{qb[2]:.4g}]  B won {wins}/{len(ok)}  "
              f"B worse by {rel:+.1%} (bound {m['bound']:.0%}"
              f"{'' if rel <= m['bound'] else ', EXCEEDED'})")
        print("    pairs A->B: " + ", ".join(
            f"{a:.4g}->{b:.4g}" for a, b in zip(vals["A"], vals["B"])))
    return summary


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a", type=Path, help="parent checkout")
    ap.add_argument("b", type=Path, help="changed checkout")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, required=True,
                    help="pair i runs seed0 + i on both sides")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--json", type=Path, help="write every run record here")
    args = ap.parse_args(argv)
    a, b = args.a.resolve(), args.b.resolve()
    bench = json.loads((a / "BENCHMARK.json").read_text())
    seconds = args.seconds or bench["run_seconds"]

    report = {}
    for workload in args.workload:
        pairs = []
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run_once(a if side == "A" else b, workload, seed, seconds)
            pairs.append(pair)
            print(f"[{workload}] pair {i + 1}/{args.pairs} seed {seed} done",
                  file=sys.stderr, flush=True)
        report[workload] = {"pairs": pairs,
                            "summary": summarize(workload, pairs, bench["end_to_end"])}
        if args.json:
            args.json.write_text(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
