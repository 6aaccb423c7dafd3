#!/usr/bin/env python
"""Interleaved A/B of g05 core_numbers staging cadence (VERDICT r11 #3).

Alternates core_numbers(stage_every=1) (per-round staging) vs
stage_every=6 (the chunked auto tier) on g05's own edges and round cap
inside ONE Spark session, so host drift hits both arms equally.
Usage: python tools/ab_kcore.py <sf_dir> <reps>
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from datawarehouse_backup_system_spark.session import get_spark  # noqa: E402


def _stat():
    return [int(x) for x in open("/proc/stat").readline().split()[1:11]]


def main() -> int:
    sf_dir, reps = sys.argv[1], int(sys.argv[2])
    from datawarehouse_backup_system_spark.operators.graph import core_numbers
    from datawarehouse_backup_system_spark.queries import round9_ext

    spark = get_spark(app_name="ab-kcore")
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    res = {1: [], 6: []}
    s0 = _stat()
    for rep in range(reps):
        for v in res:
            spark.catalog.clearCache()
            t0 = time.time()
            core_numbers(
                round9_ext._session_edges_pow3(spark, sf_dir),
                iterations=round9_ext._G05_ROUNDS,
                stage_every=v,
            ).write.format("noop").mode("overwrite").save()
            res[v].append(round(time.time() - t0, 3))
    s1 = _stat()
    d = [b - a for a, b in zip(s0, s1)]
    print("steal_pct %.2f" % (100.0 * d[7] / sum(d[:8])))
    for v, r in res.items():
        print(f"stage_every={v}: min {min(r):.2f} med {sorted(r)[len(r)//2]:.2f} {r}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
