"""Per-layer metrics of a traced run, named by package path.

Every metric is reported on every workload; a layer a workload never
calls reads 0 there (the query mix makes no ingest calls, the ingest
workloads run no queries). Times are sums of the layer's top-level spans
over the measured units; job, byte and overhead figures come from the
event log through :func:`spans.span_costs`.
"""

from __future__ import annotations

import statistics

import workloads

_S, _N, _B, _F = "s", "count", "bytes", "frac"

LAYER_UNITS: dict[str, str] = {
    "session.start_s": _S,
    "catalog.discover_s": _S,
    "csv_source.sniff_s": _S,
    "csv_source.unzip_s": _S,
    "csv_source.scan_plan_s": _S,
    "csv_source.scan_jobs": _N,
    "ingest.files": _N,
    "ingest.wall_s": _S,
    "ingest.file_s.p50": _S,
    "ingest.file_s.max": _S,
    "ingest.jobs": _N,
    "ingest.jobs_per_file": _N,
    "ingest.overhead_s": _S,
    "ingest.overhead_frac": _F,
    "ingest.rerun_s": _S,
    "ingest.storage_amp": "ratio",
    "ingest.data_files_added": _N,
    "table_format.append_s": _S,
    "table_format.append_jobs": _N,
    "table_format.append_executor_s": _S,
    "table_format.append_shuffle_bytes": _B,
    "table_format.append_spill_bytes": _B,
    "table_format.read_s": _S,
    "table_format.recover_s": _S,
    "table_format.lease_s": _S,
    "ids.watermark_s": _S,
    "hash_index.live_pairs_s": _S,
    "ledger.append_s": _S,
    "ledger.append_jobs": _N,
    "ledger.processed_set_s": _S,
    "export.watermarks_s": _S,
    "retention.age_s": _S,
    "retention.cap_s": _S,
    "retention.files_removed": _N,
    **{f"queries.{q}.{m}": u for q in workloads.MIX
       for m, u in (("s", _S), ("jobs", _N), ("overhead_s", _S))},
    "queries.jobs_total": _N,
    "queries.wall_s": _S,
    "queries.overhead_frac": _F,
    "trace.cycle_s": _S,
    "trace.overhead_frac": _F,
    "trace.baseline_runs": _N,
}


def _top_level(spans: list, name: str) -> list:
    """Spans called ``name`` that have no ancestor of the same name."""
    by_id = {s.id: s for s in spans}
    out = []
    for s in spans:
        if s.name != name:
            continue
        p = s.parent
        while p is not None and by_id[p].name != name:
            p = by_id[p].parent
        if p is None:
            out.append(s)
    return out


def layer_metrics(spans: list, costs: dict, res, session_s: float,
                  baseline: list[float]) -> dict:
    """``costs`` are :func:`spans.span_costs` of ``spans``; ``baseline`` the
    ``cycle_s`` of earlier untraced runs."""
    v = {k: 0.0 for k in LAYER_UNITS}

    def total(name: str, attr: str = "wall") -> float:
        return sum(getattr(costs[s.id], attr) for s in _top_level(spans, name))

    v["session.start_s"] = session_s
    v["catalog.discover_s"] = total("catalog.discover")
    v["csv_source.sniff_s"] = total("csv_source.sniff")
    v["csv_source.unzip_s"] = total("csv_source.unzip")
    v["csv_source.scan_plan_s"] = total("csv_source.scan_plan")
    v["csv_source.scan_jobs"] = total("csv_source.scan_plan", "jobs")

    files = [costs[s.id] for s in _top_level(spans, "ingest.file")]
    if files:
        walls = [c.wall for c in files]
        v["ingest.files"] = len(files)
        v["ingest.wall_s"] = sum(walls)
        v["ingest.file_s.p50"] = statistics.median(walls)
        v["ingest.file_s.max"] = max(walls)
        v["ingest.jobs"] = sum(c.jobs for c in files)
        v["ingest.jobs_per_file"] = v["ingest.jobs"] / len(files)
        v["ingest.overhead_s"] = sum(c.overhead_s for c in files)
        v["ingest.overhead_frac"] = v["ingest.overhead_s"] / v["ingest.wall_s"]
    for key in ("rerun_s", "storage_amp", "data_files_added"):
        if res.extra.get(key):
            v[f"ingest.{key}"] = statistics.median(res.extra[key])

    v["table_format.append_s"] = total("table_format.append")
    v["table_format.append_jobs"] = total("table_format.append", "jobs")
    v["table_format.append_executor_s"] = total("table_format.append", "executor_s")
    v["table_format.append_shuffle_bytes"] = total("table_format.append", "shuffle_bytes")
    v["table_format.append_spill_bytes"] = total("table_format.append", "spill_bytes")
    v["table_format.read_s"] = total("table_format.read")
    v["table_format.recover_s"] = total("table_format.recover")
    v["table_format.lease_s"] = total("table_format.lease")
    v["ids.watermark_s"] = total("ids.watermark")
    v["hash_index.live_pairs_s"] = total("hash_index.live_pairs")
    v["ledger.append_s"] = total("ledger.append")
    v["ledger.append_jobs"] = total("ledger.append", "jobs")
    v["ledger.processed_set_s"] = total("ledger.processed_set")
    v["export.watermarks_s"] = total("export.watermarks")
    v["retention.age_s"] = total("retention.age")
    v["retention.cap_s"] = total("retention.cap")
    v["retention.files_removed"] = sum(
        s.counts.get("files_removed", 0)
        for s in spans if s.name.startswith("retention."))

    q_wall = q_over = 0.0
    for q in workloads.MIX:
        qs = [costs[s.id] for s in _top_level(spans, f"query:{q}")]
        if not qs:
            continue
        v[f"queries.{q}.s"] = statistics.median(c.wall for c in qs)
        v[f"queries.{q}.jobs"] = statistics.median(c.jobs for c in qs)
        v[f"queries.{q}.overhead_s"] = statistics.median(c.overhead_s for c in qs)
        v["queries.jobs_total"] += sum(c.jobs for c in qs)
        q_wall += sum(c.wall for c in qs)
        q_over += sum(c.overhead_s for c in qs)
    v["queries.wall_s"] = q_wall
    if q_wall:
        v["queries.overhead_frac"] = q_over / q_wall

    v["trace.cycle_s"] = statistics.median(res.unit_s)
    v["trace.baseline_runs"] = len(baseline)
    if baseline:
        v["trace.overhead_frac"] = v["trace.cycle_s"] / statistics.median(baseline) - 1.0
    return {k: {"value": x, "unit": LAYER_UNITS[k]} for k, x in v.items()}
