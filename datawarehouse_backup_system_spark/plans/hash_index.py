"""Live ``(write_id, ingest_date)`` listing of a write-id table.

J2 (the reference's cross-file dedup, util/data_processing.py:209-393)
is the plain history anti-join in :meth:`~.ingest.IngestJob.build_plan`;
no ingest step calls this module. :func:`live_write_pairs` stays only
because ``perfbench/spans.py`` wraps it by name when tracing
(``--trace 1``), and that run fails in ``install_layer_wrappers``
without it. It goes with the next benchmark change, like
``IngestJob.id_strategy``.
"""

from __future__ import annotations

import re
from pathlib import Path

_FILE_RE = re.compile(r"^w([0-9a-f]{8,32})-.*\.parquet$")
_PART_RE = re.compile(r"^ingest_date=(.+)$")


def live_write_pairs(
    table_path: Path,
) -> (
    tuple[set[tuple[str, str]], dict[tuple[str, str], list[str]], int]
    | None
):
    """The live ``(write_id, ingest_date)`` pair set, the data files
    carrying each pair, and the total data-file byte size, from ONE
    walk of the table's file listing (the files a plain read scans).
    Returns None when any live data file does not fit the write-id
    format's ``w<write_id>-`` naming under an ``ingest_date=`` dir."""
    pairs: set[tuple[str, str]] = set()
    files: dict[tuple[str, str], list[str]] = {}
    n_bytes = 0
    base = Path(table_path)
    if not base.exists():
        return set(), {}, 0
    for f in base.rglob("*.parquet"):
        rel = f.relative_to(base)
        if any(part.startswith(("_", ".")) for part in rel.parts):
            continue  # manifests/inflight — invisible to the read, skip
        m = _FILE_RE.match(f.name)
        pm = _PART_RE.match(f.parent.name)
        if not m or not pm:
            return None  # a live file the listing cannot account for
        key = (m.group(1), pm.group(1))
        pairs.add(key)
        files.setdefault(key, []).append(str(f))
        try:
            n_bytes += f.stat().st_size
        except OSError:
            pass
    return pairs, files, n_bytes
