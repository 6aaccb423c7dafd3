"""Ops-plane retention (reference C1-C3, SURVEY §2.8).

Local staging dirs (parity with ``util/cleanup.py``): age-based cleanup
and size-capped oldest-first eviction of the landing zone.

The eviction policy mirrors the reference exactly: delete oldest files
until total size ≤ ``target_ratio`` × cap (``util/cleanup.py:81-128``,
20 GB cap, 90% target).
"""

from __future__ import annotations

import time
from pathlib import Path

DEFAULT_MAX_AGE_DAYS = 7          # util/cleanup.py:13
DEFAULT_MAX_BYTES = 20 * 1024**3  # util/cleanup.py:12
DEFAULT_TARGET_RATIO = 0.9        # util/cleanup.py:117


def _files_by_mtime(folder: str | Path) -> list[tuple[Path, float, int]]:
    out = []
    for p in Path(folder).rglob("*"):
        try:
            if p.is_file():
                st = p.stat()
                out.append((p, st.st_mtime, st.st_size))
        except OSError:
            # a concurrent ingest/cleanup removed the file between
            # rglob and stat (review r11): skip it — the unlink side
            # already tolerates the same race via missing_ok=True, and
            # a crash here aborted the whole eviction pass
            continue
    out.sort(key=lambda x: x[1])  # O1: oldest first
    return out


def cleanup_old_files(folder: str | Path, max_age_days: float = DEFAULT_MAX_AGE_DAYS,
                      now: float | None = None) -> int:
    """C2: age-based retention."""
    cutoff = (now if now is not None else time.time()) - max_age_days * 86400
    removed = 0
    for p, mtime, _ in _files_by_mtime(folder):
        if mtime < cutoff:
            p.unlink(missing_ok=True)
            removed += 1
    return removed


def check_storage_and_cleanup(
    folder: str | Path,
    max_bytes: int = DEFAULT_MAX_BYTES,
    target_ratio: float = DEFAULT_TARGET_RATIO,
) -> int:
    """C3: size-capped eviction, oldest first, down to target_ratio×cap.

    The running-sum-until-threshold shape is O2 in SURVEY §2.5.
    """
    files = _files_by_mtime(folder)
    total = sum(sz for _, _, sz in files)
    if total <= max_bytes:
        return 0
    target = max_bytes * target_ratio
    removed = 0
    for p, _, sz in files:
        if total <= target:
            break
        p.unlink(missing_ok=True)
        total -= sz
        removed += 1
    return removed

