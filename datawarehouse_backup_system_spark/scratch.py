"""Process-scoped staging lifecycles, shared by every operator that
stages data whose LAZY consumers outlive the staging call: scratch
roots on disk (u05's scratch warehouses, WCC round files, bench
staging) and the persist slot in executor storage (:data:`persist_slot`).

One convention, one implementation (review r8 — it previously lived as
three line-for-line copies whose sweep prefixes had to be kept in sync
by hand):

- roots are created under the system temp dir as ``{prefix}p{pid}-…``
  so liveness is decidable from the NAME;
- every root is swept at process exit (atexit) — but not before, since
  a lazily-evaluated DataFrame may re-read it at any time;
- a SIGKILLed process never reaches atexit, so callers run
  :func:`sweep_stale_scratch` at startup: pid-format roots are removed
  exactly when their owner pid is dead, legacy pid-less roots only
  past a 24 h age gate (ADVICE r7: a 1 h gate could yank a still-live
  session's warehouse).
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile
import threading
import time
from pathlib import Path

#: every scratch prefix in use — new_scratch_root() keeps this in sync
#: with the sweep automatically; add here only for legacy populations.
SCRATCH_PREFIXES: tuple[str, ...] = (
    "dwbss-u05-",
    "dwbss-bench-stage-",
    "dwbss-wcc-",
    "dwbss-pr-",
    "dwbss-kc-",
    "dwbss-nf-",
    "dwbss-transcode-",
)

_LIVE_ROOTS: list[Path] = []


def _cleanup() -> None:
    for root in _LIVE_ROOTS:
        shutil.rmtree(root, ignore_errors=True)
    _LIVE_ROOTS.clear()


def new_scratch_root(prefix: str) -> Path:
    """mkdtemp a pid-stamped scratch root, registered for exit sweep.

    The returned dir lives until PROCESS EXIT, not function return —
    that is the point: callers hand out lazy DataFrames backed by
    files inside it."""
    if prefix not in SCRATCH_PREFIXES:
        raise ValueError(
            f"unregistered scratch prefix {prefix!r} — add it to "
            "SCRATCH_PREFIXES so the startup sweep covers it"
        )
    root = Path(tempfile.mkdtemp(prefix=f"{prefix}p{os.getpid()}-"))
    if not _LIVE_ROOTS:
        atexit.register(_cleanup)
    _LIVE_ROOTS.append(root)
    return root


def sweep_stale_scratch(
    max_age_s: float = 86400.0,
    prefixes: tuple[str, ...] = SCRATCH_PREFIXES,
) -> int:
    """Startup sweep of orphaned scratch roots; returns #removed.

    Liveness, not just age: pid-format roots (``{prefix}p{pid}-``) are
    removed ONLY when that pid is dead — a still-alive session keeps
    its scratch regardless of age. Legacy pid-less roots fall back to
    the wide age gate."""
    now = time.time()
    removed = 0
    for prefix in prefixes:
        for d in Path(tempfile.gettempdir()).glob(prefix + "*"):
            try:
                if not d.is_dir():
                    continue
                m = re.match(re.escape(prefix) + r"p(\d+)-", d.name)
                if m:
                    pid = int(m.group(1))
                    if pid == os.getpid():
                        continue
                    try:
                        os.kill(pid, 0)
                        continue      # owner alive — never touch
                    except ProcessLookupError:
                        pass          # owner dead — safe to sweep
                    except PermissionError:
                        continue      # alive under another uid
                elif now - d.stat().st_mtime <= max_age_s:
                    continue          # legacy format: wide age gate
                shutil.rmtree(d, ignore_errors=True)
                removed += 1
            except OSError:
                pass
    return removed


class PersistSlot:
    """Lock-guarded single slot of persisted DataFrames.

    An operator that persists a frame its lazy result reads cannot
    unpersist it on return, and a fresh DataFrame per call would pin
    executor storage until memory pressure. :meth:`hold` therefore
    unpersists whatever the slot held before and keeps the new frames;
    :meth:`release` empties it. The lock makes evict+hold atomic. A
    concurrent caller can still evict frames another caller's actions
    are reading — the consequence is recompute, never wrong rows."""

    def __init__(self) -> None:
        self._held: list = []
        self._lock = threading.Lock()

    @property
    def held(self) -> tuple:
        return tuple(self._held)

    def _drop_all(self) -> None:
        while self._held:
            try:
                self._held.pop().unpersist()
            except Exception:  # noqa: BLE001 — owning session may be gone
                pass

    def hold(self, *frames) -> None:
        with self._lock:
            self._drop_all()
            self._held.extend(frames)

    def release(self) -> None:
        with self._lock:
            self._drop_all()


#: the one slot shared by every persisting operator (lm's fused model
#: counts, q42's rollup tiers): holding one caller's frames evicts the
#: previous caller's
persist_slot = PersistSlot()
