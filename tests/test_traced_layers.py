"""Every call the traced benchmark run wraps still exists.

``perfbench/spans.py`` wraps package calls by name
(:func:`install_layer_wrappers`); deleting or renaming one of them fails
only the traced run (``--trace 1``), with ``ImportError`` or
``AttributeError``. This test drives the same installer with a fake
tracer, so such a deletion fails here instead. No Spark session.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

SPANS = Path(__file__).resolve().parents[1] / "perfbench" / "spans.py"


class _RecordingTracer:
    def __init__(self) -> None:
        self.calls: list[tuple[object, str, str]] = []

    def wrap(self, owner, attr: str, name: str) -> None:
        assert callable(getattr(owner, attr)), f"{owner!r}.{attr}"
        self.calls.append((owner, attr, name))


def test_install_layer_wrappers_finds_every_wrapped_call(monkeypatch):
    spec = importlib.util.spec_from_file_location("_perfbench_spans", SPANS)
    spans = importlib.util.module_from_spec(spec)
    # its dataclasses resolve annotations through sys.modules
    monkeypatch.setitem(sys.modules, spec.name, spans)
    spec.loader.exec_module(spans)

    tracer = _RecordingTracer()
    spans.install_layer_wrappers(tracer)

    wrapped = {(getattr(o, "__name__", o), a) for o, a, _ in tracer.calls}
    assert (
        "datawarehouse_backup_system_spark.plans.hash_index",
        "live_write_pairs",
    ) in wrapped
    assert ("IngestJob", "process_file") in wrapped
