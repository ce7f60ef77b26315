"""Spans around the engine's layer boundaries, recorded from outside the
engine.

:class:`Tracer` patches each public function where its caller looks it up
(``engine.copy.probe_max``, ``engine.export.jdbc_bulk_loader``, a class
attribute for methods), records one :class:`Span` per call and restores the
originals on :meth:`Tracer.uninstall`. Spans stay in memory until
:meth:`Tracer.dump` writes them as JSON.

A span's self time is its duration minus the part of it that its child spans
cover (:func:`self_times`); a layer's self time is the sum over its spans.
A span whose function is shared by two layers is named by its parent
(:data:`RENAMED_UNDER`), so the trigger probe's ``read_source`` is charged to
the watermark layer, not to extract.
"""

from __future__ import annotations

import functools
import importlib
import json
import threading
import time
from collections import defaultdict
from contextlib import nullcontext
from dataclasses import asdict, dataclass

#: (module, attribute path, span name). The span name's first dotted part
#: is the metric family; :data:`LAYERS` maps span names to layers.
TARGETS = (
    ("mssql2monetdb_spark.engine.copy", "CopyEngine.run", "copy.run"),
    ("mssql2monetdb_spark.engine.copy", "CopyEngine.check_for_new_data", "watermark.check"),
    ("mssql2monetdb_spark.engine.copy", "probe_max", "watermark.probe"),
    ("mssql2monetdb_spark.engine.watermark", "probe_max_jdbc", "watermark.probe"),
    ("mssql2monetdb_spark.engine.watermark", "WatermarkStore.load", "watermark.state_io"),
    ("mssql2monetdb_spark.engine.watermark", "WatermarkStore.save", "watermark.state_io"),
    ("mssql2monetdb_spark.engine.copy", "read_source", "extract.read_source"),
    ("mssql2monetdb_spark.engine.copy", "normalized_dataframe", "extract.normalize"),
    ("mssql2monetdb_spark.engine.copy", "CopyEngine.assert_non_empty", "extract.count"),
    ("mssql2monetdb_spark.engine.publish", "VersionedCatalog.write_version", "load.write"),
    ("mssql2monetdb_spark.engine.publish", "VersionedCatalog.publish", "publish.switch"),
    ("mssql2monetdb_spark.engine.publish", "VersionedCatalog.cleanup", "cleanup"),
    ("mssql2monetdb_spark.engine.export", "JdbcWarehouse.load_version", "export.load"),
    ("mssql2monetdb_spark.engine.export", "JdbcWarehouse.publish", "export.publish"),
    ("mssql2monetdb_spark.engine.export", "JdbcWarehouse.cleanup", "export.cleanup"),
    ("mssql2monetdb_spark.engine.export", "jdbc_bulk_loader", "jdbc.import"),
    ("mssql2monetdb_spark.sources.jdbc", "stage_bulk_frame", "jdbc.stage"),
)

#: (span name, parent span name) -> the name the span takes under that parent.
RENAMED_UNDER = {("extract.read_source", "watermark.check"): "watermark.read_source"}

#: Span name -> the layer (module group) its self time is charged to.
LAYERS = {
    "copy.run": "engine.copy",
    "watermark.check": "engine.watermark",
    "watermark.probe": "engine.watermark",
    "watermark.state_io": "engine.watermark",
    "watermark.read_source": "engine.watermark",
    "extract.read_source": "sources_schema",
    "extract.normalize": "sources_schema",
    "extract.count": "sources_schema",
    "load.write": "engine.publish",
    "publish.switch": "engine.publish",
    "cleanup": "engine.publish",
    "export.load": "engine.export",
    "export.publish": "engine.export",
    "export.cleanup": "engine.export",
    "jdbc.import": "sources.jdbc",
    "jdbc.stage": "sources.jdbc",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    op: int | None  # timed-op id; None outside the timed window
    items: int | None = None  # len() of the call's result, when it has one


class Tracer:
    """Records spans while ``enabled``; a disabled tracer's wrappers only
    forward the call. ``scope``, when set, is called with a span's name and
    must return a context manager the call then runs inside (the benchmark
    uses it to put a span's Spark jobs into their own job group)."""

    def __init__(self) -> None:
        self.scope = None
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self._local = threading.local()  # per-thread stack of open spans
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            stack = self._stack()
            parent = stack[-1] if stack else None
            named = RENAMED_UNDER.get((name, self.spans[parent].name), name) if parent is not None else name
            span = Span(named, time.perf_counter(), 0.0, parent, self.op)
            with self._lock:
                self.spans.append(span)
                stack.append(len(self.spans) - 1)
            try:
                with self.scope(named) if self.scope else nullcontext():
                    result = fn(*args, **kwargs)
                if isinstance(result, (list, dict, tuple)):
                    span.items = len(result)
                return result
            finally:
                span.end = time.perf_counter()
                stack.pop()

        return traced

    def install(self, targets=TARGETS) -> None:
        for module, path, name in targets:
            *owner_path, attr = path.split(".")
            owner = importlib.import_module(module)
            for part in owner_path:
                owner = getattr(owner, part)
            original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            self._undo.append((owner, attr, original))
            setattr(owner, attr, self.wrap(name, original))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the union of its children's intervals
    (clipped to the span, so a child that outlives its parent cannot make
    self time negative)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            children[s.parent].append((max(s.start, p.start), min(s.end, p.end)))
    return [s.end - s.start - _covered(children[i]) for i, s in enumerate(spans)]


def summarize(spans: list[Span], ops: list[int]) -> dict[str, float]:
    """Per-op means over the timed ops ``ops``: inclusive seconds and call
    count per span name, and self seconds per layer (``layer.<name>``)."""
    wanted = set(ops)
    selfs = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s, self_s in zip(spans, selfs):
        if s.op not in wanted:
            continue
        out[f"{s.name}.s"] += s.end - s.start
        out[f"{s.name}.calls"] += 1
        out[f"{s.name}.items"] += s.items or 0
        out[f"{s.name}.self_s"] += self_s
        out[f"layer.{LAYERS[s.name]}"] += self_s
    n = max(1, len(ops))
    return {k: v / n for k, v in out.items()}


def durations(spans: list[Span], name: str, ops: list[int]) -> list[float]:
    """Durations of every ``name`` span inside the timed ops ``ops``."""
    wanted = set(ops)
    return [s.end - s.start for s in spans if s.name == name and s.op in wanted]
