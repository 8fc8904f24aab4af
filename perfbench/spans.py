"""Spans around the benchmark's calls into the engine's modules.

Tracing is from the outside: :func:`install` wraps the public functions
of each measured module (and every alias other engine modules imported),
so a call that crosses into a layer opens a span and a call made from
inside the same layer does not. Spans are kept in memory and written out
once at the end of a run.

A span's self time is its duration minus the part of it covered by its
direct children; a layer's number is the sum of its spans' self times.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str  # "<layer>.<function>"
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str = ""

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.enabled = False
        self.op = ""

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent, op=self.op))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around the ``with`` body, when tracing is on."""
        idx = self.open(name) if self.enabled else None
        try:
            yield
        finally:
            if idx is not None:
                self.close(idx)

    def current_layer(self) -> str | None:
        return self.spans[self._stack[-1]].layer if self._stack else None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> list[float]:
    """Per-span self time: duration minus the union of its direct
    children's intervals (children of one parent never overlap in a
    single-threaded caller, but the union keeps this exact anyway)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cursor = 0.0, s.start
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, cursor), min(b, s.end)
            if b > a:
                covered += b - a
                cursor = b
        out.append((s.end - s.start) - covered)
    return out


def _wrap(tracer: Tracer, layer: str, fn):
    name = f"{layer}.{fn.__name__}"

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.enabled or tracer.current_layer() == layer:
            return fn(*args, **kwargs)
        idx = tracer.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            tracer.close(idx)

    return wrapper


def install(tracer: Tracer, targets: dict[str, list[tuple[str, str]]]) -> None:
    """Wrap each ``(module, attribute)`` under its layer name.

    ``attribute`` may be ``Class.method``. Plain functions are also
    replaced wherever another loaded engine module imported them by name,
    so calls between layers are seen whichever alias the caller used."""
    for layer, items in targets.items():
        for modname, attr in items:
            mod = importlib.import_module(modname)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                setattr(cls, meth, _wrap(tracer, layer, getattr(cls, meth)))
                continue
            orig = getattr(mod, attr)
            wrapped = _wrap(tracer, layer, orig)
            for other in list(sys.modules.values()):
                if (
                    getattr(other, "__name__", "").startswith("data_bridge_spark")
                    and getattr(other, attr, None) is orig
                ):
                    setattr(other, attr, wrapped)


def group_stats(spark, group: str) -> dict[str, float]:
    """Jobs run under job group ``group`` and their stages' task counters,
    from the status store (readable with the UI disabled)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    out = dict.fromkeys(("tasks", "task_ms", "gc_ms", "input_b", "shuffle_write_b", "spill_b"), 0.0)
    out["jobs"] = float(len(jobs))
    for j in jobs:
        info = sc.statusTracker().getJobInfo(j)
        for sid in info.stageIds if info else ():
            try:
                attempts = store.stageData(sid, False, None, False, None)
            except Exception:  # stage evicted from the store
                continue
            for k in range(attempts.size()):
                a = attempts.apply(k)
                out["tasks"] += a.numCompleteTasks()
                out["task_ms"] += a.executorRunTime()
                out["gc_ms"] += a.jvmGcTime()
                out["input_b"] += a.inputBytes()
                out["shuffle_write_b"] += a.shuffleWriteBytes()
                out["spill_b"] += a.memoryBytesSpilled() + a.diskBytesSpilled()
    return out
