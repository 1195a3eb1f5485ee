"""Tracing for the benchmark's traced runs: spans and the Spark event log.

Spans are recorded only from the benchmark's own files: around its calls
into the engine's public functions, and by wrapping a few public module
attributes the engine looks up at call time (``install``). Nothing inside
engine code records anything.

Each open span also tags the Spark jobs started under it: the innermost
span's layer name goes into the ``perfbench.layer`` local property, which
Spark copies into every job and stage event of its event log. The event
log reader then attributes jobs, stages and tasks to layers.
"""

from __future__ import annotations

import functools
import io
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

LAYER_PROPERTY = "perfbench.layer"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class SpanRecorder:
    """In-memory spans (name, start, end, parent) for one process.

    With a ``spark_context``, each span also sets the layer local property
    so the event log can attribute Spark jobs to the innermost open span."""

    def __init__(self, spark_context=None) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = spark_context
        self._restore: list = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.monotonic(), float("nan"), parent))
        self._stack.append(idx)
        self._set_layer(name)
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.monotonic()
            self._stack.pop()
            self._set_layer(self.spans[self._stack[-1]].name if self._stack else None)

    def _set_layer(self, name: str | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(LAYER_PROPERTY, name)

    def install(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span
        named ``name``; ``uninstall`` puts the original back."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, original))

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)

    # -- queries ---------------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.seconds for s in self.named(name))

    def self_time(self, name: str) -> float:
        """Σ duration of ``name`` spans minus what their child spans cover."""
        total = 0.0
        for i, s in enumerate(self.spans):
            if s.name == name:
                children = sum(c.seconds for c in self.spans if c.parent == i)
                total += s.seconds - children
        return total

    def self_times(self) -> dict[str, float]:
        return {name: self.self_time(name) for name in {s.name for s in self.spans}}


# -- Spark event log -------------------------------------------------------


def read_events(path: str):
    """Yield the JSON events of a Spark event log: one file, or a rolling
    log directory (``eventlog_v2_*``, Spark's default) read in file order.
    Compressed files are decoded by the codec their suffix names (Spark's
    default is zstd)."""
    import pyarrow as pa

    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        files = [os.path.join(path, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    else:
        files = [path]
    for f in files:
        suffix = f.rsplit(".", 1)[-1]
        if suffix in ("lz4", "lzf", "snappy"):
            raise ValueError(f"unsupported event log codec {suffix!r}: {f}")
        raw = pa.input_stream(f, compression="zstd" if suffix == "zstd" else None)
        with io.TextIOWrapper(raw, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


SPARK_METRICS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_mb",
    "task_run_s",
    "gc_s",
    "spill_mb",
    "task_skew",
    "core_busy_frac",
)


def layer_stats(events, walls: dict[str, float], cores: int) -> dict[str, dict[str, float]]:
    """Per-layer Spark counts from event-log events.

    Jobs and stages are attributed by the ``perfbench.layer`` property the
    job was submitted with; tasks by their stage. ``walls`` gives each
    layer's self time in seconds, the base of ``core_busy_frac``
    (Σ task run time ÷ (wall × cores)). ``task_skew`` is max ÷ median task
    run time in the layer's heaviest stage (by Σ task run time)."""
    stage_layer: dict[int, str] = {}
    acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_tasks: dict[tuple[str, int], list[float]] = defaultdict(list)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            layer = (ev.get("Properties") or {}).get(LAYER_PROPERTY)
            if layer:
                acc[layer]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            layer = (ev.get("Properties") or {}).get(LAYER_PROPERTY)
            if layer:
                stage_layer[ev["Stage Info"]["Stage ID"]] = layer
        elif kind == "SparkListenerStageCompleted":
            layer = stage_layer.get(ev["Stage Info"]["Stage ID"])
            if layer:
                acc[layer]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            layer = stage_layer.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if not layer or not m:
                continue
            a = acc[layer]
            run_s = m.get("Executor Run Time", 0) / 1e3
            a["tasks"] += 1
            a["task_run_s"] += run_s
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
            a["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            ) / 1e6
            stage_tasks[(layer, ev["Stage ID"])].append(run_s)

    out: dict[str, dict[str, float]] = {}
    for layer in set(acc) | set(walls):
        a = acc.get(layer, {})
        row = {k: float(a.get(k, 0.0)) for k in SPARK_METRICS}
        heaviest = max(
            (v for (lay, _), v in stage_tasks.items() if lay == layer), key=sum, default=[]
        )
        med = statistics.median(heaviest) if heaviest else 0.0
        row["task_skew"] = max(heaviest) / med if med > 0 else 0.0
        wall = walls.get(layer, 0.0)
        row["core_busy_frac"] = row["task_run_s"] / (wall * cores) if wall > 0 else 0.0
        out[layer] = row
    return out
