"""Spans around the benchmark's calls into each layer, and their
reduction to per-layer metrics through the Spark event log.

A span records name, start, end and its parent, and sets the Spark job
group to its own id while it is open, so the Spark UI and the event log
name the layer that fired each job. Jobs submitted from threads the
program starts itself carry no group; they are attributed to the
innermost span open when they were submitted. Spans stay in memory and
are written out, with the event log, when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans; with ``enabled`` False every span is a no-op."""

    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"s{len(self.spans)}", name, parent and parent.id, time.time(),
                 attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


class CountingDecoder:
    """Wraps the engine's HDF5 decoder; appends one line per call
    (file, seconds) to ``log_path``. It runs inside the Python workers,
    so the count travels through the file system."""

    def __init__(self, log_path: str) -> None:
        self.log_path = log_path

    def __call__(self, payload: bytes, path: str):
        from codex_data_products_spark.sources.hdf5 import h5py_decoder

        t0 = time.perf_counter()
        out = h5py_decoder(payload, path)
        dt = time.perf_counter() - t0
        with open(self.log_path, "a") as f:
            f.write(f"{path}\t{dt:.6f}\n")
        return out


def read_decode_log(path: str) -> list[tuple[str, float]]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [
            (p, float(s)) for p, s in (ln.rstrip("\n").split("\t") for ln in f)
        ]


@dataclass
class LayerCost:
    """What the event log says one span caused."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    jvm_gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0

    def add(self, other: "LayerCost") -> None:
        for k, v in vars(other).items():
            setattr(self, k, getattr(self, k) + v)


def event_log_file(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def costs_by_span(event_log: str, spans: list[Span]) -> dict[str, LayerCost]:
    """Attribute every job, stage and task in the event log to a span id.

    A job belongs to the span named by its job group; a job without one
    belongs to the innermost span open at its submission time."""
    by_id = {s.id: s for s in spans}
    depth = {}
    for s in spans:
        d, p = 0, s.parent
        while p is not None:
            d, p = d + 1, by_id[p].parent
        depth[s.id] = d

    def span_at(ms: int) -> str | None:
        t = ms / 1000.0
        hits = [s for s in spans if s.start <= t <= s.end]
        return max(hits, key=lambda s: depth[s.id]).id if hits else None

    job_span: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    out: dict[str, LayerCost] = defaultdict(LayerCost)
    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                sid = group if group in by_id else span_at(ev["Submission Time"])
                job_span[ev["Job ID"]] = sid
                for st in ev.get("Stage IDs", []):
                    stage_job.setdefault(st, ev["Job ID"])
                if sid is not None:
                    out[sid].jobs += 1
            elif kind == "SparkListenerStageCompleted":
                sid = job_span.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
                if sid is not None:
                    out[sid].stages += 1
            elif kind == "SparkListenerTaskEnd":
                sid = job_span.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if sid is None or not m:
                    continue
                c = out[sid]
                c.tasks += 1
                c.executor_run_s += m.get("Executor Run Time", 0) / 1e3
                c.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                c.jvm_gc_s += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics", {})
                c.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                c.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                c.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
                c.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
    return dict(out)


def subtree_cost(
    costs: dict[str, LayerCost], spans: list[Span], name: str
) -> LayerCost:
    """Summed cost of every span called ``name`` and its descendants."""
    children = defaultdict(list)
    for s in spans:
        children[s.parent].append(s.id)
    total = LayerCost()

    def walk(sid: str) -> None:
        if sid in costs:
            total.add(costs[sid])
        for c in children[sid]:
            walk(c)

    for s in spans:
        if s.name == name:
            walk(s.id)
    return total


def span_seconds(spans: list[Span], name: str) -> float:
    return sum(s.end - s.start for s in spans if s.name == name)


def write_trace(path: str, spans: list[Span], costs: dict, extra: dict) -> None:
    with open(path, "w") as f:
        json.dump(
            {
                "spans": [vars(s) for s in spans],
                "costs": {k: vars(v) for k, v in costs.items()},
                **extra,
            },
            f,
            indent=1,
        )
