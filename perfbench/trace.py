"""Spans and counters recorded from outside the program.

Spans come from ``PipelineObserver`` hooks and from wrappers the benchmark
puts around its own calls into the package.  Counters are deltas taken at
span boundaries:

- Spark jobs and stages: the DAG scheduler's ``nextJobId`` /
  ``nextStageId``, which advance once per submitted job / created stage;
- ``_delta_log`` opens and listings, and file-checkpoint JSON reads, seen
  through wrappers of ``open`` / ``os.listdir`` / ``os.scandir`` that are
  installed for the traced run only.

Spans are kept in memory and written once, by the caller, at the end.
"""

from __future__ import annotations

import builtins
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Any

COUNTERS = ("jobs", "stages", "log_opens", "log_listings", "ckpt_json_reads")


class Tracer:
    """Nested spans with counter deltas.  ``enabled=False`` keeps only the
    caller-visible timings (no counters, no span list)."""

    def __init__(self, spark, *, enabled: bool, checkpoint_roots: tuple[str, ...] = ()):
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self._stack: list[dict[str, Any]] = []
        self._io = {"log_opens": 0, "log_listings": 0, "ckpt_json_reads": 0}
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self.checkpoint_roots = checkpoint_roots
        self._saved: tuple | None = None

    # ------------------------------------------------------------ counters
    def counts(self) -> tuple[int, ...]:
        jobs, stages = self._dag.nextJobId(), self._dag.nextStageId()
        return (int(jobs), int(stages), *self._io.values())

    def _note_open(self, file, mode) -> None:
        if isinstance(file, int):
            return
        path = os.fspath(file)
        if isinstance(path, bytes):
            path = path.decode(errors="replace")
        if "_delta_log" in path:
            self._io["log_opens"] += 1
        elif (
            path.endswith(".json")
            and "r" in mode
            and path.startswith(self.checkpoint_roots)
        ):
            self._io["ckpt_json_reads"] += 1

    def _note_listing(self, path) -> None:
        if isinstance(path, int):
            return
        if "_delta_log" in os.fspath(path or "."):
            self._io["log_listings"] += 1

    def install_io_hooks(self) -> None:
        orig_open, orig_listdir, orig_scandir = builtins.open, os.listdir, os.scandir
        self._saved = (orig_open, orig_listdir, orig_scandir)

        def counting_open(file, mode="r", *args, **kwargs):
            self._note_open(file, mode)
            return orig_open(file, mode, *args, **kwargs)

        def counting_listdir(path="."):
            self._note_listing(path)
            return orig_listdir(path)

        def counting_scandir(path="."):
            self._note_listing(path)
            return orig_scandir(path)

        builtins.open, os.listdir, os.scandir = counting_open, counting_listdir, counting_scandir

    def remove_io_hooks(self) -> None:
        if self._saved is not None:
            builtins.open, os.listdir, os.scandir = self._saved
            self._saved = None

    # --------------------------------------------------------------- spans
    def open(self, name: str, op: Any = None) -> dict[str, Any] | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": len(self.spans),
            "name": name,
            "op": op if op is not None else (parent["op"] if parent else None),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
            "_c0": self.counts(),
        }
        self.spans.append(span)
        self._stack.append(span)
        return span

    def close(self, span: dict[str, Any] | None = None) -> None:
        if not self.enabled or not self._stack:
            return
        top = self._stack.pop()
        if span is not None and top is not span:
            raise RuntimeError(f"span {span['name']} closed out of order ({top['name']} open)")
        top["end"] = time.perf_counter()
        c1 = self.counts()
        top.update(zip(COUNTERS, (b - a for a, b in zip(top.pop("_c0"), c1))))

    @contextmanager
    def span(self, name: str, op: Any = None):
        handle = self.open(name, op)
        try:
            yield handle
        finally:
            self.close(handle)

    def dump(self, path: str) -> None:
        with open(path, "w") as handle:
            json.dump(self.spans, handle)


class LatencyObserver:
    """``PipelineObserver`` that records, per batch, plan start to commit end.

    With a tracer it also opens one span per batch and one child span per
    stage, named through ``stage_names`` (stage -> layer span name)."""

    def __init__(self, tracer: Tracer | None = None, stage_names: dict[str, str] | None = None):
        self.tracer = tracer if tracer is not None and tracer.enabled else None
        self.stage_names = stage_names or {}
        self.batches: list[tuple[int, float]] = []  # (batch_id, seconds)
        self._plan_started: float | None = None
        self._batch_span = None
        self._plan_span = None
        self._stage_spans: list[Any] = []

    def on_stage_start(self, stage: str, batch_id: int | None) -> None:
        if stage == "plan":
            self._plan_started = time.perf_counter()
            if self.tracer:
                self._batch_span = self.tracer.open("pipeline.batch")
        if self.tracer:
            self._stage_spans.append(self.tracer.open(self.stage_names.get(stage, stage)))

    def on_stage_end(self, stage: str, batch_id: int | None, duration_s: float) -> None:
        if self.tracer:
            span = self._stage_spans.pop()
            self.tracer.close(span)
            if stage == "plan":
                self._plan_span = span

    def on_batch_planned(self, batch_id: int, n_files: int) -> None:
        if self.tracer:
            self._batch_span["op"] = self._plan_span["op"] = f"batch-{batch_id}"

    def on_batch_committed(self, batch_id: int, metadata: dict[str, Any]) -> None:
        self.batches.append((batch_id, time.perf_counter() - self._plan_started))
        self._end_batch()

    def on_error(self, stage: str, batch_id: int | None, error: BaseException) -> None:
        if self.tracer:
            self.tracer.close(self._stage_spans.pop())
        self._end_batch()

    def finish_idle(self) -> None:
        """Close the batch span of the final plan that found nothing to do."""
        if self._batch_span is not None:
            self._batch_span["name"] = "pipeline.idle"
            self._end_batch()

    def _end_batch(self) -> None:
        if self.tracer and self._batch_span is not None:
            self.tracer.close(self._batch_span)
        self._batch_span = None


# ------------------------------------------------------------ aggregation


def durations(spans: list[dict], name: str) -> list[float]:
    return [s["end"] - s["start"] for s in spans if s["name"] == name and s["end"] is not None]


def mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: duration minus the children's."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["end"] is not None:
            out[s["name"]] += (s["end"] - s["start"]) - child_time[s["id"]]
    return dict(out)


def batch_overheads(spans: list[dict]) -> list[float]:
    """Per committed batch: its span minus the stage spans inside it."""
    return [
        (s["end"] - s["start"]) - sum(
            c["end"] - c["start"] for c in spans if c["parent"] == s["id"]
        )
        for s in spans
        if s["name"] == "pipeline.batch" and s["end"] is not None
    ]


def growth(values: list[float]) -> float:
    """Mean of the last tenth over mean of the first tenth."""
    if len(values) < 2:
        return 1.0
    k = max(1, len(values) // 10)
    first = mean(values[:k])
    return mean(values[-k:]) / first if first > 0 else 0.0


# -------------------------------------------------------------- event log


def event_log_stats(log_dir: str, prop: str = "perfbench.op") -> dict[str, dict[str, float]]:
    """Per value of the local property ``prop``: shuffle MB written, and the
    max/median task time of its slowest stage, from a JSON event log."""
    stage_op: dict[int, str] = {}
    tasks: dict[int, list[float]] = defaultdict(list)
    shuffle: dict[int, float] = defaultdict(float)
    paths = sorted(
        os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files
        if f.startswith("events_")
    )
    for path in paths:
        with open(path) as handle:
            for line in handle:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    op = (ev.get("Properties") or {}).get(prop)
                    if op:
                        for sid in ev.get("Stage IDs", []):
                            stage_op.setdefault(sid, op)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    info = ev.get("Task Info") or {}
                    tasks[sid].append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    metrics = ev.get("Task Metrics") or {}
                    written = (metrics.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    shuffle[sid] += written
    out: dict[str, dict[str, float]] = {}
    for sid, op in stage_op.items():
        row = out.setdefault(op, {"shuffle_mb": 0.0, "task_skew": 0.0, "_slowest": -1.0})
        row["shuffle_mb"] += shuffle.get(sid, 0.0) / 1e6
        times = tasks.get(sid)
        if times and sum(times) > row["_slowest"]:
            ordered = sorted(times)
            mid = ordered[len(ordered) // 2]
            row["_slowest"] = sum(times)
            row["task_skew"] = max(ordered) / mid if mid > 0 else 1.0
    for row in out.values():
        row.pop("_slowest")
    return out
