"""Per-layer metrics from a Spark event log plus the benchmark's own spans.

The benchmark records one span around every call it makes into a layer
(``Spans``). In a traced run it also tags the call's Spark jobs with
``sparkContext.setJobGroup(<layer>)`` and turns the event log on; after
the session stops, :func:`layer_metrics` groups the event log's task
metrics by layer. Structured Streaming tags its micro-batch jobs with its
own run id, so a stage whose job group is not a layer name is attributed
to the span that was open when it was submitted (and to no layer when
none was: the benchmark's own reads between spans).

``sources.io`` is not a span: every layer's sinks go through it lazily,
so its tasks are those of the Spark stages that wrote output files (they
also belong to the layer whose call triggered them).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

LAYERS = (
    "session",
    "sources.io",
    "stages.extraction",
    "stages.cleaning",
    "stages.analysis",
    "stages.lid",
    "stages.flagging",
    "operators.dedup",
    "operators.similarity",
    "operators.quality",
    "analytics.queries",
    "streaming.jobs",
)

#: the nine metrics every layer reports (0 where the workload does not
#: exercise the layer)
LAYER_METRICS = {
    "busy_s": "s",
    "task_s": "s",
    "offcpu_s": "s",
    "sched_wait_s": "s",
    "core_util": "frac",
    "tasks_failed": "count",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "rows_out": "count",
}

#: the ratios measured where work can be wasted
RATIOS = {
    "stages.extraction.success_frac": "frac",
    "stages.cleaning.chunks_kept_frac": "frac",
    "stages.flagging.survivor_frac": "frac",
    "operators.dedup.lsh_candidates": "count",
    "operators.dedup.verify_yield": "frac",
    "operators.dedup.planted_pair_recall": "frac",
    "sources.io.write_amp": "ratio",
    "streaming.jobs.batch_p50_ms": "ms",
}

#: tracing overhead, reported by the traced run
TRACE_METRICS = {
    "trace.wall_s": "s",
    "trace.overhead_frac": "frac",
}

MB = 1e6


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name -> unit, in BENCHMARK.json order."""
    out = {
        f"{layer}.{m}": unit
        for layer in LAYERS
        for m, unit in LAYER_METRICS.items()
    }
    out.update(RATIOS)
    out.update(TRACE_METRICS)
    return out


class Spans:
    """Spans around the benchmark's calls into layers, kept in memory.

    ``spark`` is set once the session exists; with ``trace`` on, each span
    also sets the Spark job group to its layer name."""

    def __init__(self, trace: bool):
        self.trace = trace
        self.spark = None
        self.records: list[dict] = []

    @contextmanager
    def span(self, layer: str, op: str):
        assert layer in LAYERS, layer
        if self.trace and self.spark is not None:
            self.spark.sparkContext.setJobGroup(layer, op)
        start = time.time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self.records.append({
                "layer": layer,
                "op": op,
                "start_ms": start * 1000.0,
                "end_ms": (start + wall) * 1000.0,
                "wall_s": wall,
            })
            if self.trace and self.spark is not None:
                self.spark.sparkContext.setJobGroup("perfbench", "between spans")


def _read_events(path: str):
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield json.loads(line)


def layer_metrics(
    event_log: str, spans: list[dict], nproc: int, input_bytes: int
) -> dict[str, float]:
    """The nine metrics per layer plus ``sources.io.write_amp``."""
    stage_group: dict[int, str | None] = {}
    stage_submit: dict[int, float] = {}
    stage_done: dict[int, float] = {}
    tasks: list[dict] = []
    for ev in _read_events(event_log):
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            props = ev.get("Properties") or {}
            stage_group[sid] = props.get("spark.jobGroup.id")
            stage_submit[sid] = info.get("Submission Time") or 0.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stage_done[info["Stage ID"]] = info.get("Completion Time") or 0.0
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)

    def span_layer_at(t_ms: float) -> str | None:
        for s in spans:
            if s["start_ms"] <= t_ms <= s["end_ms"]:
                return s["layer"]
        return None

    def layer_of(sid: int) -> str | None:
        g = stage_group.get(sid)
        if g in LAYERS:
            return g
        return span_layer_at(stage_submit.get(sid, 0.0))

    acc = {
        layer: dict.fromkeys(LAYER_METRICS, 0.0) | {"cpu_s": 0.0}
        for layer in LAYERS
    }
    write_stages: set[int] = set()
    bytes_written = 0.0
    for ev in tasks:
        sid = ev["Stage ID"]
        info = ev.get("Task Info") or {}
        tm = ev.get("Task Metrics") or {}
        out = tm.get("Output Metrics") or {}
        rec = {
            "task_s": (tm.get("Executor Run Time") or 0) / 1000.0,
            "cpu_s": (tm.get("Executor CPU Time") or 0) / 1e9,
            "sched_wait_s": max(
                0.0,
                ((info.get("Launch Time") or 0) - stage_submit.get(sid, 0.0))
                / 1000.0,
            ),
            "tasks_failed": 1.0 if info.get("Failed") else 0.0,
            "shuffle_write_mb": (
                (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written"
                ) or 0
            ) / MB,
            "spill_mb": (tm.get("Disk Bytes Spilled") or 0) / MB,
            "rows_out": float(out.get("Records Written") or 0),
        }
        targets = [layer_of(sid)] if layer_of(sid) else []
        if (out.get("Bytes Written") or 0) > 0:
            write_stages.add(sid)
            bytes_written += out["Bytes Written"]
            targets.append("sources.io")
        for layer in targets:
            for k, v in rec.items():
                acc[layer][k] += v

    for s in spans:
        acc[s["layer"]]["busy_s"] += s["wall_s"]
    acc["sources.io"]["busy_s"] = _union_s(
        [(stage_submit.get(sid, 0.0), stage_done.get(sid, 0.0))
         for sid in write_stages]
    )

    metrics: dict[str, float] = {}
    for layer, a in acc.items():
        a["offcpu_s"] = max(0.0, a["task_s"] - a["cpu_s"])
        a["core_util"] = (
            a["task_s"] / (a["busy_s"] * nproc) if a["busy_s"] > 0 else 0.0
        )
        for m in LAYER_METRICS:
            metrics[f"{layer}.{m}"] = a[m]
    metrics["sources.io.write_amp"] = (
        bytes_written / input_bytes if input_bytes else 0.0
    )
    return metrics


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length in seconds of the union of [start, end] ms intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0
