"""Per-layer task metrics from a Spark event log.

The benchmark runs the traced session with ``spark.eventLog.enabled`` and
uncompressed JSON lines. Every job carries the local property
``LAYER_PROPERTY`` of the driver thread that submitted it (set by
``spans.Tracer``), and Spark copies a job's local properties into its
``SparkListenerJobStart`` and ``SparkListenerStageSubmitted`` events. This
module folds the ``SparkListenerTaskEnd`` metrics of each stage into the
layer of the job that ran it.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

LAYER_PROPERTY = "perfbench.layer"
MB = 1e6
#: the events this module reads; every other line (most of a log's bytes
#: are SQL execution events carrying whole plans) is skipped unparsed
EVENTS = ("SparkListenerJobStart", "SparkListenerStageSubmitted", "SparkListenerTaskEnd")


@dataclass
class StageTasks:
    layer: str | None = None
    submit_ms: int | None = None
    run_ms: list[int] = field(default_factory=list)
    cpu_ns: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0


@dataclass
class EventLog:
    #: job id → (layer property or None, submission time in epoch ms)
    jobs: dict[int, tuple[str | None, int]] = field(default_factory=dict)
    stages: dict[int, StageTasks] = field(default_factory=dict)


def event_files(log_dir: str) -> list[str]:
    """Every file under ``log_dir``, a directory that holds only the event
    log (plain or rolling layout), in name order."""
    return sorted(
        os.path.join(dirpath, name)
        for dirpath, _, names in os.walk(log_dir)
        for name in names
    )


def parse_lines(lines) -> EventLog:
    """Fold JSON event lines into per-job and per-stage records. Lines that
    are not JSON events (a truncated last line of a live log) are skipped,
    and so are events whose name, which Spark writes first, is not one of
    ``EVENTS``."""
    log = EventLog()
    for line in lines:
        if not any(kind in line[:64] for kind in EVENTS):
            continue
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            layer = (ev.get("Properties") or {}).get(LAYER_PROPERTY)
            submit = int(ev.get("Submission Time", 0))
            log.jobs[int(ev["Job ID"])] = (layer, submit)
            for sid in ev.get("Stage IDs", []):
                st = log.stages.setdefault(int(sid), StageTasks())
                # a stage reused by a later job (skipped there) keeps the
                # layer of the first job, the one that ran its tasks
                if st.layer is None:
                    st.layer = layer
        elif kind == "SparkListenerStageSubmitted":
            info = ev.get("Stage Info", {})
            st = log.stages.setdefault(int(info["Stage ID"]), StageTasks())
            layer = (ev.get("Properties") or {}).get(LAYER_PROPERTY)
            if layer is not None:
                st.layer = layer
            if info.get("Submission Time") is not None:
                st.submit_ms = int(info["Submission Time"])
        elif kind == "SparkListenerTaskEnd":
            metrics = ev.get("Task Metrics")
            if not metrics:
                continue
            st = log.stages.setdefault(int(ev["Stage ID"]), StageTasks())
            st.run_ms.append(int(metrics.get("Executor Run Time", 0)))
            st.cpu_ns += int(metrics.get("Executor CPU Time", 0))
            rd = metrics.get("Shuffle Read Metrics") or {}
            st.shuffle_read += int(rd.get("Remote Bytes Read", 0)) + int(
                rd.get("Local Bytes Read", 0)
            )
            wr = metrics.get("Shuffle Write Metrics") or {}
            st.shuffle_write += int(wr.get("Shuffle Bytes Written", 0))
    return log


def read_event_log(log_dir: str) -> EventLog:
    def lines():
        for path in event_files(log_dir):
            with open(path, encoding="utf-8") as fh:
                yield from fh

    return parse_lines(lines())


def layer_totals(
    log: EventLog, window: tuple[float, float], default_layer: str
) -> dict[str, dict]:
    """Task metrics per layer for the jobs and stages submitted within the
    ``(start_ms, end_ms)`` window. A job without the layer property counts
    toward ``default_layer``.

    Per layer: ``jobs``, ``tasks``, ``cpu_s`` (executor CPU),
    ``shuffle_read_mb``, ``shuffle_write_mb`` and ``task_skew`` — max over
    median task run time of the layer's heaviest stage (by summed task
    time), 1.0 when no stage ran a task."""
    out: dict[str, dict] = {}

    def inside(ms: int | None) -> bool:
        return ms is not None and window[0] <= ms <= window[1]

    def slot(layer: str | None) -> dict:
        return out.setdefault(
            layer or default_layer,
            {"jobs": 0, "tasks": 0, "cpu_s": 0.0, "shuffle_read_mb": 0.0,
             "shuffle_write_mb": 0.0, "_heaviest": (0, 1.0)},
        )

    for layer, submit in log.jobs.values():
        if inside(submit):
            slot(layer)["jobs"] += 1
    for st in log.stages.values():
        if not inside(st.submit_ms):
            continue
        s = slot(st.layer)
        s["tasks"] += len(st.run_ms)
        s["cpu_s"] += st.cpu_ns / 1e9
        s["shuffle_read_mb"] += st.shuffle_read / MB
        s["shuffle_write_mb"] += st.shuffle_write / MB
        total = sum(st.run_ms)
        if st.run_ms and total > s["_heaviest"][0]:
            med = statistics.median(st.run_ms)
            skew = max(st.run_ms) / med if med > 0 else 1.0
            s["_heaviest"] = (total, skew)
    for s in out.values():
        s["task_skew"] = s.pop("_heaviest")[1]
    return out
