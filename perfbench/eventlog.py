"""Job, stage and task figures per operation, from Spark's event log.

The traced run turns the event log on uncompressed (no reader for the
default zstd codec is installed).  A job belongs to the operation whose job
group it carries; jobs without one of the benchmark's groups -- those the
streaming promoter runs on its own thread under the query's run id -- belong
to the operation running when they were submitted.  Stages and tasks follow
their job.
"""

from __future__ import annotations

import bisect
import json
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path


@dataclass(frozen=True)
class OpWindow:
    op: str
    groups: frozenset[str]
    start_ms: float
    end_ms: float


COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "run_s",
    "cpu_s",
    "deser_s",
    "gc_s",
    "input_mb",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
)

_MB = 1024.0 * 1024.0


def per_op(log_path: Path, windows: list[OpWindow]) -> dict[str, dict[str, float]]:
    by_group = {g: w.op for w in windows for g in w.groups}
    ordered = sorted(windows, key=lambda w: w.start_ms)
    starts = [w.start_ms for w in ordered]

    def owner(group: str | None, t_ms: float) -> str | None:
        if group in by_group:
            return by_group[group]
        i = bisect.bisect_right(starts, t_ms) - 1
        if i >= 0 and t_ms <= ordered[i].end_ms:
            return ordered[i].op
        return None

    stage_op: dict[int, str | None] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    with open(log_path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                op = owner(props.get("spark.jobGroup.id"), ev.get("Submission Time", 0))
                for sid in ev.get("Stage IDs", []):
                    stage_op.setdefault(sid, op)
                if op is not None:
                    out[op]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                op = stage_op.get(ev["Stage Info"]["Stage ID"])
                if op is not None:
                    out[op]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                op = stage_op.get(ev.get("Stage ID"))
                if op is None:
                    continue
                m = ev.get("Task Metrics") or {}
                acc = out[op]
                acc["tasks"] += 1
                acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["deser_s"] += m.get("Executor Deserialize Time", 0) / 1e3
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                acc["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / _MB
                sw = m.get("Shuffle Write Metrics") or {}
                acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
                sr = m.get("Shuffle Read Metrics") or {}
                acc["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / _MB
                acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
    return dict(out)
