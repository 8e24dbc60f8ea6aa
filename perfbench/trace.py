"""Layer spans recorded around library calls, attributed to Spark jobs
through the Spark event log.

A span is (operation, layer, start, end) in driver wall-clock seconds. Spans
are sequential, so a job belongs to the span whose interval holds the
job's submission time. Job groups cannot do this attribution:
``materialize.write_graph`` submits its table writes from a
``ThreadPoolExecutor``, and PySpark job groups are thread-local.
Consequently every job submitted inside ``write_graph``/``merge_graph``,
including the deferred node checkpoints and the triples plan, is
charged to the ``commit`` layer.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# per-layer counters read from task metrics; each becomes
# "<layer>.<name>" in the traced run's output
TASK_COUNTERS = ("busy_s", "tasks", "shuffle_write_bytes",
                 "shuffle_read_bytes", "spill_bytes", "input_bytes",
                 "output_bytes", "input_rows", "output_rows")


@dataclass
class Span:
    op: str
    layer: str
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """Spans kept in memory; attributed after the Spark context stops
    and the event log is closed."""
    spans: list[Span] = field(default_factory=list)
    # the operation (import, search, merge) spans are recorded under
    op: str = ""
    # DataFrames at the last layer boundaries, counted between spans
    boundary: dict = field(default_factory=dict)

    @contextmanager
    def span(self, layer: str):
        s = Span(self.op, layer, time.time())
        try:
            yield s
        finally:
            s.end = time.time()
            self.spans.append(s)


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the single application logged under ``log_dir``."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    events = []
    with open(os.path.join(log_dir, files[0])) as f:
        for line in f:
            events.append(json.loads(line))
    return events


def _merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for lo, hi in sorted(intervals):
        if out and lo <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], hi))
        else:
            out.append((lo, hi))
    return out


def _covered(merged: list[tuple[float, float]], lo: float, hi: float) -> float:
    return sum(max(0.0, min(b, hi) - max(a, lo)) for a, b in merged)


def attribute(spans: list[Span], events: list[dict]) -> list[dict]:
    """One dict per span: wall, idle (span time with no task running
    anywhere), job count and the summed task counters of the jobs
    submitted inside it."""
    job_span: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, float, float, dict]] = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000.0
            for i, s in enumerate(spans):
                if s.start <= t <= s.end:
                    job_span[ev["Job ID"]] = i
                    break
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            tasks.append((ev["Stage ID"], info["Launch Time"] / 1000.0,
                          info["Finish Time"] / 1000.0,
                          ev.get("Task Metrics") or {}))
    running = _merge([(lo, hi) for _, lo, hi, _ in tasks])
    rows = []
    for s in spans:
        wall = s.end - s.start
        rows.append({"op": s.op, "layer": s.layer, "wall_s": wall,
                     "idle_s": wall - _covered(running, s.start, s.end),
                     "jobs": 0, **{k: 0 for k in TASK_COUNTERS}})
    for i in job_span.values():
        rows[i]["jobs"] += 1
    for sid, _, _, m in tasks:
        i = job_span.get(stage_job.get(sid, -1))
        if i is None:
            continue
        r = rows[i]
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        inp = m.get("Input Metrics") or {}
        out = m.get("Output Metrics") or {}
        r["busy_s"] += m.get("Executor Run Time", 0) / 1000.0
        r["tasks"] += 1
        r["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        r["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0))
        r["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        r["input_bytes"] += inp.get("Bytes Read", 0)
        r["input_rows"] += inp.get("Records Read", 0)
        r["output_bytes"] += out.get("Bytes Written", 0)
        r["output_rows"] += out.get("Records Written", 0)
    return rows
