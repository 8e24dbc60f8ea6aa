"""Spark event-log probe: driver dead-time evidence.

Parses a Spark event log (JSON lines, possibly .zstd/.lz4 — plain JSON
here) and reports:

- job count, app wall (first job submit -> last job end)
- ZERO-TASK GAP total: wall-clock spans inside the app window where no
  task was running anywhere (scheduler latency, AQE re-planning,
  driver-side collects, Python driver work between actions)
- the top-N individual gaps with the job ids they precede
- every SQL execution (id, start offset, duration, job count) and how
  many ran ALONE, with no execution of another root in flight at any
  point: a serial commit shows as a run of lone executions, a
  concurrent wave (``session.run_concurrently``) as overlapping ones

Usage: python scripts/evlog_probe.py <event-log-file> [top_n]
Prints one JSON line.
"""

from __future__ import annotations

import json
import sys


def _open_text(p: str):
    if p.endswith(".zstd"):
        # no python-zstandard in the sandbox; shell out to the zstd CLI
        import io
        import subprocess
        raw = subprocess.run(["zstd", "-dc", p], capture_output=True,
                             check=True).stdout
        return io.StringIO(raw.decode("utf-8", errors="replace"))
    return open(p)


def _lines(path: str):
    import os

    if os.path.isdir(path):
        # Spark 4 rolling layout: eventlog_v2_<app>/events_1_<app>...
        parts = sorted(f for f in os.listdir(path)
                       if f.startswith("events"))
        for p in parts:
            with _open_text(os.path.join(path, p)) as f:
                yield from f
        return
    with _open_text(path) as f:
        yield from f


def sql_executions(sql: dict[int, list], t0: float, t_end: float) -> dict:
    """Per-execution rows, and how many executions overlapped no
    execution of another root (an execution's nested children share
    its root and do not count as concurrency)."""
    # an execution still open at the log's end runs to its last job
    spans = {eid: (root, lo, t_end if hi is None else hi, n_jobs)
             for eid, (root, lo, hi, n_jobs) in sql.items()}
    rows, alone = [], 0
    for eid, (root, lo, hi, n_jobs) in sorted(spans.items()):
        if not any(r != root and a < hi and lo < b
                   for r, a, b, _ in spans.values()):
            alone += 1
        rows.append({"id": eid, "start": round(lo - t0, 3),
                     "sec": round(hi - lo, 3), "jobs": n_jobs})
    return {"sql_executions": len(rows), "sql_alone": alone,
            "sql": rows}


def probe(path: str, top_n: int = 10) -> dict:
    jobs = 0
    job_submit: dict[int, float] = {}
    first_submit = None
    last_end = None
    intervals: list[tuple[float, float]] = []  # task (launch, finish)
    stages = 0
    # SQL execution id -> [root id, start, end, jobs]
    sql: dict[int, list] = {}
    if True:
        for line in _lines(path):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                jobs += 1
                t = ev["Submission Time"] / 1000.0
                job_submit[ev["Job ID"]] = t
                first_submit = t if first_submit is None else min(first_submit, t)
                props = ev.get("Properties") or {}
                eid = props.get("spark.sql.execution.id")
                if eid is not None and int(eid) in sql:
                    sql[int(eid)][3] += 1
            elif kind.endswith(".SparkListenerSQLExecutionStart"):
                eid = ev["executionId"]
                sql[eid] = [ev.get("rootExecutionId", eid),
                            ev["time"] / 1000.0, None, 0]
            elif kind.endswith(".SparkListenerSQLExecutionEnd"):
                if ev["executionId"] in sql:
                    sql[ev["executionId"]][2] = ev["time"] / 1000.0
            elif kind == "SparkListenerJobEnd":
                t = ev["Completion Time"] / 1000.0
                last_end = t if last_end is None else max(last_end, t)
            elif kind == "SparkListenerStageSubmitted":
                stages += 1
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                lt, ft = info.get("Launch Time"), info.get("Finish Time")
                if lt and ft:
                    intervals.append((lt / 1000.0, ft / 1000.0))
    if first_submit is None or last_end is None:
        return {"error": "no jobs in log"}
    # merge task intervals, find uncovered spans in [first_submit, last_end]
    intervals.sort()
    gaps: list[tuple[float, float]] = []
    cur = first_submit
    for lo, hi in intervals:
        if lo > cur:
            gaps.append((cur, lo))
        cur = max(cur, hi)
    if cur < last_end:
        gaps.append((cur, last_end))
    gap_total = sum(hi - lo for lo, hi in gaps)
    wall = last_end - first_submit
    # label each gap with the first job submitted at/after its start
    submits = sorted((t, jid) for jid, t in job_submit.items())
    top = []
    for lo, hi in sorted(gaps, key=lambda g: g[1] - g[0], reverse=True)[:top_n]:
        nxt = next((jid for t, jid in submits if t >= lo - 0.001), None)
        top.append({"sec": round(hi - lo, 2),
                    "at": round(lo - first_submit, 1),
                    "before_job": nxt})
    return {
        "jobs": jobs,
        "stages": stages,
        "wall_sec": round(wall, 1),
        "zero_task_gap_sec": round(gap_total, 1),
        "gap_share": round(gap_total / wall, 3),
        "n_gaps_over_100ms": sum(1 for lo, hi in gaps if hi - lo > 0.1),
        "top_gaps": top,
        **sql_executions(sql, first_submit, last_end),
    }


if __name__ == "__main__":
    top_n = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    print(json.dumps(probe(sys.argv[1], top_n)))
