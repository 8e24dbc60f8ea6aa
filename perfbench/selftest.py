#!/usr/bin/env python3
"""Self-test of the KG benchmark at a tiny corpus size.

    python3 perfbench/selftest.py

Checks three things and exits non-zero if one fails:

1. every workload, untraced and traced, prints each metric named in
   BENCHMARK.json with its unit, in its table and in the JSON result;
2. the triple P/R check, made exact, passes a tiny import and fails
   it with one triple dropped;
3. merging the same delta into a restored merge base twice gives
   identical graph bytes outside the lineage table, whose rows hold
   each commit's measured wall time.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY_WORKS = 30


def check_metrics(spec: dict) -> list[str]:
    errors = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", w["name"], "--seed", "1", "--seconds", "1",
                   "--trace", str(trace), "--works", str(TINY_WORKS)]
            out = subprocess.run(cmd, capture_output=True, text=True,
                                 timeout=300)
            where = f"{w['name']} --trace {trace}"
            if out.returncode != 0:
                errors.append(f"{where}: exit {out.returncode}\n"
                              + out.stderr[-2000:])
                continue
            lines = out.stdout.splitlines()
            result = json.loads(lines[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                errors.append(f"{where}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"]:
                errors.append(f"{where}: correct={result['correct']} "
                              f"failed={result['failed']}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {m: v["unit"] for m, v in result["metrics"].items()}
            if got != want:
                errors.append(f"{where}: metrics differ from BENCHMARK.json: "
                              f"{sorted(set(got) ^ set(want))} or units")
            table = {tuple(ln.split()[:3:2]) for ln in lines[:-1]
                     if len(ln.split()) >= 3}
            missing = [m for m, u in want.items() if (m, u) not in table]
            if missing:
                errors.append(f"{where}: not printed with unit: {missing}")
    return errors


def check_graph() -> list[str]:
    """Import a tiny corpus; its triples must pass an exact P/R check
    and fail it with one triple dropped. Then merge the same delta into
    a restored copy of the import twice and compare the graph bytes
    outside ``lineage/``: its ``wall_ms`` values differ from run to run,
    and with them, now and then, the size of its parquet file."""
    from openalex_neo4j_spark.oracle import precision_recall
    from perfbench import run, workload as wl

    errors = []
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    run.setup_env(work)
    spark = run.start_spark(work, trace=False)
    try:
        inputs = wl.make_inputs(wl.Spec(TINY_WORKS, 0), 1, work)
        base = os.path.join(work, "base")
        wl.import_graph(spark, inputs.full, base)
        got = wl.read_triples(spark, base)
        if not wl.pr_ok(*precision_recall(got, inputs.truth), floor=1.0):
            errors.append("the tiny import is not exact: "
                          f"{precision_recall(got, inputs.truth)}")
        got.discard(min(got))
        if wl.pr_ok(*precision_recall(got, inputs.truth), floor=1.0):
            errors.append("P/R check passes a graph with a dropped triple")
        sizes = []
        for _ in range(2):
            root = os.path.join(work, "merged")
            shutil.rmtree(root, ignore_errors=True)
            shutil.copytree(base, root)
            wl.merge_delta(spark, inputs.delta, root)
            sizes.append(wl.dir_bytes(root)
                         - wl.dir_bytes(os.path.join(root, "lineage")))
        if sizes[0] != sizes[1]:
            errors.append(f"merge into a restored base: graph bytes {sizes}")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return errors


def main() -> int:
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = check_graph() + check_metrics(spec)
    for e in errors:
        print("FAIL:", e)
    print("self-test", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
