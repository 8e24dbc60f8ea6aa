#!/usr/bin/env python3
"""KG benchmark: bulk import, hybrid search and cumulative merge of a
crawled corpus, with a traced per-layer run.

    python3 perfbench/run.py --workload small --seed 1 --seconds 1 --trace 0

Run from any directory: the checkout is located from this file's path
and shipped to the Python workers on ``PYTHONPATH``. Everything a run
writes goes to ``.perfbench_work/`` in the checkout and is removed when
the run ends.

A run builds its corpus with ``corpus.build_world(seed=--seed)`` and
drives the library from one process on ``local[<usable cores>]``:

- set-up (``setup_s``): Python and Spark start, corpus, page files,
  oracle triples, and the untimed warm-up query (see search);
- import (``import_s``): ``build_graph`` + ``write_graph(
  with_search_indexes=True)`` into a fresh directory, as ``scripts/kg.py
  import --clear`` commits it. It is the first import of the process,
  as every CLI import is, so it includes JIT and codegen warm-up;
- search (``search_s``): a closed loop of one client, ``hybrid_search(
  ..., index=stored index, score_round=6).collect()`` over seeded 3-word
  title queries against the imported graph: an untimed warm-up query
  and a timed one before the merge, then timed ones after it until
  there are two and they have taken ``--seconds``;
- merge (``merge_s``): ``kg.py import`` without ``--clear``: 1 % of the
  pages are crawled again, and ``build_graph`` of them + ``merge_graph(
  with_search_indexes=True)`` merges them into a copy of the graph.

Checks, untimed, after each operation: triple precision and recall
against ``oracle.oracle_triples(world)`` of at least 0.95 after import
and merge, and search ids equal to ``kg_oracle.hybrid_oracle_py`` scored
over the Work rows of the searched graph. An operation that raises or
fails its check counts in ``failed``. How many queries differ from the
oracle over the true Work table is printed, not gated: that difference
comes from extraction, which the P/R floor gates. A
``bench_extra.calibration`` reading is printed beside the metrics, so a
noisy host shows.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
operations with the Spark event log on and a span around each layer
call (see ``perfbench/trace.py``) and prints the per-layer metrics.
The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# a run that has not finished by then is killed with its JVM, so that a
# hung Spark job ends the run rather than the whole benchmark
TIME_LIMIT_S = 170
# the first query of a process pays its JIT warm-up alone (1.4-1.7x a
# later one), so it is untimed and counts in setup_s; search_s is the
# median of the later ones. On a loaded host, queries of one run differ
# by up to 15 %, so at least two are timed, one on each side of the
# merge, which keeps a short host stall from slowing both.
MIN_QUERIES = 2

# name -> unit; the order is the print order
END_TO_END = {
    "setup_s": "s",
    "import_s": "s",
    "triples_per_s": "1/s",
    "search_s": "s",
    "merge_s": "s",
    "triple_precision": "ratio",
    "triple_recall": "ratio",
    "merge_precision": "ratio",
    "merge_recall": "ratio",
    "graph_bytes": "bytes",
    "merge_graph_bytes": "bytes",
}
LAYERS = ("extract", "link", "assemble", "commit", "search")
LAYER_METRICS = {
    "wall_s": "s", "busy_s": "s", "idle_s": "s", "jobs": "count",
    "tasks": "count", "rows_in": "rows", "rows_out": "rows",
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes",
}
PER_LAYER = {f"{layer}.{m}": u for layer in LAYERS
             for m, u in LAYER_METRICS.items()}
PER_LAYER.update({
    "extract.input_bytes": "bytes", "extract.output_bytes": "bytes",
    "commit.input_bytes": "bytes", "commit.output_bytes": "bytes",
    "link.clusters": "count", "link.fuzzy_links": "count",
    "commit.rows_written_per_delta_row": "ratio",
    "search.rows_scanned_per_result": "ratio",
    "search.vector_s": "s", "search.fulltext_s": "s", "search.hydrate_s": "s",
    "trace.coverage": "ratio", "trace.overhead_s": "s",
})

# where earlier recorded numbers come from, printed with every run
PROVENANCE = (
    "bench.py:kg_scale_for maps every data dir but sf0.1/sf0.01 (so every "
    "sf1.0 run) to a 200-work, no-filler probe labelled sf 0.001: the "
    "round 5-6 'sf1.0 kg_build' numbers compare with workload 'small'.",
    "round-6 (r06) bench numbers were taken on local[32] (32 CPUs).",
    "measured P/R on seed 42: 0.99933/0.99935 at 20k works, "
    "0.99944/0.99977 at 2k works (the ROADMAP baseline table says 1.0).",
)


def summary(xs: list[float]) -> dict:
    """Median, and the highest percentile with at least ten samples
    beyond it (none below 11 samples)."""
    xs = sorted(xs)
    n = len(xs)
    out = {"median": statistics.median(xs), "n": n}
    if n >= 11:
        out[f"p{100 * (n - 10) // n}"] = xs[n - 11]
    return out


def setup_env(work: str) -> None:
    for d in ("local", "stage", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_STAGE_DIR"] = os.path.join(work, "stage")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # spark-submit's launcher JVM and the driver JVM: no files in /tmp
    jvm_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(work: str, trace: bool):
    from openalex_neo4j_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": "4g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": os.environ["SPARK_LAUNCHER_OPTS"],
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        from perfbench.trace import event_log_conf

        conf.update(event_log_conf(os.path.join(work, "eventlog")))
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> list[int]:
    kids = []
    for f in glob.glob(f"/proc/{pid}/task/*/children"):
        with contextlib.suppress(OSError), open(f) as fh:
            kids += [int(k) for k in fh.read().split()]
    return [d for k in kids for d in [k, *_descendants(k)]]


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def end_jvm(kill: bool) -> None:
    """End the JVM that PySpark started (closing its stdin asks it to
    exit; ``kill`` kills it) and wait for it and for the processes it
    started: the Python worker daemon and its workers exit when the JVM
    closes their pipe, and are killed if they have not within 30 s."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway else None
    if proc is None:
        return
    kids = _descendants(proc.pid)
    if kill:
        proc.kill()
    else:
        proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(map(_running, kids)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in filter(_running, kids):
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)


def stop_spark(spark) -> None:
    """Stop Spark, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        end_jvm(kill=False)


class Run:
    """One benchmark run: counts operations and their check failures."""

    def __init__(self, spark, inputs, work: str):
        self.spark, self.inputs, self.work = spark, inputs, work
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.qi = 0
        # Work rows of the graph the queries search, and whether they
        # are those that perfect extraction gives
        self.works: list[dict] = []
        self.works_exact = True
        # queries whose ids differ from the oracle over the true Works
        self.world_differs = 0

    def record(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def op(self, fn, *args, **kw):
        """Run one timed operation; a raise counts as a failed op."""
        self.attempted += 1
        try:
            return fn(*args, **kw)
        except Exception as e:  # the run goes on; the op counts as failed
            print(f"op {fn.__name__} raised: {e!r}", file=sys.stderr)
            self.failed += 1
            return None

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr)

    def check_triples(self, root: str, prefix: str) -> None:
        from openalex_neo4j_spark.oracle import precision_recall
        from perfbench import workload as wl

        got = wl.read_triples(self.spark, root)
        p, r = precision_recall(got, self.inputs.truth)
        self.record(f"{prefix}_precision", p)
        self.record(f"{prefix}_recall", r)
        self.check(wl.pr_ok(p, r), f"{prefix} P/R {p:.5f}/{r:.5f} < "
                                   f"{wl.PR_FLOOR}")

    def import_step(self, tracer=None):
        """Fresh import of the full corpus; returns the loaded graph."""
        from perfbench import workload as wl

        root = os.path.join(self.work, "graph")
        if tracer is not None:
            tracer.op = "import"
        res = self.op(wl.import_graph, self.spark, self.inputs.full, root,
                      tracer)
        if res is None:
            return None
        dt, counts = res
        self.record("import_s", dt)
        self.record("triples_per_s", counts["triples"] / dt)
        self.record("graph_bytes", wl.dir_bytes(root))
        self.check_triples(root, "triple")
        self.boundary("import", tracer)
        self.works = wl.committed_works(self.spark, root)
        self.works_exact = self.works == wl.true_works(self.inputs)
        return wl.load_graph(self.spark, root)

    def search_step(self, graph, tracer=None, timed: bool = True) -> float:
        from perfbench import workload as wl

        q = self.inputs.queries[self.qi % len(self.inputs.queries)]
        self.qi += 1
        if tracer is not None:
            tracer.op = "search"
        res = self.op(wl.search, self.spark, graph, q, tracer)
        if res is None:
            return 0.0
        if timed:
            self.record("search_s", res[0])
        self.check(res[1] == wl.expected_ids(self.inputs, q, self.works),
                   f"search {q!r} ids differ from the oracle")
        if (not self.works_exact
                and res[1] != wl.expected_ids(self.inputs, q)):
            self.world_differs += 1
        if tracer is not None:
            self.record("search_results", len(res[1]))
            wl.search_legs(self.spark, graph, q, res[1], tracer)
        return res[0]

    def merge_step(self, tracer=None) -> None:
        """Cumulative import of the re-crawled delta into a copy of the
        graph committed by the last import step; the copy is untimed and
        leaves that graph to the queries."""
        from perfbench import workload as wl

        root = os.path.join(self.work, "merged")
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(os.path.join(self.work, "graph"), root)
        if tracer is not None:
            tracer.op = "merge"
        dt = self.op(wl.merge_delta, self.spark, self.inputs.delta, root,
                     tracer)
        if dt is None:
            return
        self.record("merge_s", dt)
        self.record("merge_graph_bytes", wl.dir_bytes(root))
        self.check_triples(root, "merge")
        self.boundary("merge", tracer)

    def boundary(self, op: str, tracer) -> None:
        """Row counts at the layer boundaries of the last traced build,
        counted between spans so no layer is charged for them."""
        if tracer is None:
            return
        from pyspark.sql import functions as F

        b = tracer.boundary
        linked = b["linked"]
        own = F.coalesce(
            F.when(F.trim(F.col("doi")) != "",
                   F.concat(F.lit("doi:"), F.lower(F.trim(F.col("doi"))))),
            F.concat(F.lit("title:"), F.col("norm_title")))
        g = b["graph"]
        graph_rows = (sum(df.count() for df in g.nodes.values())
                      + g.edges.count() + g.triples.count())
        pages = self.inputs.full if op == "import" else self.inputs.delta
        self.record("pages", self.spark.read.parquet(pages).count())
        self.record("mentions", b["mentions"].count())
        self.record("linked", linked.count())
        self.record("clusters", linked.select("work_key").distinct().count())
        self.record("fuzzy_links",
                    linked.filter(F.col("work_key") != own).count())
        self.record("graph_rows", graph_rows)
        if op == "merge":
            self.record("delta_graph_rows", graph_rows)


def layer_metrics(run: Run, tracer, untraced_import_s: float) -> dict:
    """Per-layer totals over the traced cycle (import, searches and
    merge), from the spans and the event log."""
    from perfbench.trace import attribute, read_event_log

    rows = attribute(tracer.spans, read_event_log(
        os.path.join(run.work, "eventlog")))
    s = run.samples
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [r for r in rows
                if r["layer"] == layer and r["op"] != "cold_import"]
        for m in ("wall_s", "busy_s", "idle_s", "jobs", "tasks",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            out[f"{layer}.{m}"] = sum(r[m] for r in mine)
        out[f"{layer}.input_bytes"] = sum(r["input_bytes"] for r in mine)
        out[f"{layer}.output_bytes"] = sum(r["output_bytes"] for r in mine)
        out[f"{layer}.input_rows"] = sum(r["input_rows"] for r in mine)
        out[f"{layer}.output_rows"] = sum(r["output_rows"] for r in mine)
    graph_rows = sum(s["graph_rows"])
    out.update({
        "extract.rows_in": sum(s["pages"]),
        "extract.rows_out": sum(s["mentions"]),
        "link.rows_in": sum(s["mentions"]),
        "link.rows_out": sum(s["linked"]),
        "assemble.rows_in": sum(s["linked"]),
        "assemble.rows_out": graph_rows,
        "commit.rows_in": graph_rows,
        "commit.rows_out": out["commit.output_rows"],
        "search.rows_in": out["search.input_rows"],
        "search.rows_out": sum(s["search_results"]),
        "link.clusters": sum(s["clusters"]),
        "link.fuzzy_links": sum(s["fuzzy_links"]),
        "search.rows_scanned_per_result":
            out["search.input_rows"] / max(1, sum(s["search_results"])),
    })
    merge_commit = [r for r in rows
                    if r["op"] == "merge" and r["layer"] == "commit"]
    out["commit.rows_written_per_delta_row"] = (
        sum(r["output_rows"] for r in merge_commit)
        / max(1, sum(s["delta_graph_rows"])))
    for leg in ("vector", "fulltext", "hydrate"):
        out[f"search.{leg}_s"] = sum(r["wall_s"] for r in rows
                                     if r["layer"] == f"search.{leg}")
    traced = sum(r["wall_s"] for r in rows if r["op"] == "import")
    out["trace.coverage"] = traced / untraced_import_s
    out["trace.overhead_s"] = traced - untraced_import_s
    print_layer_table(rows, out, untraced_import_s)
    return {k: out[k] for k in PER_LAYER}


def print_layer_table(rows: list[dict], out: dict,
                      untraced_import_s: float) -> None:
    cols = ("wall_s", "busy_s", "idle_s", "jobs", "tasks",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
            "input_bytes", "output_bytes")
    print("per-span attribution (event log; jobs by submission time):")
    print(f"  {'op':<13}{'layer':<16}" + "".join(f"{c:>20}" for c in cols))
    for r in rows:
        print(f"  {r['op']:<13}{r['layer']:<16}"
              + "".join(f"{r[c]:>20.3f}" if isinstance(r[c], float)
                        else f"{r[c]:>20}" for c in cols))
    print(f"import coverage: sum of traced import layer walls / untraced "
          f"import_s = {out['trace.coverage']:.3f} (untraced: mean of the "
          f"imports before and after, {untraced_import_s:.3f} s); tracing "
          f"overhead {out['trace.overhead_s']:+.3f} s")
    print("note: jobs triggered lazily inside write_graph/merge_graph "
          "(deferred node checkpoints, triples) are charged to commit")


def trace_ops(run: Run):
    """The traced run: a traced first import (cold, shown in the table
    only); warm imports untraced, traced, untraced, so that the mean of
    the untraced pair brackets the JIT drift the traced one sees; then a
    traced search with its three legs and a traced merge."""
    from perfbench import workload as wl
    from perfbench.trace import Tracer

    tracer = Tracer(op="cold_import")
    wl.import_graph(run.spark, run.inputs.full,
                    os.path.join(run.work, "graph"), tracer)
    run.import_step()
    run.import_step(tracer)
    graph = run.import_step()
    if graph is not None:
        run.search_step(graph, tracer)
    run.merge_step(tracer)
    return tracer


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 t_start: float, works: int | None = None) -> dict:
    import dataclasses

    from perfbench import workload as wl

    spec = wl.SPECS[name]
    if works:
        spec = dataclasses.replace(spec, n_works=works)
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    setup_env(work)
    spark = start_spark(work, trace)
    try:
        inputs = wl.make_inputs(spec, seed, work)
        run = Run(spark, inputs, work)
        setup_s = time.perf_counter() - t_start
        tracer = None
        if trace:
            tracer = trace_ops(run)
        else:
            graph = run.import_step()
            if graph is not None:
                setup_s += run.search_step(graph, timed=False)
                run.search_step(graph)
            run.merge_step()
            times = run.samples.setdefault("search_s", [])
            while graph is not None and (len(times) < MIN_QUERIES
                                         or sum(times) < seconds):
                if not run.search_step(graph):
                    break  # a failed query ends the loop
        from bench_extra import calibration

        calib = calibration(spark)
    finally:
        stop_spark(spark)
    if trace:
        untraced = run.samples["import_s"][0::2]
        metrics = layer_metrics(run, tracer, statistics.mean(untraced))
    else:
        run.record("setup_s", setup_s)
        metrics = {m: statistics.median(run.samples[m]) for m in END_TO_END}
    sizes = {"filler_words": spec.filler_words, **inputs.sizes(),
             "seed": seed}
    print(f"workload {name}: " + ", ".join(f"{k}={v}"
                                          for k, v in sizes.items()))
    print(f"calibration (bench_extra.calibration): {calib:.3f} s")
    units = PER_LAYER if trace else END_TO_END
    for m, v in metrics.items():
        xs = run.samples.get(m, [v])
        extra = "  ".join(f"{k}={x:.6g}" for k, x in summary(xs).items())
        print(f"  {m:<36} {v:>16.6g} {units[m]:<6} {extra}")
    print(f"search: {run.world_differs} of {run.qi} queries rank other "
          f"ids than the oracle over the true Work table (not gated; "
          f"the searched graph has {len(run.works)} Work nodes for "
          f"{len(inputs.world.works)} works)")
    for line in PROVENANCE:
        print("note:", line)
    shutil.rmtree(work, ignore_errors=True)
    return {"correct": run.failed == 0, "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {m: {"value": v, "unit": units[m]}
                        for m, v in metrics.items()}}


def _abort(signum, frame):
    """Kill the JVM, wait for it and its Python workers, and exit
    without a result: on the time limit, or when the run is stopped."""
    end_jvm(kill=True)
    shutil.rmtree(os.path.join(ROOT, ".perfbench_work"), ignore_errors=True)
    print("run exceeded its time limit" if signum == signal.SIGALRM
          else f"run stopped by signal {signum}", file=sys.stderr)
    os._exit(3)


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="least query time of the search loop")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--works", type=int,
                    help="override the workload's corpus size (self-test)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "openalex_neo4j_spark")):
        print(f"no openalex_neo4j_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workload import SPECS

    if args.workload not in SPECS:
        print(f"unknown workload {args.workload!r}; one of {sorted(SPECS)}",
              file=sys.stderr)
        return 2
    for sig in (signal.SIGALRM, signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, _abort)
    signal.alarm(TIME_LIMIT_S)
    result = run_workload(args.workload, args.seed, args.seconds,
                          bool(args.trace), t_start, args.works)
    signal.alarm(0)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
