"""Workload inputs, timed operations and output checks of the KG
benchmark.

A run does what a user of ``scripts/kg.py`` does with a crawl: import
the corpus into a fresh graph, search it, and import again into the
existing graph without clearing it (cumulative MERGE of a re-crawled
delta). Every operation goes through the library's public calls; the
checks after each one are untimed.

Traced operations replicate ``pipeline.build_graph`` call for call
(``mentions_from_pages`` -> ``ckpt`` -> ``link_mentions`` ->
``stage_parquet`` -> ``build_graph_from_linked``) with a span around
each layer. The one difference is that the mention checkpoint is eager,
so that parsing is charged to ``extract`` rather than to the first
linking job that would pull it; the traced run reports what that costs.
"""

from __future__ import annotations

import contextlib
import copy
import os
import random
import shutil
import time
import zlib
from unittest import mock
from dataclasses import dataclass

from perfbench.trace import Tracer

LABELS = ("Work", "Author", "Institution", "Source", "Topic", "Publisher",
          "Funder")
SEARCH_LIMIT = 10
SCORE_ROUND = 6
# a run whose triple precision or recall is below this counts as failed
PR_FLOOR = 0.95
# this share of the pages (at least one), the ones with the smallest url
# hashes, is crawled again and merged into the committed graph
DELTA_SHARE = 0.01


@dataclass(frozen=True)
class Spec:
    n_works: int
    filler_words: int


SPECS = {
    # fixed per-job driver latency dominates: parse and shuffle are small
    "small": Spec(n_works=200, filler_words=0),
    # heavy pages (~16 KB, as crawled landing pages are): 2.5x the rows
    # and ~30x the bytes of "small" through the same job graph
    "heavy": Spec(n_works=500, filler_words=2000),
}


def _subset(world, pages):
    w = copy.copy(world)
    w.pages = pages
    return w


def _delta_urls(pages) -> set[str]:
    n = max(1, round(len(pages) * DELTA_SHARE))
    return set(sorted((p.url for p in pages),
                      key=lambda u: (zlib.crc32(u.encode()), u))[:n])


@dataclass
class Inputs:
    world: object
    truth: set
    full: str
    delta: str
    queries: list[str]

    def sizes(self) -> dict[str, int]:
        return {"works": len(self.world.works),
                "pages": len(self.world.pages),
                "delta_pages": len(_delta_urls(self.world.pages)),
                "oracle_triples": len(self.truth)}


def make_inputs(spec: Spec, seed: int, work_dir: str) -> Inputs:
    """Corpus, page splits and queries, all from ``seed``."""
    from openalex_neo4j_spark.corpus import build_world, write_pages_parquet
    from openalex_neo4j_spark.oracle import oracle_triples

    world = build_world(spec.n_works, seed=seed,
                        filler_words=spec.filler_words)
    delta = _delta_urls(world.pages)
    dirs = {}
    for name, keep in (("full", lambda u: True), ("delta", delta.__contains__)):
        dirs[name] = os.path.join(work_dir, f"pages_{name}")
        pages = [p for p in world.pages if keep(p.url)]
        write_pages_parquet(_subset(world, pages), dirs[name], num_files=16)
    rng = random.Random(seed)
    titles = sorted(w.title for w in world.works.values())
    queries = [" ".join(rng.choice(titles).split()[:3]) for _ in range(64)]
    return Inputs(world, oracle_triples(world), queries=queries, **dirs)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def read_triples(spark, root: str) -> set:
    df = spark.read.parquet(f"{root}/triples").select("subj", "pred", "obj")
    return {tuple(r) for r in df.collect()}


def pr_ok(p: float, r: float, floor: float = PR_FLOOR) -> bool:
    return p >= floor and r >= floor


def _span(tracer: Tracer | None, layer: str):
    return contextlib.nullcontext() if tracer is None else tracer.span(layer)


def _build(spark, pages_dir: str, tracer: Tracer | None):
    """``pipeline.build_graph`` on a page directory; with a tracer, the
    same calls wrapped in layer spans."""
    from openalex_neo4j_spark.pipeline import build_graph
    from openalex_neo4j_spark.sources import read_pages

    if tracer is None:
        return build_graph(read_pages(spark, pages_dir))
    from openalex_neo4j_spark.extract import mentions_from_pages
    from openalex_neo4j_spark.linking import link_mentions
    from openalex_neo4j_spark.pipeline import build_graph_from_linked
    from openalex_neo4j_spark.session import ckpt, stage_parquet

    with tracer.span("extract"):
        mentions = ckpt(mentions_from_pages(read_pages(spark, pages_dir)),
                        eager=True)
    with tracer.span("link"):
        linked = stage_parquet(link_mentions(mentions), "linked")
    with tracer.span("assemble"):
        g = build_graph_from_linked(linked)
    tracer.boundary = {"mentions": mentions, "linked": linked}
    return g


def import_graph(spark, pages_dir: str, out: str,
                 tracer: Tracer | None = None) -> tuple[float, dict]:
    """Fresh import (``write_graph`` with search indexes, as
    ``kg.py import --clear`` commits it); returns (seconds, counts)."""
    from openalex_neo4j_spark.materialize import write_graph

    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    g = _build(spark, pages_dir, tracer)
    with _span(tracer, "commit"):
        counts = write_graph(g, out, with_search_indexes=True)
    if tracer is not None:
        tracer.boundary["graph"] = g
    return time.perf_counter() - t0, counts


def merge_delta(spark, pages_dir: str, root: str,
                tracer: Tracer | None = None) -> float:
    """Cumulative import (``kg.py import`` without ``--clear``):
    ``build_graph`` of the delta pages + ``merge_graph`` into the graph
    committed at ``root``; returns seconds."""
    from openalex_neo4j_spark.materialize import merge_graph

    t0 = time.perf_counter()
    g = _build(spark, pages_dir, tracer)
    with _span(tracer, "commit"):
        merge_graph(g, root, with_search_indexes=True)
    if tracer is not None:
        tracer.boundary["graph"] = g
    return time.perf_counter() - t0


def load_graph(spark, root: str):
    nodes = {lb: spark.read.parquet(f"{root}/nodes_{lb.lower()}")
             for lb in LABELS}
    return (nodes, spark.read.parquet(f"{root}/edges"),
            spark.read.parquet(f"{root}/index_fulltext"))


def search(spark, graph, query: str,
           tracer: Tracer | None = None) -> tuple[float, list[str]]:
    """One closed-loop client query against the stored index; returns
    (seconds, ranked work ids)."""
    from openalex_neo4j_spark.search import hybrid_search

    nodes, edges, index = graph
    t0 = time.perf_counter()
    with _span(tracer, "search"):
        rows = hybrid_search(query, nodes, edges, limit=SEARCH_LIMIT,
                             index=index, score_round=SCORE_ROUND).collect()
    return time.perf_counter() - t0, [r["id"] for r in rows]


def search_legs(spark, graph, query: str, ids: list[str],
                tracer: Tracer) -> None:
    """The three stages of ``hybrid_search``, each called standalone
    under its own span: vector leg, fulltext leg and hydration."""
    from openalex_neo4j_spark.search import (OVERFETCH, embed_text_column,
                                             fulltext_topk, hydrate_works,
                                             query_embedding, vector_topk,
                                             work_embedding_text)

    nodes, edges, index = graph
    k = SEARCH_LIMIT * OVERFETCH
    embedded = embed_text_column(work_embedding_text(nodes["Work"]),
                                 "_embed_text")
    with tracer.span("search.vector"):
        vector_topk(embedded, query_embedding(query), k,
                    round_dp=SCORE_ROUND).collect()
    with tracer.span("search.fulltext"):
        fulltext_topk(index, query, k, round_dp=SCORE_ROUND).collect()
    result = spark.createDataFrame([(i,) for i in ids], "id string")
    with tracer.span("search.hydrate"):
        hydrate_works(result, nodes, edges).collect()


def committed_works(spark, root: str) -> list[dict]:
    """The Work rows that search ranks in the graph committed at
    ``root``, in the shape of ``kg_oracle.work_table_py``."""
    df = spark.read.parquet(f"{root}/nodes_work")
    return sorted((r.asDict() for r in
                   df.select("id", "title", "abstract").collect()),
                  key=lambda r: r["id"])


def true_works(inputs: Inputs) -> list[dict]:
    """``committed_works`` as perfect extraction of the world gives it."""
    from openalex_neo4j_spark.kg_oracle import work_table_py

    return [{k: w[k] for k in ("id", "title", "abstract")}
            for w in work_table_py(inputs.world)]


def expected_ids(inputs: Inputs, query: str,
                 works: list[dict] | None = None) -> list[str]:
    """Ranked ids of ``kg_oracle.hybrid_oracle_py``: over the Work table
    that perfect extraction of the world gives, or, with ``works``, over
    those rows. Linking that splits or merges a work (which the P/R
    floor admits) changes the document frequencies and so the ranks;
    scoring the committed rows checks search apart from extraction."""
    from openalex_neo4j_spark import kg_oracle

    table = (contextlib.nullcontext() if works is None else
             mock.patch.object(kg_oracle, "work_table_py",
                               lambda _world: works))
    with table:
        rows = kg_oracle.hybrid_oracle_py(inputs.world, query,
                                          limit=SEARCH_LIMIT,
                                          round_dp=SCORE_ROUND)
    return [r[0] for r in rows]
