"""Cumulative (MERGE) imports: materialize.merge_graph — the
reference's re-import-without-clear semantics (Neo4j MERGE upserts:
nodes last-wins, relationship MERGE set-union; importer.py:87-93
re-run against a live store)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openalex_neo4j_spark.corpus import build_world, pages_dataframe
from openalex_neo4j_spark.materialize import merge_graph, write_graph
from openalex_neo4j_spark.pipeline import build_graph


@pytest.fixture(scope="module")
def split_worlds(spark):
    world = build_world(80, seed=7)
    pages = pages_dataframe(spark, world, num_partitions=8)
    # deterministic halves by url hash; both halves can cite works
    # from the other half (CITES endpoints resolve per import)
    h = F.abs(F.xxhash64("url")) % 2
    return pages.filter(h == 0), pages.filter(h == 1), pages


def test_merge_import_is_cumulative_and_refreshes_counts(
        spark, split_worlds, tmp_path_factory):
    p_a, p_b, _ = split_worlds
    root = str(tmp_path_factory.mktemp("kg_merge"))

    g_a = build_graph(p_a)
    counts_a = write_graph(g_a, root)
    g_b = build_graph(p_b)
    counts_m = merge_graph(g_b, root)

    # cumulative: merged Work ids are a superset of both halves' ids
    ids_a = {r["id"] for r in g_a.nodes["Work"].select("id").collect()}
    ids_b = {r["id"] for r in g_b.nodes["Work"].select("id").collect()}
    work = spark.read.parquet(f"{root}/nodes_work")
    ids_m = {r["id"] for r in work.select("id").collect()}
    assert ids_m == ids_a | ids_b
    assert counts_m["Work"] == len(ids_m)
    assert counts_m["Work"] >= counts_a["Work"]
    # unique-id constraint survives the merge (D1)
    assert work.count() == work.select("id").distinct().count()

    # edges: set-union on (subj, pred, obj), no duplicates
    edges = spark.read.parquet(f"{root}/edges").select("subj", "pred", "obj")
    e_a = {tuple(r) for r in
           g_a.edges.select("subj", "pred", "obj").collect()}
    e_b = {tuple(r) for r in
           g_b.edges.select("subj", "pred", "obj").collect()}
    e_m = [tuple(r) for r in edges.collect()]
    assert len(e_m) == len(set(e_m))
    # every import's edge survives EXCEPT CITES rows whose endpoint
    # existence was evaluated per import: a merged edge set keeps them
    # all; the union may also not cover cross-half CITES that neither
    # import could resolve alone (endpoint in the other half) — those
    # are absent from both sides, so equality on the union holds
    assert set(e_m) == e_a | e_b

    # derived counts refreshed over the MERGED edges: every
    # (work, cited_by_count) triple equals the merged CITES in-degree
    cites_in = {r["obj"]: r["n"] for r in
                edges.filter(F.col("pred") == "CITES")
                .groupBy("obj").agg(F.count("*").alias("n")).collect()}
    got = {r["id"]: r["cited_by_count"] for r in
           work.select("id", "cited_by_count").collect()}
    for wid, n in cites_in.items():
        assert got[wid] == n, f"stale cited_by_count for {wid}"
    # and works cited by NO one are 0, not stale
    assert all(n == 0 for wid, n in got.items() if wid not in cites_in)

    # triples were REBUILT from merged state: the cited_by_count
    # property triples agree with the refreshed node table
    triples = spark.read.parquet(f"{root}/triples")
    t_counts = {r["subj"]: int(r["obj"]) for r in
                triples.filter(F.col("pred") == "cited_by_count")
                .collect() if r["subj"] in got}  # authors emit it too
    assert t_counts == got


def test_merge_import_is_idempotent(spark, split_worlds,
                                    tmp_path_factory):
    p_a, p_b, _ = split_worlds
    root = str(tmp_path_factory.mktemp("kg_merge_idem"))
    write_graph(build_graph(p_a), root)
    g_b = build_graph(p_b)
    first = merge_graph(g_b, root)
    again = merge_graph(g_b, root)
    assert again == first  # re-importing the same batch changes nothing


def test_merge_last_wins_on_node_props(spark, split_worlds,
                                       tmp_path_factory):
    _, _, pages = split_worlds
    root = str(tmp_path_factory.mktemp("kg_merge_lastwins"))
    write_graph(build_graph(pages), root)
    before = spark.read.parquet(f"{root}/nodes_work")
    n_before = before.count()
    assert before.filter(F.col("abstract").isNotNull()).count() > 0
    # re-import the same corpus with abstracts dropped (P10): the
    # re-imported rows must overwrite stored props last-wins, like
    # MERGE ... SET n += item (neo4j_client.py:246-252)
    merge_graph(build_graph(pages, skip_abstracts=True), root)
    after = spark.read.parquet(f"{root}/nodes_work")
    assert after.filter(F.col("abstract").isNotNull()).count() == 0
    assert after.count() == n_before


def _table_rows(spark, path):
    from collections import Counter

    df = spark.read.parquet(path)
    return Counter(tuple(r) for r in df.select(sorted(df.columns)).collect())


def test_failed_commit_waits_for_its_wave_and_rerun_converges(
        spark, split_worlds, tmp_path_factory, monkeypatch):
    """One commit of a merge wave raises: the error surfaces only after
    the wave's other commits have finished, no later wave starts,
    every table stays readable, and re-running the merge gives the
    tables an uninterrupted merge gives."""
    import os
    import shutil
    import time

    import openalex_neo4j_spark.materialize as mat

    p_a, p_b, _ = split_worlds
    tmp = tmp_path_factory.mktemp("kg_merge_fail")
    base, ref, failed = (str(tmp / d) for d in ("base", "ref", "failed"))
    write_graph(build_graph(p_a), base)
    shutil.copytree(base, ref)
    shutil.copytree(base, failed)
    g_b = build_graph(p_b)
    merge_graph(g_b, ref)

    real = mat._staged_overwrite
    finished: dict[str, float] = {}

    def edges_fail(df, path, partition_by=None):
        if os.path.basename(path) == "edges":
            raise RuntimeError("edge commit failed")
        real(df, path, partition_by)
        finished[os.path.basename(path)] = time.monotonic()

    monkeypatch.setattr(mat, "_staged_overwrite", edges_fail)
    with pytest.raises(RuntimeError, match="edge commit failed"):
        merge_graph(g_b, failed)
    raised = time.monotonic()
    monkeypatch.undo()
    # wave 1's node upserts all committed, before the error surfaced
    assert set(finished) == {f"nodes_{lb.lower()}" for lb in g_b.nodes}
    assert max(finished.values()) < raised
    assert _table_rows(spark, f"{failed}/triples") == _table_rows(
        spark, f"{base}/triples"), "a later wave ran after the failure"
    for name in os.listdir(failed):
        _table_rows(spark, f"{failed}/{name}")  # every table readable

    merge_graph(g_b, failed)
    tables = sorted(n for n in os.listdir(ref) if n != "lineage")
    assert tables == sorted(n for n in os.listdir(failed) if n != "lineage")
    for name in tables:
        assert _table_rows(spark, f"{failed}/{name}") == _table_rows(
            spark, f"{ref}/{name}"), name


def test_caller_job_group_covers_every_commit_job(spark, split_worlds,
                                                  tmp_path_factory):
    """A job group set by the caller covers every job write_graph and
    merge_graph submit, including those of their concurrent waves."""
    p_a, p_b, _ = split_worlds
    g_a, g_b = build_graph(p_a), build_graph(p_b)
    root = str(tmp_path_factory.mktemp("kg_job_group"))
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("kg-commit", "write and merge")
    try:
        write_graph(g_a, root, with_search_indexes=True)
        merge_graph(g_b, root, with_search_indexes=True)
    finally:
        sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()
    assert len(tracker.getJobIdsForGroup("kg-commit")) > 10
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
