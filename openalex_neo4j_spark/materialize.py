"""Graph materialization: partitioned node/edge/triple tables.

Analog of the reference's two-phase import (nodes then relationships —
importer.py:87-93, README:156-161) with Neo4j ``UNWIND…MERGE`` batches
(neo4j_client.py:211-320) replaced by columnar table writes:

- one table per node label (``nodes_work``, ``nodes_author``, …),
- one ``edges`` table **partitioned by pred** (partition pruning for
  per-edge-type scans — the analog of Neo4j's relationship-type index),
- the exploded ``triples`` table (the P/R-scored artifact),
- a ``lineage`` table with per-partition rows (north rule: resumable
  runs + metrics).

Writer abstraction: plain parquet directories under a warehouse root
(the sandbox has no Iceberg runtime jar; the layout and MERGE-like
upsert semantics mirror what `df.writeTo(...).overwritePartitions()`
would do on Iceberg — swap `_write` to switch).
"""

from __future__ import annotations

import functools
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from openalex_neo4j_spark.pipeline import GraphTables
from openalex_neo4j_spark.session import run_concurrently


def _read_prior(spark: SparkSession, path: str) -> DataFrame | None:
    """Read an existing table for a cumulative MERGE, treating ONLY
    path-absence (or a data-less directory) as 'no prior state'.

    The previous bare ``except Exception: None`` converted a
    transient/corrupt read failure into a silent destructive replace:
    the merge would proceed with old=None and _staged_overwrite would
    commit just the delta over the live table (round-5 ADVICE,
    medium). Any error other than missing-path/no-files re-raises so a
    failed read aborts the merge instead of dropping history."""
    if not os.path.exists(path):
        return None
    from pyspark.errors import AnalysisException
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        s = str(e)
        # dir exists but holds no data files (e.g. only staging/marker
        # leftovers) — legitimately "no prior table"
        if "UNABLE_TO_INFER_SCHEMA" in s or "PATH_NOT_FOUND" in s:
            return None
        raise


def _recover_table(path: str) -> None:
    """If a previous commit crashed between the two renames (live dir
    moved aside, staged dir not yet promoted), restore the backup."""
    if not os.path.exists(path):
        for d in sorted(os.listdir(os.path.dirname(path) or ".")):
            full = os.path.join(os.path.dirname(path) or ".", d)
            if full.startswith(f"{path}.bak-"):
                os.rename(full, path)
                return


def _commit_table(staged: str, path: str) -> None:
    """Atomic-enough promote on a posix fs: each rename is atomic, and
    at every intermediate point either ``path`` or a ``.bak`` sibling
    holds the complete previous table (recovered by ``_recover_table``).
    The Iceberg analog is the snapshot-pointer swap of ``MERGE INTO``."""
    bak = f"{path}.bak-{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.rename(path, bak)
    os.rename(staged, path)
    shutil.rmtree(bak, ignore_errors=True)


def upsert_nodes(spark: SparkSession, path: str, new_df: DataFrame,
                 key: str = "id", backend: str = "plain") -> DataFrame:
    """Last-wins MERGE upsert (A2): re-imported rows overwrite stored
    properties, like the reference's ``MERGE … SET n += item``
    (neo4j_client.py:246-252; last-wins asserted in its
    tests/integration/test_neo4j_integration.py:134-151).

    Parquet stand-in for Iceberg ``MERGE INTO … WHEN MATCHED THEN
    UPDATE SET * WHEN NOT MATCHED THEN INSERT *``: union old+new with
    a precedence column, keep the newest row per key, write the merged
    table to a staging dir, then rename-commit — a crash at any point
    leaves the previous table readable (kill-test in
    tests/test_import_query.py).

    ``backend="snapshot"`` routes the same MERGE through
    :class:`~openalex_neo4j_spark.table_format.SnapshotTable` instead:
    versioned snapshots, min/max-key group pruning (only overlapping
    data groups rewritten), time travel, and safe concurrent writers —
    at the cost of the snapshot layout (``_snapshots/`` + ``data/``)
    replacing the plain parquet directory.
    """
    if backend == "snapshot":
        from openalex_neo4j_spark.table_format import SnapshotTable
        t = SnapshotTable(spark, path, key=key)
        # Migration guard: a path previously written by the PLAIN
        # backend holds bare parquet files and no _snapshots/ dir.
        # SnapshotTable would see version 0, commit only new_df, and
        # every read would silently drop the previously merged rows
        # (the old part files just sit unreferenced in the same
        # directory). Fold the existing plain table in as the initial
        # snapshot instead, so switching backends preserves state the
        # same way staying on plain would.
        if t.current_version() == 0:
            _recover_table(path)  # a crashed plain commit counts too
            # read only the TOP-LEVEL part files explicitly: the path
            # can also hold orphan data/<uuid>/ group dirs from a
            # snapshot first-merge that crashed before its manifest
            # commit (current_version() still 0) — a bare
            # read.parquet(path) would then see parquet leaves at
            # mixed directory depths and raise "Conflicting directory
            # structures", wedging the migration until manual cleanup
            plain_parts = sorted(
                os.path.join(path, f) for f in os.listdir(path)
                if f.endswith(".parquet")
            ) if os.path.isdir(path) else []
            if plain_parts:
                t.merge(spark.read.parquet(*plain_parts))
        t.merge(new_df)
        return t.read()
    _recover_table(path)
    old = _read_prior(spark, path)
    if old is not None:
        old = old.withColumn("_gen", F.lit(0))
    new = new_df.withColumn("_gen", F.lit(1))
    merged = new if old is None else old.unionByName(new, allowMissingColumns=True)
    w = Window.partitionBy(key).orderBy(F.col("_gen").desc())
    result = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_gen")
    )
    # the staged write reads the old table lazily — the live dir is
    # untouched until the rename-commit
    _staged_overwrite(result, path)
    return _read_back(result, path)


def _staged_overwrite(df: DataFrame, path: str,
                      partition_by: list[str] | None = None) -> None:
    """Overwrite ``path`` via a staged write + rename-commit, so the
    plan may READ the previous table at ``path`` (the staged write
    fully executes before the live dir moves) and a crash at any point
    leaves the previous table readable."""
    staged = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(staged)
    _commit_table(staged, path)


def _read_back(df: DataFrame, path: str) -> DataFrame:
    """The table just written from ``df`` at ``path``, scanned with
    ``df``'s schema (as ``session.stage_parquet`` does): an inferring
    ``spark.read.parquet(path)`` submits a footer-inference job of its
    own, and an empty partitioned table has no files to infer from."""
    return df.sparkSession.read.schema(df.schema).parquet(path)


def _overwrite_and_count(df: DataFrame, path: str,
                         partition_by: list[str] | None = None) -> int:
    """One commit of a wave: staged overwrite, then the committed row
    count."""
    _staged_overwrite(df, path, partition_by)
    return _read_back(df, path).count()


def merge_graph(g: GraphTables, root: str,
                with_search_indexes: bool = False) -> dict[str, int]:
    """Cumulative import: MERGE a newly built :class:`GraphTables`
    into an existing graph directory — the reference's re-import
    semantics, where a second run MERGEs into the live Neo4j store
    instead of replacing it (importer.py:87-93 re-run;
    ``MERGE … SET n += item`` neo4j_client.py:246-252 upserts node
    props last-wins and relationship MERGE is set semantics).

    - **Nodes**: last-wins upsert per label (A2, ``upsert_nodes``).
    - **Edges**: set-union MERGE on (subj, pred, obj) — a re-imported
      edge cannot duplicate.
    - **Derived counts refreshed from the MERGED edge set**: a delta
      import can add CITES edges pointing at works that were not in
      the delta, so the stale last-wins counts are recomputed over the
      merged edges (Work.cited_by_count, Author.works_count/
      cited_by_count, Source.works_count, Publisher.works_count).
      Institution.works_count stays last-wins — it derives from linked
      mentions, which the warehouse does not retain across imports
      (documented boundary; see pipeline.enrich_node_counts).
    - **Triples REBUILT** from the merged node/edge state (property
      triples must reflect merged props, not the delta's).

    Identity note: DOI-keyed works, ORCID authors, ROR institutions,
    ISSN sources and slug-keyed topics/funders/publishers merge
    globally across imports by construction (their ids are computed
    from the entity, like the reference's OpenAlex ids). Title-minted
    orphan works merge when their normalized titles collapse to the
    same group; cross-import FUZZY links (LSH/TF-IDF) are not
    re-evaluated against the historical corpus — linking is per-import,
    the same boundary the reference has (it never re-links previously
    imported records either).

    Commit order: three concurrent waves (``session.run_concurrently``),
    each finished before the next starts.

    1. The 7 node upserts and the edge set-union.
    2. After ``enrich_node_counts`` eagerly checkpoints the refreshed
       Work: the 4 count-refresh overwrites (Work, Author, Source,
       Publisher) and, with ``with_search_indexes``, ``index_fulltext``,
       built from that checkpoint.
    3. The triples rewrite and the row counts of the tables wave 2 did
       not rewrite.

    Safety condition, per wave: no wave starts while a checkpoint its
    jobs share is unmaterialized (the node tables of ``g`` come from
    ``build_graph_from_linked`` materialized, and the refreshed Work is
    checkpointed eagerly before wave 2), and no thread reads a path
    that another thread of its wave replaces (each upsert and refresh
    reads only its own table; the index never reads ``nodes_work``).
    Every commit is a staged write plus rename, so a failed action
    leaves its table at the previous version; the wave still lets its
    other commits finish before the first error is raised, and
    re-running the merge converges (upserts are last-wins, the edge
    merge is a set union, the refreshes recompute from merged edges).
    """
    spark = g.edges.sparkSession
    from openalex_neo4j_spark.pipeline import (build_triples,
                                               enrich_node_counts)

    t0 = time.time()
    paths = {label: f"{root}/nodes_{label.lower()}" for label in g.nodes}
    paths.update(edges=f"{root}/edges", triples=f"{root}/triples",
                 index_fulltext=f"{root}/index_fulltext")

    def merge_edges() -> DataFrame:
        _recover_table(paths["edges"])
        old_e = _read_prior(spark, paths["edges"])
        new_e = g.edges.select("subj", "pred", "obj")
        all_e = (new_e if old_e is None
                 else old_e.select("subj", "pred", "obj").unionByName(new_e)
                 .dropDuplicates(["subj", "pred", "obj"]))
        _staged_overwrite(all_e, paths["edges"], partition_by=["pred"])
        return _read_back(all_e, paths["edges"])

    # wave 1: node upserts and the edge set-union
    merged = run_concurrently(spark, {
        **{label: functools.partial(upsert_nodes, spark, paths[label], df)
           for label, df in g.nodes.items()},
        "edges": merge_edges})
    edges = merged.pop("edges")

    # wave 2: the edge-derived count refreshes and the fulltext index.
    # enrich_node_counts checkpoints the refreshed Work eagerly, so the
    # wave shares only materialized blocks and the merged edges; each
    # refreshed plan reads only its OWN table, and the index is built
    # from the Work checkpoint, never from nodes_work, which the Work
    # commit of this wave swaps.
    refresh_cols = {"Work": ["cited_by_count"],
                    "Author": ["works_count", "cited_by_count"],
                    "Source": ["works_count"],
                    "Publisher": ["works_count"]}
    base = dict(merged)
    for label, cols in refresh_cols.items():
        base[label] = merged[label].drop(*cols)
    refreshed = enrich_node_counts(base, edges, linked=None)
    wave = {label: functools.partial(_overwrite_and_count, refreshed[label],
                                     paths[label])
            for label in refresh_cols}
    if with_search_indexes:
        from openalex_neo4j_spark.search import work_fulltext_index

        wave["index_fulltext"] = functools.partial(
            _overwrite_and_count, work_fulltext_index(refreshed["Work"]),
            paths["index_fulltext"])
    counts = run_concurrently(spark, wave)
    for label in refresh_cols:
        merged[label] = _read_back(refreshed[label], paths[label])

    # wave 3: triples rebuilt from the merged state, and the counts of
    # the tables wave 2 did not rewrite
    triples = build_triples(merged, edges)
    wave = {"triples": functools.partial(_overwrite_and_count, triples,
                                         paths["triples"], ["pred"]),
            "edges": edges.count}
    wave.update({label: df.count for label, df in merged.items()
                 if label not in counts})
    counts.update(run_concurrently(spark, wave))

    from openalex_neo4j_spark.schemas import LINEAGE_SCHEMA

    wall_ms = int((time.time() - t0) * 1000)
    spark.createDataFrame(
        [("merge", -1, None, counts["triples"], wall_ms, "done", "merge")],
        LINEAGE_SCHEMA,
    ).write.mode("append").parquet(f"{root}/lineage")
    return counts


def _write(df: DataFrame, path: str,
           partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(df: DataFrame, table: str, key: str,
                   num_buckets: int = 16) -> None:
    """Bucketed + sorted table write: joins/aggregations on ``key``
    between co-bucketed tables need no exchange (the warehouse analog
    of pre-partitioning for repeated co-located joins — SURVEY §4).

    Uses the session catalog (saveAsTable); on Iceberg this maps to a
    bucket partition transform."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a stale managed location without catalog metadata (e.g. from a
    # previous session) blocks re-creation — clear it
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if wh.startswith("file:"):
        wh = wh[5:]
    if wh:
        shutil.rmtree(f"{wh}/{table}", ignore_errors=True)
    (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


def write_graph(g: GraphTables, root: str,
                with_search_indexes: bool = False) -> dict[str, int]:
    """Write all tables; return row counts (A7 import-count report,
    importer.py:95-98 / cli.py:159-181).

    ``with_search_indexes=True`` additionally materializes the fulltext
    inverted index over the written Work table (``index_fulltext``) —
    the import-time DDL analog of the reference's fulltext/vector index
    creation (neo4j_client.py:134-144, 191-207; importer step 5). The
    search path then reads the stored index instead of rebuilding it
    per query.

    Every table is written in ONE concurrent wave
    (``session.run_concurrently``): the 7 node tables, edges, triples
    and the index, each action counting its own table after its
    write. A serial loop would pay ~10 driver-blocking actions of fixed
    scheduler latency back to back. The wave is safe because:

    - no job of it first-materializes a shared checkpoint: every node
      table of a graph from ``pipeline.build_graph_from_linked`` is an
      eagerly materialized checkpoint and edges are a staged parquet
      scan, so the triples and index plans only read finished blocks
      and files (a caller assembling ``GraphTables`` by other means
      must hand over materialized node tables, or the wave can
      deadlock the driver; see ``run_concurrently``);
    - no action reads a path another one writes: the index is built
      from ``g.nodes["Work"]``, whose id/title/abstract rows are the
      ones written to ``nodes_work``, not from ``nodes_work`` itself.
    """
    spark = g.edges.sparkSession
    t0 = time.time()
    tables = {label: (df, f"{root}/nodes_{label.lower()}", None)
              for label, df in g.nodes.items()}
    tables["edges"] = (g.edges, f"{root}/edges", ["pred"])
    tables["triples"] = (g.triples, f"{root}/triples", ["pred"])
    if with_search_indexes:
        from openalex_neo4j_spark.search import work_fulltext_index

        tables["index_fulltext"] = (work_fulltext_index(g.nodes["Work"]),
                                    f"{root}/index_fulltext", None)

    def write_and_count(df: DataFrame, path: str, part) -> int:
        _write(df, path, partition_by=part)
        return _read_back(df, path).count()

    counts = run_concurrently(spark, {
        key: functools.partial(write_and_count, *t)
        for key, t in tables.items()})

    # lineage/metrics rows (north rule): one row per stage with wall
    # time and output counts
    wall_ms = int((time.time() - t0) * 1000)
    lineage_rows = [
        ("materialize", -1, None, counts["triples"], wall_ms, "done", "write")
    ]
    from openalex_neo4j_spark.schemas import LINEAGE_SCHEMA

    spark.createDataFrame(lineage_rows, LINEAGE_SCHEMA).write.mode(
        "append"
    ).parquet(f"{root}/lineage")
    return counts
