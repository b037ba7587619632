"""End-to-end pipeline orchestration: spans -> mentions -> nodes+edges.

Mirrors the reference's index lifecycle (SURVEY.md §3.1): Pass 1
entities, Pass 2 relationships, placeholder synthesis, dedupe — as one
declarative DataFrame DAG. ``persist=True`` caches the shared
intermediates (mentions, pre-placeholder nodes) that the DAG reads more
than once, the Spark analog of the reference's single-transaction batch
(db.rs:897-1037).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.edges import build_edges, checked_candidates
from .operators.nodes import (
    build_node_candidates,
    finalize_nodes,
    synthesize_placeholders,
)
from .operators.parse import parse_mentions, parse_mentions_pandas


@dataclass
class Graph:
    nodes: DataFrame  # includes placeholder nodes
    edges: DataFrame
    mentions: DataFrame
    # persisted intermediates not exposed as top-level frames (the slim
    # node candidates behind `nodes`); tracked so unpersist frees them
    cached: tuple = ()

    def unpersist(self) -> None:
        for df in (self.nodes, self.edges, self.mentions, *self.cached):
            try:
                df.unpersist()
            except Exception:
                pass


def build_graph(
    spans_df: DataFrame,
    use_pandas_parser: bool = False,
    persist: bool = True,
) -> Graph:
    parse = parse_mentions_pandas if use_pandas_parser else parse_mentions
    mentions = parse(spans_df)
    if persist:
        mentions = mentions.persist()
    # the cache boundary is the SLIM deduped frame (flat strings):
    # columnar cache writes are ~40% cheaper than caching the finalized
    # frame with its array<struct> payloads, and every downstream read
    # either needs only id/entity_type (source-exists probe,
    # placeholders) or re-derives the payloads narrowly (finalize)
    slim = build_node_candidates(mentions, spans_df)
    if persist:
        slim = slim.persist()
    base_nodes = finalize_nodes(slim)
    edges = build_edges(mentions, slim)
    if persist:
        edges = edges.persist()
    # placeholders read the persisted edge table (the obj set is what
    # matters; deriving it from pre-dedupe candidates instead was
    # measured slower — the recompute outweighs the branch parallelism)
    placeholders = synthesize_placeholders(edges, slim)
    nodes = base_nodes.unionByName(placeholders)
    return Graph(
        nodes=nodes, edges=edges, mentions=mentions,
        cached=(slim,) if persist else (),
    )


def flat_nodes(g: Graph) -> DataFrame:
    """Flat projection used by fixtures/oracle comparisons."""
    return g.nodes.select("id", "name", "entity_type", "doc_id", "containing_entity")


def flat_edges(g: Graph) -> DataFrame:
    return g.edges.select("id", "subj", "pred", "obj")


def materialize(g: Graph, out_dir: str, mode: str = "overwrite") -> None:
    """Write the graph as partitioned tables.

    Partitioning mirrors the reference's secondary indexes (db.rs:118-128):
    nodes by entity_type, edges by pred — so `pred = 'calls'`-style
    queries become partition-pruned scans. (Iceberg writer when the
    runtime is available; parquet layout is identical otherwise.)

    The pre-write repartition hashes on (partition col, id) — NOT the
    partition column alone, which would funnel each partition value
    through a single writer task and serialize the write.
    """
    spark = g.nodes.sparkSession
    n_out = max(spark.sparkContext.defaultParallelism, 8)

    # sortWithinPartitions on the lookup key gives parquet min/max
    # data skipping for point lookups (who-calls on subj, node by id) —
    # the flat-file analog of Iceberg sort orders / z-ordering
    def write_nodes():
        g.nodes.repartition(n_out, F.col("entity_type"), F.col("id")).sortWithinPartitions(
            "id"
        ).write.mode(mode).partitionBy("entity_type").parquet(f"{out_dir}/nodes")

    def write_edges():
        g.edges.repartition(n_out, F.col("pred"), F.col("id")).sortWithinPartitions(
            "subj"
        ).write.mode(mode).partitionBy("pred").parquet(f"{out_dir}/edges")

    _run_table_writes(g, [write_edges, write_nodes])


def _run_table_writes(g: Graph, writes: list) -> None:
    """Run a graph's independent table writes. The edge table is an
    input of the node table (placeholders): on a persisted graph it is
    computed once first, filling the shared caches, and the writes then
    run as concurrent Spark jobs from driver threads, so the second
    back-fills the first's task tail instead of serializing the output
    tail. Unpersisted, concurrent writes would each recompute the
    shared edge subtree, so they run in turn."""
    if g.edges.is_cached:
        g.edges.count()
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(len(writes)) as pool:
            for f in [pool.submit(w) for w in writes]:
                f.result()
    else:
        for w in writes:
            w()


def materialize_bucketed(
    g: Graph,
    database: str,
    location: str,
    n_buckets: int | None = None,
) -> None:
    """Bucketed table layout: co-locates the graph's hot JOIN keys.

    The path-based `materialize` layout gives partition pruning (pred /
    entity_type) but every downstream nodes⋈edges join still exchanges
    both sides. Bucketing nodes by `id` and edges by `subj` with the
    same bucket count pre-shuffles the tables ONCE at write time, so
    enrichment joins (UQL executor target lookups, who-calls + node
    payload) plan as bucket-local sort-merge joins with NO Exchange —
    at 100 TB that converts every downstream join from a full network
    shuffle into co-located reads (test_bucketed_join_no_shuffle pins
    the plan). On Iceberg the same layout is the `bucket(n, id)`
    partition transform; Spark's writer needs saveAsTable, so the
    tables register in the catalog with external parquet paths.
    sortBy(key) within buckets additionally lets SMJ skip its sort.
    """
    spark = g.nodes.sparkSession
    n = n_buckets or max(spark.sparkContext.defaultParallelism, 8)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")

    def write_one(args):
        name, df, key = args
        full = f"{database}.{name}"
        (
            df.write.format("parquet")
            .mode("overwrite")
            .option("path", f"{location}/{name}")
            .bucketBy(n, key)
            .sortBy(key)
            .saveAsTable(full)
        )

    targets = (("nodes", g.nodes, "id"), ("edges", g.edges, "subj"))
    for name, _, _ in targets:
        spark.sql(f"DROP TABLE IF EXISTS {database}.{name}")
    _run_table_writes(g, [partial(write_one, t) for t in targets])
