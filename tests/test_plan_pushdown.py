"""Executed-plan regression guards: the scan-pruning properties the
100 TB story depends on must survive refactors — partition pruning on
the pred-partitioned edge table, predicate pushdown for point lookups,
and single-scan shapes where we engineered them."""

from __future__ import annotations

from conftest import SF_SMOKE

from ummon_spark.corpus import load_spans
from ummon_spark.operators.traversal import (
    degree,
    entity_neighborhood,
    who_calls,
)
from ummon_spark.pipeline import build_graph, materialize


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_materialized_scan_properties(spark, tmp_path):
    g = build_graph(load_spans(spark, SF_SMOKE), persist=True)
    out = str(tmp_path / "graph")
    materialize(g, out)
    edges = spark.read.parquet(f"{out}/edges")

    # who_calls: the pred filter must hit the PARTITION index (pruned
    # scan — no data read outside pred=calls) and only the projected
    # columns reach the reader
    wc = _plan(who_calls(edges))
    assert "PartitionFilters" in wc and "calls" in wc
    assert "obj" in wc.split("ReadSchema")[-1]

    # neighborhood: ONE scan with the OR predicate pushed to parquet
    nb = _plan(entity_neighborhood(edges, "nope"))
    assert nb.count("FileScan") == 1
    assert "Or(EqualTo(subj,nope),EqualTo(obj,nope))" in nb.replace(" ", "")

    # degree: single exchange (one-pass agg), no join
    dg = _plan(degree(edges))
    assert dg.count("Exchange hashpartitioning") == 1
    assert "Join" not in dg


def test_edge_dedupe_single_shuffle(spark):
    """The edge dedupe (both levels: per-triple first-wins AND
    collapse-by-id) must stay ONE id-keyed hash aggregate with map-side
    partial combine — no second dedupe exchange, no duplicated
    candidate subtree (the r4 two-branch union regression: its branches
    could not reuse the candidate exchange, doubling the build)."""
    from pyspark.sql import functions as F

    from ummon_spark.operators.edges import build_edges

    checked = spark.createDataFrame(
        [("m", "defines", "m::a", "m", 1), ("m", "defines", "m::a", "m", 5)],
        "subj string, pred string, obj string, doc_id string, span_idx long",
    ).repartition(4)
    plan = _plan(build_edges(None, None, checked=checked))
    # exactly one shuffle for the dedupe, keyed by id
    assert plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(id" in plan
    # partial (map-side) min before the exchange, final after (r6: the
    # aggregate is min() over the single ordered struct — same winner
    # as min_by(payload, ord) with the payload/key duplication removed)
    assert plan.count("partial_min") >= 1
    assert "partial_min_by" not in plan
    # no union of re-computed branches
    assert "Union" not in plan


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """materialize_bucketed co-locates the join keys (nodes by id,
    edges by subj, same bucket count): a downstream enrichment join
    must plan as a bucket-local sort-merge join with NO Exchange on
    either side — the layout that turns every nodes⋈edges join at
    100 TB from a full network shuffle into co-located reads."""
    from ummon_spark.pipeline import materialize_bucketed

    g = build_graph(load_spans(spark, SF_SMOKE), persist=True)
    materialize_bucketed(g, "ummon_bucket_test", str(tmp_path / "bt"), n_buckets=4)
    nodes = spark.table("ummon_bucket_test.nodes")
    edges = spark.table("ummon_bucket_test.edges")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = edges.join(nodes, edges.subj == nodes.id).select(
            edges.id, nodes.entity_type
        )
        assert j.count() > 0
        plan = _plan(j)
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS ummon_bucket_test.nodes")
        spark.sql("DROP TABLE IF EXISTS ummon_bucket_test.edges")


def test_bucketed_frontier_join_no_edge_exchange(spark, tmp_path):
    """The BFS frontier join (transitive_closure's hot loop) on the
    bucketed layout must never exchange the EDGE side — the big table.

    Root round: roots come from nodes (bucketed by id) and join edges
    (bucketed by subj, same count) on id==subj — NO Exchange on either
    side. Later rounds: the frontier is a small derived frame, so only
    IT exchanges (to the edge table's bucket partitioning); the edge
    scan stays in place. At 100 TB this is the difference between
    re-shuffling the full edge table O(diameter) times and shuffling
    only the frontier."""
    from pyspark.sql import functions as F

    from ummon_spark.pipeline import materialize_bucketed

    g = build_graph(load_spans(spark, SF_SMOKE), persist=True)
    materialize_bucketed(g, "ummon_bucket_bfs", str(tmp_path / "bfs"), n_buckets=4)
    nodes = spark.table("ummon_bucket_bfs.nodes")
    edges = spark.table("ummon_bucket_bfs.edges")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        e = edges.filter(
            F.col("pred").isin("defines", "calls", "imports")
        ).select("subj", "obj")

        # round 1: both sides bucket-co-located -> zero exchanges
        roots = nodes.filter(F.col("entity_type") == "Module").select(
            F.col("id").alias("root")
        )
        j1 = roots.join(e, F.col("root") == e.subj).select(
            "root", F.col("obj").alias("dst")
        )
        plan1 = _plan(j1)
        assert "Exchange" not in plan1
        assert plan1.count("Bucketed: true") == 2

        # round k: only the (small) frontier exchanges, keyed by dst,
        # into the edge table's bucket partitioning
        frontier = spark.createDataFrame(
            [("r", "media::img_the")], "root string, dst string"
        )
        j2 = frontier.join(e, frontier.dst == e.subj).select(
            "root", F.col("obj").alias("dst2")
        )
        plan2 = _plan(j2)
        assert plan2.count("Exchange") == 1
        assert "hashpartitioning(dst" in plan2
        assert "Bucketed: true" in plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS ummon_bucket_bfs.nodes")
        spark.sql("DROP TABLE IF EXISTS ummon_bucket_bfs.edges")
