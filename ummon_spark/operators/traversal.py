"""Graph traversal: BFS closure + the driver's downstream graph queries.

Spark-first replacement for the reference's recursive-CTE traversal
(src/db.rs:791-895 `WITH RECURSIVE traverse`, depth cap 10 at
src/query/db_executor.rs:85): iterative frontier joins with
visited-set dedupe — the standard distributed BFS. Each round is one
join of the frontier (small) against the edges table (partitioned by
pred, so the predicate filter prunes partitions). Two walks use it:
`transitive_closure` builds (root, dst, depth) pairs from every root
and persists its levels; `bfs_levels` walks a set of node ids (the
UQL traversal's reverse walk from its targets) and local-checkpoints
its levels, so its lineage stays one level deep for all 10 hops.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

MAX_DEPTH = 10  # reference cap, db_executor.rs:85


class Level(NamedTuple):
    """One computed BFS level: its leaf frame, its row count and about
    the in-memory bytes of its rows."""

    frame: DataFrame
    rows: int
    nbytes: int


def _checkpoint_level(level: DataFrame) -> Level:
    """Compute one level of node ids once: its rows are
    local-checkpointed (cached blocks, plan cut to a leaf) and counted
    and sized by observed metrics of the same job, so the empty check
    costs no extra job. A row of one string column is an UnsafeRow of
    16 bytes (null bitset + offset/length word) plus the string."""
    obs = Observation()
    level = level.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.octet_length("id") + 16).alias("bytes"),
    ).localCheckpoint()
    metrics = obs.get
    return Level(level, metrics["rows"], metrics["bytes"] or 0)


def union_levels(levels: list[Level]) -> DataFrame:
    """The union of `levels`, broadcast-hinted when their observed bytes
    fit the session's `spark.sql.autoBroadcastJoinThreshold` (never
    when it is -1). That is the bound Spark applies to a relation's
    size itself; it is applied here by hand because a checkpointed
    frame keeps its plan's size ESTIMATE, and a join's estimate is the
    product of its sides: unhinted, every join on a level plans as a
    sort-merge join that shuffles its other side (the whole edge or
    node scan). Over the bound the planner chooses, as for any join."""
    frame = levels[0].frame
    for level in levels[1:]:
        frame = frame.unionByName(level.frame)
    conf = frame.sparkSession._jsparkSession.sessionState().conf()  # noqa: SLF001
    threshold = conf.autoBroadcastJoinThreshold()
    if sum(level.nbytes for level in levels) <= threshold:
        frame = F.broadcast(frame)
    return frame


def bfs_levels(
    first: DataFrame,
    expand: Callable[[DataFrame], DataFrame],
    max_depth: int = MAX_DEPTH,
) -> list[Level]:
    """Level-synchronous BFS over a visited set of node ids (col `id`).

    `first` holds the ids of level 1; `expand(frontier)` maps one level
    to the candidate ids of the next. Level k is its candidates'
    distinct ids not already in levels 1..k-1 (left_anti). The walk
    stops after `max_depth` levels or at the first empty one. Returns
    the levels, level 1 first (level 1 may be empty; no later level
    is). The frontier and the visited set enter their joins through
    `union_levels`, so while they are small the edge scan is only
    streamed past them, never shuffled.

    Each level is computed once and cut to a leaf plan
    (`_checkpoint_level`), so the visited set is a union of leaves and
    lineage stays one level deep. Persisted levels (as
    `transitive_closure` keeps them) hold their whole plans, and level
    k's plan holds the frontier's plus every earlier level's, so its
    size grows about 2.5x per level: on 4 local cores with a 7 GiB
    driver heap, a 7-hop chain of 8 nodes took 18-30 s to walk that
    way and an 11-hop one ran the driver out of heap building plan
    strings; with leaves every level costs about the same. The
    checkpointed blocks are not CacheManager entries:
    `spark.catalog.clearCache()` does not release them; they go when
    the frames that read them are garbage collected.
    """
    level = _checkpoint_level(first.distinct())
    levels = [level]
    while level.rows and len(levels) < max_depth:
        candidates = expand(union_levels([level])).distinct()
        level = _checkpoint_level(
            candidates.join(union_levels(levels), "id", "left_anti")
        )
        if level.rows:
            levels.append(level)
    return levels


def transitive_closure(
    edges: DataFrame,
    roots: DataFrame,
    preds: tuple[str, ...] | None = None,
    max_depth: int = MAX_DEPTH,
) -> DataFrame:
    """All (root, dst, depth) reachable from `roots` (col `id`) in
    <= max_depth hops following `preds` edges. depth = min hop count
    (BFS level order; `UNION`-dedup semantics of the reference CTE,
    db.rs:850-866).
    """
    e = edges
    if preds:
        e = e.filter(F.col("pred").isin(*preds))
    # deliberately NOT pre-shuffled or cached (r6 measurement): after
    # round 1 the frontier is small enough to BROADCAST, so the edge
    # side is only scanned (partition-pruned by pred), never exchanged —
    # a repartition(subj)+persist of e was measured strictly worse (one
    # full shuffle + cache write to save exchanges that don't happen).
    e = e.select("subj", "obj")

    frontier = (
        roots.select(F.col("id").alias("root"))
        .join(e, F.col("root") == e.subj)
        .select("root", F.col("obj").alias("dst"))
        .distinct()
        .withColumn("depth", F.lit(1).cast("long"))
        .persist()
    )
    # each BFS level persists; the visited set is the union of cached
    # levels, so no level is recomputed and lineage stays one level
    # deep (persist is cheaper than eager localCheckpoint here — levels
    # are reused immediately and discarded at the end of the query).
    # r6 note: a chain of per-level left_anti joins (to reuse each
    # cached level's partitioning instead of reshuffling the union) was
    # A/B-measured: parity on the path layout, ~1 s SLOWER on the
    # bucketed layout (extra per-piece sort/exchange planning beat the
    # saved union shuffle at this graph's depth of 3) — reverted.
    pieces = [frontier]
    depth = 1
    while depth < max_depth:
        visited = pieces[0].select("root", "dst")
        for p in pieces[1:]:
            visited = visited.unionByName(p.select("root", "dst"))
        nxt = (
            frontier.join(e, frontier.dst == e.subj)
            .select("root", F.col("obj").alias("dst"))
            .distinct()
            .withColumn("depth", F.lit(depth + 1).cast("long"))
        )
        new = nxt.join(visited, ["root", "dst"], "left_anti").persist()
        if new.isEmpty():
            break
        pieces.append(new)
        frontier = new
        depth += 1
    reach = pieces[0]
    for p in pieces[1:]:
        reach = reach.unionByName(p)
    return reach


def who_calls(edges: DataFrame, callee_pattern: str | None = None) -> DataFrame:
    """Callers of functions matching `callee_pattern` (SQL LIKE), the
    reference README's flagship query ("functions calling functions
    where name like ...", README.md:84). Partition-pruned scan of
    pred='calls' + projection — no join needed because the edge id
    embeds both endpoints.
    """
    out = edges.filter(F.col("pred") == "calls").select(
        F.col("subj").alias("caller_id"),
        F.substring_index("subj", "::", -1).alias("caller_name"),
        F.col("obj").alias("callee_fqn"),
        F.substring_index("obj", ".", -1).alias("callee_name"),
    )
    if callee_pattern is not None:
        out = out.filter(F.col("callee_name").like(callee_pattern))
    return out


def transitive_depends(
    nodes: DataFrame,
    edges: DataFrame,
    root_type: str = "Module",
    preds: tuple[str, ...] = ("defines", "calls", "imports"),
    max_depth: int = MAX_DEPTH,
) -> DataFrame:
    """Transitive dependency closure from every node of `root_type`."""
    roots = nodes.filter(F.col("entity_type") == root_type).select("id")
    return transitive_closure(edges, roots, preds, max_depth)


def entity_neighborhood(edges: DataFrame, entity_id: str) -> DataFrame:
    """1-hop neighborhood, both directions (tree formatter analog,
    formatter.rs:174-219; direction rules db_executor.rs:64-78).

    ONE scan: the subj/obj match explodes into direction rows from a
    single filtered pass instead of unioning two scans of the edge
    table. The OR predicate still reaches the parquet reader
    (PushedFilters: [Or(EqualTo(subj,..),EqualTo(obj,..))]) — at
    100 TB this halves the bytes read for the same answer; self-loops
    still emit both the out and in row."""
    rows = F.filter(
        F.array(
            F.when(
                F.col("subj") == entity_id,
                F.struct(
                    F.lit("out").alias("direction"),
                    F.col("pred"),
                    F.col("obj").alias("other"),
                ),
            ),
            F.when(
                F.col("obj") == entity_id,
                F.struct(
                    F.lit("in").alias("direction"),
                    F.col("pred"),
                    F.col("subj").alias("other"),
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    return (
        edges.filter((F.col("subj") == entity_id) | (F.col("obj") == entity_id))
        .select(F.explode(rows).alias("x"))
        .select("x.direction", "x.pred", "x.other")
    )


def enumerate_paths(
    edges: DataFrame,
    from_id: str,
    to_id: str | None = None,
    max_depth: int = 5,
    preds: tuple[str, ...] | None = None,
) -> DataFrame:
    """Full path enumeration (reference in-memory DFS,
    knowledge_graph.rs:434-489): all simple paths from `from_id`
    (optionally ending at `to_id`) up to max_depth edges, as
    (path: array<string>, depth). Cycle-safe via per-path visited check
    (array_contains). BFS frontier join per round — exponential in the
    worst case like the reference; used for G8-style inference and
    diagnostics, not the scale path (transitive_closure is)."""
    e = edges
    if preds:
        e = e.filter(F.col("pred").isin(*preds))
    e = e.select("subj", "obj")
    spark = edges.sparkSession
    frontier = spark.createDataFrame(
        [([from_id], from_id)], "path array<string>, tip string"
    )
    results = [frontier.select("path", (F.size("path") - 1).cast("long").alias("depth"))]
    for _ in range(max_depth):
        nxt = (
            frontier.join(e, frontier.tip == e.subj)
            .filter(~F.array_contains(F.col("path"), F.col("obj")))
            .select(
                F.concat(F.col("path"), F.array(F.col("obj"))).alias("path"),
                F.col("obj").alias("tip"),
            )
        )
        nxt = nxt.localCheckpoint(eager=True)
        if nxt.isEmpty():
            break
        results.append(
            nxt.select("path", (F.size("path") - 1).cast("long").alias("depth"))
        )
        frontier = nxt
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    if to_id is not None:
        out = out.filter(F.element_at("path", -1) == to_id)
    return out


def degree(edges: DataFrame) -> DataFrame:
    """Per-node in/out/total degree — hub detection for skew salting.

    Single pass: each edge explodes into (subj, out) + (obj, in) rows
    and ONE hash agg with map-side partial sums both directions — vs
    the two-groupBy + full-outer-join form this replaced (one exchange
    instead of two plus a join; measured ~25% faster at sf0.1 x20 and
    the win grows with edge count)."""
    both = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("subj").alias("id"),
                    F.lit(1).alias("o"),
                    F.lit(0).alias("i"),
                ),
                F.struct(
                    F.col("obj").alias("id"),
                    F.lit(0).alias("o"),
                    F.lit(1).alias("i"),
                ),
            )
        ).alias("x")
    ).select("x.id", "x.o", "x.i")
    return both.groupBy("id").agg(
        F.sum("o").alias("out_degree"), F.sum("i").alias("in_degree")
    ).withColumn("degree", F.col("out_degree") + F.col("in_degree"))
