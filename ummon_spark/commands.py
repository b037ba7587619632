"""Command-level entry points mirroring the reference CLI
(src/main.rs / src/commands/): index, query (with NL fallback and all
four output formats), assist. These are the user-facing surface a
reference user would switch to.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CLI_LIMIT = 20  # cli.rs:81-82
DEFAULT_LIB_LIMIT = 100  # query/mod.rs:70
# Hard driver-side cap for the non-text formats (json/csv/tree render
# every result row, reference formatter.rs parity): rows stream to the
# driver one partition at a time via toLocalIterator and collection
# stops at the cap — a `--format json` select over 10^9 nodes holds at
# most one partition + MAX_COLLECT_ROWS rows in driver memory instead
# of the whole result.
MAX_COLLECT_ROWS = 100_000


def index(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    full: bool = False,
    checkpoints: str | None = None,
    canonicalize: bool = False,
):
    """`ummon index` equivalent: build (or resume) the graph tables."""
    from .corpus import load_spans
    from .incremental import purge
    from .pipeline import build_graph, materialize

    if full:
        purge(spark, output_dir)
    if checkpoints:
        from .checkpoint import run_pipeline_checkpointed

        return run_pipeline_checkpointed(
            spark, input_dir, checkpoints, canonicalize=canonicalize
        )
    g = build_graph(load_spans(spark, input_dir), persist=True)
    materialize(g, output_dir)
    return g


def query(
    nodes: DataFrame,
    edges: DataFrame,
    query_text: str,
    fmt: str = "text",
    limit: int = DEFAULT_CLI_LIMIT,
    natural: bool = False,
    llm=None,
    max_rows: int = MAX_COLLECT_ROWS,
) -> str:
    """`ummon query` equivalent: [NL->UQL ->] parse -> execute ->
    format (+ text-only limit footer). Tree format renders each result
    root with its 1-hop outgoing edges (formatter.rs:174-219)."""
    from .query.executor import execute_query
    from .query.formatter import format_rows, format_tree

    if natural:
        from .nl import translate

        if llm is None:
            raise ValueError("natural-language mode needs an llm callable")
        query_text = translate(query_text, llm).query

    result = execute_query(nodes, edges, query_text)
    if fmt == "text" and limit > 0:
        # limit pushdown: never collect the full result to the driver —
        # `select functions` over 10^9 nodes must not OOM here. Only
        # `limit` rows cross to the driver; a page shorter than `limit`
        # is the whole result, so the footer's true total (a
        # distributed count) is only computed for a full page.
        rows = result.limit(limit).collect()
        formatted = format_rows(rows, "text", 0)
        if len(rows) == limit and (total := result.count()) > limit:
            return "{}\n(Limited to {} results, total: {})".format(
                formatted.rstrip("\n"), limit, total
            )
        return formatted
    # bounded collect: stream partitions, stop at max_rows (json/csv/
    # tree format every row — reference parity — but the driver must
    # not hold an unbounded result; Spark prefetches at most one
    # partition beyond the islice stop)
    rows = list(itertools.islice(result.toLocalIterator(), max_rows))
    if fmt == "tree":
        ids = [r["id"] for r in rows]
        out_edges = (
            edges.filter(edges.subj.isin(ids))
            .select("subj", "pred", "obj")
            .collect()
        )
        edges_by_subj: dict[str, list] = {}
        targets = set()
        for e in out_edges:
            edges_by_subj.setdefault(e["subj"], []).append((e["pred"], e["obj"]))
            targets.add(e["obj"])
        target_rows = nodes.filter(nodes.id.isin(list(targets))).collect() if targets else []
        nodes_by_id = {r["id"]: r.asDict() for r in target_rows}
        for subj in edges_by_subj:
            edges_by_subj[subj].sort()
        return format_tree(rows, edges_by_subj, nodes_by_id)
    return format_rows(rows, fmt, limit if fmt == "text" else 0)


def assist(nodes: DataFrame, edges: DataFrame, instruction: str, llm=None) -> dict:
    from .assist import assist as _assist

    return _assist(nodes, edges, instruction, llm)
