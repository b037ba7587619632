"""UQL execution: AST -> Catalyst Column predicates + reverse-BFS semi-joins.

Select (reference db_executor.rs:38-53): a filter on the nodes table —
the condition compiles to a Column expression tree, so predicate
pushdown / partition pruning on entity_type comes from Catalyst for
free (the reference compiled to a SQLite WHERE clause for the same
reason, db_executor.rs:149-240).

Traversal (db_executor.rs:56-146 + db.rs:791-895): the reference loops
per source entity running a recursive CTE. Its answer is a set of
SOURCES, so we walk from the TARGETS instead: one reverse BFS over a
set of node ids, seeded with the target-type nodes (filtered by the
condition when there is one). Level 1 is the predecessors of the
targets along the relationship's edges; level k is the predecessors
of level k-1 not already in levels 1..k-1. By induction, level k holds
exactly the nodes whose shortest path (of >= 1 hop) to a matching
target has k edges, so a source is in levels 1..10 iff the
reference's per-source closure reaches a matching target at
depth 1..10. The work grows with the targets' reverse neighbourhood,
not with |sources| x |reachable|, and each level is a node-id frame,
not a (root, dst) pair frame. Faithful semantics:

* the closure INCLUDES the source at depth 0 (db.rs:853 seeds depth 0,
  and the target-type filter applies to it) — so with no condition,
  sources that are themselves targets match (sources ∩ targets);
* only the given relationship type is followed; direction is outbound
  for every type except relates_to / unknown = both
  (db_executor.rs:64-78), which the walk sees as symmetric edges;
* depth cap 10 (db_executor.rs:85);
* a condition is evaluated per reached TARGET with depth > 0
  (db_executor.rs:105-146) and the SOURCE is kept if any target
  matches — a source that is itself a matching target is kept only
  if it reaches a matching target (itself included, via a cycle) in
  >= 1 hop, which is what excluding the seed from level 0 gives.

Attribute whitelist name/file_path/documentation/id
(db_executor.rs:11); file_path maps to our doc_id column. `like` is
case-insensitive (SQLite LIKE semantics). `has x` compiles to
non-empty/non-null checks (db_executor.rs:184-206; our tables store ''
for absent, so '' counts as absent for every attribute).

Deviation (documented): number comparisons cast the column to double
(SQLite's type-affinity ordering, where any TEXT > any NUMBER, is not
reproduced).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.traversal import bfs_levels, union_levels
from .parser import (
    And,
    Condition,
    HasAttribute,
    Not,
    Or,
    QueryParseError,
    SelectQuery,
    TraversalQuery,
    parse_query,
)

ALLOWED_ATTRS = {
    "name": "name",
    "file_path": "doc_id",
    "documentation": "documentation",
    "id": "id",
    # extensions beyond the reference whitelist (db_executor.rs:11):
    # the typed Function/Variable payloads are real columns here, so
    # "async functions"-class queries are expressible ("select
    # functions where has return_type", "... where type_annotation =
    # 'int'"). Booleans compare as their string forms via `=`.
    "return_type": "return_type",
    "type_annotation": "type_annotation",
}

BOTH_DIRECTION_RELS = {"relates_to"}  # + Other(...) below, db_executor.rs:75-77


def _is_both_direction(rel: str) -> bool:
    """relates_to and every Other(...) custom relationship traverse
    both directions (db_executor.rs:64-78)."""
    from ..types import is_custom_pred

    return rel in BOTH_DIRECTION_RELS or is_custom_pred(rel)

# The reference's Contains covers module->member containment; our edge
# vocabulary (BASELINE) materializes that containment as `defines`, so
# the `contains/containing` keywords resolve to both predicates.
REL_ALIASES = {"contains": ("contains", "defines")}

MAX_DEPTH = 10


class QueryExecutionError(ValueError):
    pass


def compile_condition(node) -> Column:
    """ConditionNode AST -> pyspark Column predicate."""
    if isinstance(node, And):
        return compile_condition(node.left) & compile_condition(node.right)
    if isinstance(node, Or):
        return compile_condition(node.left) | compile_condition(node.right)
    if isinstance(node, Not):
        return ~compile_condition(node.inner)
    if isinstance(node, HasAttribute):
        col = ALLOWED_ATTRS.get(node.attribute)
        if col is None:
            raise QueryExecutionError(
                f"Attribute '{node.attribute}' is not supported for 'has' condition"
            )
        return F.col(col).isNotNull() & (F.col(col) != "")
    if isinstance(node, Condition):
        col_name = ALLOWED_ATTRS.get(node.attribute)
        if col_name is None:
            raise QueryExecutionError(
                f"Attribute '{node.attribute}' is not supported or not allowed"
            )
        col = F.col(col_name)
        if node.is_number:
            col = col.cast("double")
            val = F.lit(node.value)
        else:
            val = F.lit(node.value)
        op = node.operator
        if op == "=":
            return col == val
        if op == "!=":
            return col != val
        if op == ">":
            return col > val
        if op == "<":
            return col < val
        if op == ">=":
            return col >= val
        if op == "<=":
            return col <= val
        if op == "like":
            return col.ilike(str(node.value))
        raise QueryExecutionError(f"Unknown operator {op}")
    raise QueryExecutionError(f"Unknown condition node {type(node).__name__}")


def typed_nodes(nodes: DataFrame, edges: DataFrame | None, entity_type: str) -> DataFrame:
    """Nodes of a UQL entity type. `Method` is a dialect view: the
    reference types methods at parse time (entity.rs Method variant);
    our dialect types them structurally — a method is a Function that
    some type Contains (the same membership rule that builds the
    contains edges), resolved with one left_semi probe of the contains
    slice. Other unmaterialized types (Struct, Field, ...) are plain
    filters and return empty, as the reference does with no such
    entities. "Other(x)" wrappers unwrap to the custom type name
    (db.rs:1041-1073 round-trip)."""
    from ..types import parse_entity_type

    entity_type = parse_entity_type(entity_type)
    # structural views (same membership rule that builds the contains
    # edges): Method = contained Function, Field = contained Variable
    member_views = {"Method": "Function", "Field": "Variable"}
    if entity_type in member_views and edges is not None:
        members = (
            edges.filter(F.col("pred") == "contains")
            .select(F.col("obj").alias("id"))
            .distinct()
        )
        return nodes.filter(
            F.col("entity_type") == member_views[entity_type]
        ).join(members, "id", "left_semi")
    return nodes.filter(F.col("entity_type") == entity_type)


def execute_select(nodes: DataFrame, q: SelectQuery, edges: DataFrame | None = None) -> DataFrame:
    out = typed_nodes(nodes, edges, q.entity_type)
    if q.condition is not None:
        out = out.filter(compile_condition(q.condition))
    return out


def execute_traversal(nodes: DataFrame, edges: DataFrame, q: TraversalQuery) -> DataFrame:
    from ..types import parse_relationship_type

    sources = typed_nodes(nodes, edges, q.source_type)
    targets = typed_nodes(nodes, edges, q.target_type)
    if q.condition is not None:
        targets = targets.filter(compile_condition(q.condition))
    targets = targets.select("id")
    rel = parse_relationship_type(q.relationship)
    preds = REL_ALIASES.get(rel, (rel,))
    e = edges.filter(F.col("pred").isin(*preds)).select("subj", "obj")
    if _is_both_direction(rel):
        e = e.unionByName(
            e.select(F.col("obj").alias("subj"), F.col("subj").alias("obj"))
        )

    def predecessors(level: DataFrame) -> DataFrame:
        return level.join(e, level.id == e.obj).select(F.col("subj").alias("id"))

    levels = bfs_levels(predecessors(targets), predecessors, MAX_DEPTH)
    matched = union_levels(levels)
    if q.condition is None:
        # depth-0 self rows (db.rs:853)
        matched = matched.unionByName(targets)
    return sources.join(matched, "id", "left_semi")


def execute_query(nodes: DataFrame, edges: DataFrame, query: str) -> DataFrame:
    """Parse + execute a UQL query against the graph tables."""
    ast = parse_query(query)
    if isinstance(ast, SelectQuery):
        return execute_select(nodes, ast, edges)
    if isinstance(ast, TraversalQuery):
        return execute_traversal(nodes, edges, ast)
    raise QueryParseError(f"Unsupported query {query!r}")
