"""Correctness-gate query registry: Spark callable + DuckDB oracle pairs.

Consumed by __spark_entry__.py. Every operator claimed in SURVEY.md §2
registers here as (queries()[name], oracle_sql()[name]); the driver
compares row-count + schema + order-insensitive value hash at sf0.01.
Column names/types are aligned on both sides (bigint counts, explicit
aliases).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import oracle
from .corpus import load_spans
from .operators.parse import explode_spans, parse_mentions
from .operators.traversal import (
    entity_neighborhood,
    transitive_depends,
    who_calls,
)
from .pipeline import build_graph, flat_edges, flat_nodes

TRANS_PREDS = ("defines", "calls", "imports")
NEIGHBOR_MODULE = "7"  # a Module node present at every sf
NEIGHBOR_MEDIA = "media::img_the"  # hub media entity (zipf head token)


# --- Spark side ------------------------------------------------------------


_GRAPH_CACHE: dict[str, tuple] = {}


def _graph(spark: SparkSession, sf_dir: str):
    """Build (or reuse) the persisted graph for a scale-factor dir —
    the driver runs many gate queries against the same corpus. The
    cached entry is only valid for the exact session that built it
    (identity check, so a recycled session never sees stale frames)."""
    entry = _GRAPH_CACHE.get(sf_dir)
    if entry is not None and entry[0] is spark:
        return entry[1]
    g = build_graph(load_spans(spark, sf_dir), persist=True)
    # Truncate lineage on the shared frames: dozens of gate queries
    # re-derive from nodes/edges, and iterative consumers (relevance
    # expansion, BFS) otherwise embed the full build plan once per
    # round per relation — plan strings alone OOM a default-heap
    # driver. localCheckpoint keeps the persisted partitions and drops
    # the logical history.
    from .pipeline import Graph

    g = Graph(
        nodes=g.nodes.localCheckpoint(eager=False),
        edges=g.edges.localCheckpoint(eager=False),
        mentions=g.mentions,
    )
    _GRAPH_CACHE[sf_dir] = (spark, g)
    return g


def q_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return explode_spans(load_spans(spark, sf_dir))


def q_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return parse_mentions(load_spans(spark, sf_dir))


def q_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flat_nodes(_graph(spark, sf_dir))


def q_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flat_edges(_graph(spark, sf_dir))


def q_edge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _graph(spark, sf_dir)
        .edges.groupBy("pred")
        .agg(F.count("*").alias("n"))
    )


def q_who_calls(spark: SparkSession, sf_dir: str) -> DataFrame:
    return who_calls(_graph(spark, sf_dir).edges)


def q_transitive_depends(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _graph(spark, sf_dir)
    return transitive_depends(g.nodes, g.edges, "Module", TRANS_PREDS)


def q_neighborhood_module(spark: SparkSession, sf_dir: str) -> DataFrame:
    return entity_neighborhood(_graph(spark, sf_dir).edges, NEIGHBOR_MODULE)


def q_neighborhood_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return entity_neighborhood(_graph(spark, sf_dir).edges, NEIGHBOR_MEDIA)


def q_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.traversal import degree

    return degree(_graph(spark, sf_dir).edges)


def _uql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    from .query.executor import execute_query

    g = _graph(spark, sf_dir)
    out = execute_query(g.nodes, g.edges, query)
    return out.select("id", "name", "entity_type", "doc_id", "containing_entity")


def q_uql_select_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _uql(spark, sf_dir, "select functions where name like 'k%'")


def q_uql_select_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _uql(
        spark, sf_dir, "select classes where name = 'key' or name like 's%'"
    )


def q_uql_traversal_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    # source_type == target_type with no condition: every source matches
    # itself at depth 0 (faithful reference quirk, db.rs:853)
    return _uql(spark, sf_dir, "functions calling functions")


def q_uql_traversal_cond(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _uql(
        spark, sf_dir, "functions calling functions where name like '%a%'"
    )


def q_uql_traversal_imports(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _uql(spark, sf_dir, "modules importing functions")


def q_uql_traversal_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _uql(spark, sf_dir, "modules containing classes")


def q_uql_classes_containing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _uql(spark, sf_dir, "classes containing functions")


def q_uql_select_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _uql(spark, sf_dir, "select methods where name like 's%'")


def q_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _graph(spark, sf_dir)
        .edges.filter(F.col("pred") == "contains")
        .select("id", "subj", "obj")
    )


def q_uql_select_has(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _uql(spark, sf_dir, "select functions where file_path like '1%' and has name")


def q_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _graph(spark, sf_dir)
    return g.nodes.filter(F.col("doc_id") != "").select(
        "id",
        F.col("location.start.line").alias("start_line"),
        F.col("location.start.column").alias("start_column"),
        F.col("location.start.offset").alias("start_offset"),
        F.col("location.end.line").alias("end_line"),
        F.col("location.end.column").alias("end_column"),
        F.col("location.end.offset").alias("end_offset"),
    )


def q_type_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.nodes import with_type_members

    g = _graph(spark, sf_dir)
    tm = with_type_members(g.nodes, g.edges)
    methods = tm.select(
        "id",
        F.explode("methods").alias("member_id"),
        F.lit("method").alias("member_kind"),
    )
    fields = tm.select(
        "id",
        F.explode("fields").alias("member_id"),
        F.lit("field").alias("member_kind"),
    )
    return methods.unionByName(fields)


def q_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _graph(spark, sf_dir)
    return (
        g.nodes.filter(
            (F.col("entity_type") == "Function") & (F.col("doc_id") != "")
        )
        .select("id", F.posexplode("parameters").alias("param_idx", "p"))
        .select(
            "id",
            F.col("param_idx").cast("long").alias("param_idx"),
            F.col("p.name").alias("param_name"),
            F.col("p.type_annotation").alias("type_annotation"),
            F.col("p.default_value").alias("default_value"),
        )
    )


def q_fn_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FunctionEntity flag payload (entity.rs:209-219): is_async/
    is_static/is_abstract + return_type, now populated from the
    dialect's modifier/return markers."""
    g = _graph(spark, sf_dir)
    return g.nodes.filter(
        (F.col("entity_type") == "Function") & (F.col("doc_id") != "")
    ).select("id", "is_async", "is_static", "is_abstract", "return_type")


def q_supertypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TypeEntity payloads flattened to (id, part, value) rows:
    supertypes Vec (entity.rs:288-296) plus GenericParameter names and
    bounds (mod.rs:161-165; extraction java.rs:116-204). Bound rows
    carry 'name:bound' so each bound stays tied to its parameter."""
    g = _graph(spark, sf_dir)
    sups = g.nodes.filter(F.size("supertypes") > 0).select(
        "id",
        F.lit("supertype").alias("part"),
        F.explode("supertypes").alias("value"),
    )
    tp = g.nodes.filter(F.size("type_params") > 0).select(
        "id", F.explode("type_params").alias("p")
    )
    names = tp.select(
        "id", F.lit("type_param").alias("part"), F.col("p.name").alias("value")
    )
    bounds = tp.select(
        "id",
        F.lit("bound").alias("part"),
        F.explode(
            F.transform(
                F.col("p.bounds"),
                lambda b: F.concat(F.col("p.name"), F.lit(":"), b),
            )
        ).alias("value"),
    )
    defaults = tp.filter(F.col("p.default_type") != "").select(
        "id",
        F.lit("default").alias("part"),
        F.concat(F.col("p.name"), F.lit("="), F.col("p.default_type")).alias(
            "value"
        ),
    )
    return sups.unionByName(names).unionByName(bounds).unionByName(defaults)


def q_var_annotations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VariableEntity typed payload (entity.rs:422-429): type_annotation
    + value for Variable/Constant nodes."""
    g = _graph(spark, sf_dir)
    return g.nodes.filter(
        F.col("entity_type").isin("Variable", "Constant")
    ).select(
        "id",
        "entity_type",
        "type_annotation",
        F.col("detail").alias("value"),
    )


def q_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documentation attachment (P15, java.rs:790-856 analog): every
    node whose documentation is non-empty — per-entity docs (nearest
    following entity) and trailing-doc module docstrings."""
    g = _graph(spark, sf_dir)
    return g.nodes.filter(F.col("documentation") != "").select(
        "id", "entity_type", "documentation"
    )


def q_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .operators.traversal import enumerate_paths

    g = _graph(spark, sf_dir)
    out = enumerate_paths(g.edges, "7", None, 2, ("defines", "calls"))
    return out.select(
        F.concat_ws("->", "path").alias("path_str"), "depth"
    )


def q_link_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.linking import link_keys

    return link_keys(_graph(spark, sf_dir).nodes)


def q_canonical_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.linking import canonical_mapping

    return canonical_mapping(_graph(spark, sf_dir).nodes).mapping


def q_canonical_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.linking import canonical_mapping, canonicalize_edges

    g = _graph(spark, sf_dir)
    canon = canonical_mapping(g.nodes)
    return canonicalize_edges(g.edges, canon)


def q_visibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.nodes import with_visibility

    g = _graph(spark, sf_dir)
    return with_visibility(g.nodes).select(
        "id", "entity_type", "visibility", "is_constructor"
    )


def q_canonical_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.linking import canonical_mapping, canonicalize_nodes

    g = _graph(spark, sf_dir)
    canon = canonical_mapping(g.nodes)
    return canonicalize_nodes(g.nodes, canon).select(
        "id", "name", "entity_type", "doc_id", "containing_entity"
    )


# permissive gate config: 16 bands x 1 row blocking + low threshold, so
# the driver corpus (31 distinct keys, max trigram-jaccard 0.25) yields
# a non-empty result that exercises both the keep and the filter side.
# The corpus alone survives with ONE organic pair — too thin to pin the
# trigram-Jaccard scorer (VERDICT r3 what's-wrong #2) — so the gate
# additionally derives deterministic near-miss aliases from the longer
# keys (suffix-'s' plural, first-char drop: edit-distance-1 variants)
# and runs the REAL fuzzy_link_pairs over the union; the oracle plants
# identically. ~18 pairs spanning ≥5 distinct scores at sf0.01.
FUZZY_THRESHOLD = 0.2
FUZZY_N_BANDS = 16
FUZZY_PLANT_MIN_LEN = 6


def _planted_alias_keys(keys: DataFrame) -> DataFrame:
    """(id, key) near-miss alias rows derived from distinct keys of
    length >= FUZZY_PLANT_MIN_LEN: 'streams' and 'tream' for 'stream'."""
    base = (
        keys.select("key")
        .distinct()
        .filter(F.length("key") >= FUZZY_PLANT_MIN_LEN)
    )
    variants = base.select(
        F.explode(
            F.array(
                F.concat(F.col("key"), F.lit("s")),
                F.expr("substr(key, 2)"),
            )
        ).alias("key")
    )
    return variants.select(
        F.concat(F.lit("planted::"), "key").alias("id"), "key"
    )


def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.linking import fuzzy_link_pairs, link_keys

    keys = link_keys(_graph(spark, sf_dir).nodes)
    keys = keys.unionByName(_planted_alias_keys(keys))
    return fuzzy_link_pairs(keys, threshold=FUZZY_THRESHOLD, n_bands=FUZZY_N_BANDS)


def q_call_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge metadata payload (relationship.rs:61-69): calls edges
    carry the winning mention's provenance {src_doc, src_span} — the
    (doc_id, span_idx) lineage build_edges pins with first-wins."""
    e = _graph(spark, sf_dir).edges
    return e.filter(F.col("pred") == "calls").select(
        "id",
        F.col("metadata")["src_doc"].alias("src_doc"),
        F.col("metadata")["src_span"].cast("bigint").alias("src_span"),
    )


# --- incremental/CDC parity (S3-S5, driver-visible; VERDICT r4 #1) --------
# Deterministic "modified" subset: doc_id % INCR_MOD == INCR_REMAINDER.
# The stale pre-update corpus truncates each modified doc's span tail,
# so prune really removes rows (nodes, edges, media winners) and the
# merge really restores them from the fresh reparse.
INCR_MOD = 7
INCR_REMAINDER = 3
INCR_STALE_DROP = 5


def q_incremental_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark side builds a STALE graph (modified docs truncated),
    then runs the REAL incremental path — prune + rebuild-changed +
    merge (incremental.py) — while the oracle recomputes the FULL graph
    from scratch. Parity proves incremental == full rebuild, the
    property the reference enforces with mtime CDC + deterministic-id
    upserts (src/commands/index.rs:482-510, 513-678; db.rs:677-733)."""
    from .incremental import incremental_update

    spans = load_spans(spark, sf_dir)
    is_mod = F.col("doc_id").cast("bigint") % INCR_MOD == INCR_REMAINDER
    stale = spans.filter(is_mod).withColumn(
        "spans",
        F.slice(
            "spans", 1, F.greatest(F.size("spans") - INCR_STALE_DROP, F.lit(1))
        ),
    )
    old = build_graph(spans.filter(~is_mod).unionByName(stale), persist=True)
    g = incremental_update(old, spans.filter(is_mod), persist=True)
    nodes = g.nodes.select(
        F.lit("node").alias("part"),
        "id",
        F.col("name").alias("x1"),
        F.col("entity_type").alias("x2"),
        F.col("doc_id").alias("x3"),
        F.col("containing_entity").alias("x4"),
    )
    edges = g.edges.select(
        F.lit("edge").alias("part"),
        "id",
        F.col("subj").alias("x1"),
        F.col("pred").alias("x2"),
        F.col("obj").alias("x3"),
        F.lit("").alias("x4"),
    )
    return nodes.unionByName(edges)


def q_media_hotkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """north_rule skew pillar, driver-visible: per-media_ref counts over
    the zipf-skewed media spans, computed THROUGH the two-phase salted
    aggregation (operators/skew.salted_hot_count — partial agg on
    (key, salt) spreads each hub ref over 16 reducers, final agg
    combines). The oracle's plain GROUP BY pins salted == plain."""
    from .operators.skew import salted_hot_count

    media = explode_spans(load_spans(spark, sf_dir)).filter(
        F.col("media_ref") != ""
    )
    # doc_id/span_idx ride along so the row-hash salt varies WITHIN a
    # hot key (salting a lone key column would put every row of a hub
    # on one salt and change nothing)
    return salted_hot_count(
        media.select("media_ref", "doc_id", "span_idx"), "media_ref"
    )


RELEVANCE_CHANGE = "key join"  # R1 fallback -> keywords ['key', 'join']


def q_relevant_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relevance import suggest_relevant_files

    g = _graph(spark, sf_dir)
    out = suggest_relevant_files(g.nodes, g.edges, RELEVANCE_CHANGE)
    return out.select("path", "relevance_score", "n_contributing")



def q_dm_concepts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .domain import stub_concepts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stub_concepts(docs)


def q_dm_represented_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .domain import represented_by_edges, stub_concepts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    g = _graph(spark, sf_dir)
    rep = represented_by_edges(stub_concepts(docs), g.nodes)
    return rep.select("id", "subj", "pred", "obj")


def q_dm_relates_to(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .domain import relates_to_edges, represented_by_edges, stub_concepts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    g = _graph(spark, sf_dir)
    rep = represented_by_edges(stub_concepts(docs), g.nodes)
    return relates_to_edges(rep, g.edges).select("id", "subj", "pred", "obj")


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graphstats import triangle_counts

    return triangle_counts(_graph(spark, sf_dir).edges)


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graphstats import pagerank

    g = _graph(spark, sf_dir)
    return pagerank(g.nodes, g.edges)


def q_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graphstats import common_neighbors_topk

    # k pinned to _CN_TOP_K (defined with the oracle constants below)
    return common_neighbors_topk(_graph(spark, sf_dir).edges, k=_CN_TOP_K)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "kg_spans": q_spans,
    "kg_mentions": q_mentions,
    "kg_nodes": q_nodes,
    "kg_edges": q_edges,
    "kg_edge_stats": q_edge_stats,
    "kg_who_calls": q_who_calls,
    "kg_transitive_depends": q_transitive_depends,
    "kg_neighborhood_module": q_neighborhood_module,
    "kg_neighborhood_media": q_neighborhood_media,
    "kg_degree": q_degree,
    "uql_select_like": q_uql_select_like,
    "uql_select_or": q_uql_select_or,
    "uql_traversal_self": q_uql_traversal_self,
    "uql_traversal_cond": q_uql_traversal_cond,
    "uql_traversal_imports": q_uql_traversal_imports,
    "uql_select_has": q_uql_select_has,
    "uql_traversal_contains": q_uql_traversal_contains,
    "uql_classes_containing": q_uql_classes_containing,
    "uql_select_methods": q_uql_select_methods,
    "kg_contains": q_contains,
    "kg_params": q_params,
    "kg_type_members": q_type_members,
    "kg_locations": q_locations,
    "kg_paths": q_paths,
    "kg_fn_flags": q_fn_flags,
    "kg_supertypes": q_supertypes,
    "kg_var_annotations": q_var_annotations,
    "kg_docs": q_docs,
    "kg_link_keys": q_link_keys,
    "kg_canonical_map": q_canonical_map,
    "kg_canonical_edges": q_canonical_edges,
    "kg_canonical_nodes": q_canonical_nodes,
    "kg_call_metadata": q_call_metadata,
    "kg_fuzzy_pairs": q_fuzzy_pairs,
    "kg_relevant_files": q_relevant_files,
    "dm_concepts": q_dm_concepts,
    "dm_represented_by": q_dm_represented_by,
    "dm_relates_to": q_dm_relates_to,
    "kg_visibility": q_visibility,
    "kg_incremental_parity": q_incremental_parity,
    "kg_media_hotkeys": q_media_hotkeys,
    "kg_triangles": q_triangles,
    "kg_common_neighbors": q_common_neighbors,
    "kg_pagerank": q_pagerank,
}


# --- DuckDB oracle side ----------------------------------------------------

_PREDS_SQL = ", ".join(f"'{p}'" for p in TRANS_PREDS)

# graph-stats twins (operators/graphstats.py): the undirected simple
# graph over the edge relation, plus the constants both sides share
from .operators.graphstats import (  # noqa: E402
    DEFAULT_MAX_CENTER_DEGREE as _CN_MAX_CENTER_DEGREE,
)
from .operators.graphstats import JACCARD_SCALE as _CN_JACCARD_SCALE  # noqa: E402

from .operators.graphstats import pagerank_oracle_ctes as _pgr_ctes  # noqa: E402

_PGR_CTES, _PGR_BODY = _pgr_ctes()

_CN_TOP_K = 100
_UND_CTE = """und AS (
  SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
  FROM edges WHERE subj <> obj
)"""

# trigram set of a string expr — twin of linking._trigram_set
_TRI = (
    "list_distinct(list_transform("
    "generate_series(0, greatest(length({k}) - 3, 0)), "
    "i -> substr({k}, i + 1, 3)))"
)


def _fuzzy_oracle() -> str:
    """DuckDB twin of linking.fuzzy_link_pairs over link_keys: distinct
    keys -> char trigrams -> MinHash sigs -> FUZZY_N_BANDS-band LSH
    candidates -> trigram-Jaccard score >= threshold."""
    from .datapipe.hashing import N_MINHASH, band_sql, token_hash_sql

    mh_cols = ",\n         ".join(
        f"MIN({token_hash_sql('token', k)}) AS mh{k}" for k in range(N_MINHASH)
    )
    bands = ",\n         ".join(band_sql(n_bands=FUZZY_N_BANDS))
    cand_union = "\n  UNION\n".join(
        f"  SELECT x.key AS u, y.key AS v FROM fbands x "
        f"JOIN fbands y ON x.band{b} = y.band{b} AND x.key < y.key"
        for b in range(FUZZY_N_BANDS)
    )
    tri_u, tri_v = _TRI.format(k="u"), _TRI.format(k="v")
    # AS MATERIALIZED is load-bearing: fkeys reads fbase three times and
    # each of the FUZZY_N_BANDS branches of fcands reads fbands twice,
    # and DuckDB inlines multiply-referenced CTEs by default — without
    # the hints the whole graph derivation under link_keys re-runs 32
    # times (measured at sf0.001: 264 s, then out of memory at 12.5 GiB,
    # vs 1.4-2.2 s at <300 MB peak RSS for the same 19 rows)
    return oracle.q(
        oracle.CANON_CTES
        + f""",
fbase AS MATERIALIZED (SELECT DISTINCT key FROM link_keys),
fkeys AS (
  SELECT DISTINCT key FROM (
    SELECT key FROM fbase
    UNION ALL
    SELECT concat(key, 's') FROM fbase WHERE length(key) >= {FUZZY_PLANT_MIN_LEN}
    UNION ALL
    SELECT substr(key, 2) FROM fbase WHERE length(key) >= {FUZZY_PLANT_MIN_LEN}
  )
),
ftoks AS (
  SELECT DISTINCT key, tok AS token FROM (
    SELECT key, unnest({_TRI.format(k='key')}) AS tok FROM fkeys
  ) WHERE tok <> ''
),
fsigs AS (
  SELECT key,
         {mh_cols}
  FROM ftoks GROUP BY key
),
fbands AS MATERIALIZED (
  SELECT key,
         {bands}
  FROM fsigs
),
fcands AS (
{cand_union}
),
fscored AS (
  SELECT u, v,
         CAST(len(list_intersect({tri_u}, {tri_v})) AS DOUBLE)
           / len(list_distinct(list_concat({tri_u}, {tri_v}))) AS score
  FROM fcands
)""",
        "SELECT u, v, score FROM fscored "
        f"WHERE score >= CAST({FUZZY_THRESHOLD} AS DOUBLE)",
    )


_DM_CTES = """,
concepts AS (
  SELECT doc_id, token AS name FROM (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           unnest(string_split(text, ' ')) AS token
    FROM documents WHERE length(text) >= 100 AND length(text) <= 100000
  ) WHERE length(token) >= 6
  GROUP BY doc_id, token HAVING COUNT(*) >= 2
),
anchors AS (
  SELECT DISTINCT c.name AS concept, n.id
  FROM concepts c JOIN all_nodes n
    ON n.entity_type IN ('Function','Class','Interface','Trait','Enum','Struct')
   AND n.name = c.name AND n.doc_id = c.doc_id
)"""

ORACLES: dict[str, str] = {
    "kg_spans": oracle.q(
        oracle.SPANS_CTES,
        'SELECT doc_id, span_idx, kind, text, media_ref, "offset" FROM spans',
    ),
    "kg_mentions": oracle.q(
        oracle.MENTIONS_CTES,
        'SELECT doc_id, span_idx, mention_type, name, detail, media_ref, "offset", '
        "modifier, ret, tparams FROM mentions",
    ),
    "kg_nodes": oracle.q(
        oracle.GRAPH_CTES,
        "SELECT id, name, entity_type, doc_id, containing_entity FROM all_nodes",
    ),
    "kg_edges": oracle.q(oracle.GRAPH_CTES, "SELECT id, subj, pred, obj FROM edges"),
    "kg_edge_stats": oracle.q(
        oracle.GRAPH_CTES, "SELECT pred, count(*) AS n FROM edges GROUP BY pred"
    ),
    "kg_who_calls": oracle.q(
        oracle.GRAPH_CTES,
        "SELECT subj AS caller_id, string_split(subj, '::')[-1] AS caller_name, "
        "obj AS callee_fqn, string_split(obj, '.')[-1] AS callee_name "
        "FROM edges WHERE pred = 'calls'",
    ),
    "kg_transitive_depends": "WITH RECURSIVE "
    + oracle.GRAPH_CTES.lstrip()
    + f""",
walk(root, dst, depth) AS (
  SELECT subj, obj, CAST(1 AS BIGINT) FROM edges
   WHERE pred IN ({_PREDS_SQL})
     AND subj IN (SELECT id FROM all_nodes WHERE entity_type = 'Module')
  UNION
  SELECT w.root, e.obj, w.depth + 1 FROM walk w
    JOIN edges e ON e.subj = w.dst AND e.pred IN ({_PREDS_SQL})
  WHERE w.depth < 10
)
SELECT root, dst, MIN(depth) AS depth FROM walk GROUP BY root, dst""",
    "kg_neighborhood_module": oracle.q(
        oracle.GRAPH_CTES,
        f"""SELECT 'out' AS direction, pred, obj AS other FROM edges
  WHERE subj = '{NEIGHBOR_MODULE}'
UNION ALL
SELECT 'in' AS direction, pred, subj AS other FROM edges
  WHERE obj = '{NEIGHBOR_MODULE}'""",
    ),
    "kg_neighborhood_media": oracle.q(
        oracle.GRAPH_CTES,
        f"""SELECT 'out' AS direction, pred, obj AS other FROM edges
  WHERE subj = '{NEIGHBOR_MEDIA}'
UNION ALL
SELECT 'in' AS direction, pred, subj AS other FROM edges
  WHERE obj = '{NEIGHBOR_MEDIA}'""",
    ),
    "kg_degree": oracle.q(
        oracle.GRAPH_CTES,
        """SELECT COALESCE(o.id, i.id) AS id,
       COALESCE(o.out_degree, 0) AS out_degree,
       COALESCE(i.in_degree, 0) AS in_degree,
       COALESCE(o.out_degree, 0) + COALESCE(i.in_degree, 0) AS degree
FROM (SELECT subj AS id, count(*) AS out_degree FROM edges GROUP BY subj) o
FULL OUTER JOIN (SELECT obj AS id, count(*) AS in_degree FROM edges GROUP BY obj) i
  ON o.id = i.id""",
    ),
    # --- UQL (query language) ---------------------------------------------
    "uql_select_like": oracle.q(
        oracle.GRAPH_CTES,
        "SELECT id, name, entity_type, doc_id, containing_entity FROM all_nodes "
        "WHERE entity_type = 'Function' AND name ILIKE 'k%'",
    ),
    "uql_select_or": oracle.q(
        oracle.GRAPH_CTES,
        "SELECT id, name, entity_type, doc_id, containing_entity FROM all_nodes "
        "WHERE entity_type = 'Class' AND (name = 'key' OR name ILIKE 's%')",
    ),
    # self-match quirk: with no condition and source==target type, the
    # depth-0 row satisfies the target filter -> every function matches
    "uql_traversal_self": oracle.q(
        oracle.GRAPH_CTES,
        "SELECT id, name, entity_type, doc_id, containing_entity FROM all_nodes "
        "WHERE entity_type = 'Function'",
    ),
    # calls targets are terminal placeholders, so 1-hop EXISTS == the BFS
    "uql_traversal_cond": oracle.q(
        oracle.GRAPH_CTES,
        """SELECT n.id, n.name, n.entity_type, n.doc_id, n.containing_entity
FROM all_nodes n WHERE n.entity_type = 'Function' AND EXISTS (
  SELECT 1 FROM edges e JOIN all_nodes t ON t.id = e.obj
  WHERE e.subj = n.id AND e.pred = 'calls'
    AND t.entity_type = 'Function' AND t.name ILIKE '%a%')""",
    ),
    "uql_traversal_imports": oracle.q(
        oracle.GRAPH_CTES,
        """SELECT n.id, n.name, n.entity_type, n.doc_id, n.containing_entity
FROM all_nodes n WHERE n.entity_type = 'Module' AND EXISTS (
  SELECT 1 FROM edges e JOIN all_nodes t ON t.id = e.obj
  WHERE e.subj = n.id AND e.pred = 'imports' AND t.entity_type = 'Function')""",
    ),
    "uql_traversal_contains": oracle.q(
        oracle.GRAPH_CTES,
        """SELECT n.id, n.name, n.entity_type, n.doc_id, n.containing_entity
FROM all_nodes n WHERE n.entity_type = 'Module' AND EXISTS (
  SELECT 1 FROM edges e JOIN all_nodes t ON t.id = e.obj
  WHERE e.subj = n.id AND e.pred IN ('contains', 'defines')
    AND t.entity_type = 'Class')""",
    ),
    "uql_classes_containing": oracle.q(
        oracle.GRAPH_CTES,
        """SELECT n.id, n.name, n.entity_type, n.doc_id, n.containing_entity
FROM all_nodes n WHERE n.entity_type = 'Class' AND EXISTS (
  SELECT 1 FROM edges e JOIN all_nodes t ON t.id = e.obj
  WHERE e.subj = n.id AND e.pred IN ('contains', 'defines')
    AND t.entity_type = 'Function')""",
    ),
    "kg_contains": oracle.q(
        oracle.GRAPH_CTES,
        "SELECT id, subj, obj FROM edges WHERE pred = 'contains'",
    ),
    # Method = a Function some type Contains (executor.typed_nodes view)
    "uql_select_methods": oracle.q(
        oracle.GRAPH_CTES,
        """SELECT n.id, n.name, n.entity_type, n.doc_id, n.containing_entity
FROM all_nodes n WHERE n.entity_type = 'Function' AND n.name ILIKE 's%'
  AND EXISTS (SELECT 1 FROM edges e WHERE e.pred = 'contains' AND e.obj = n.id)""",
    ),
    # Location payload (entity.rs:6-23): span-unit positions; the oracle
    # derives them from the dedupe winner's span index (== offset in the
    # spanify dialect)
    "kg_locations": oracle.q(
        oracle.NODES_CTES,
        """SELECT id,
       CAST(1 AS BIGINT) AS start_line,
       CAST(loc_off + 1 AS BIGINT) AS start_column,
       CAST(loc_off AS BIGINT) AS start_offset,
       CAST(1 AS BIGINT) AS end_line,
       CAST(loc_off + 2 AS BIGINT) AS end_column,
       CAST(loc_off + 1 AS BIGINT) AS end_offset
FROM nodes""",
    ),
    # TypeEntity methods/fields payload: member kind from the pinned id
    # shape ("::var::" = field)
    "kg_type_members": oracle.q(
        oracle.GRAPH_CTES,
        """SELECT subj AS id, obj AS member_id,
       CASE WHEN contains(obj, '::var::') THEN 'field' ELSE 'method' END AS member_kind
FROM edges WHERE pred = 'contains'""",
    ),
    # typed parameter payload: DuckDB twin of nodes.parse_parameters
    "kg_params": oracle.q(
        oracle.NODES_CTES
        + r""",
fparams AS (
  SELECT id,
         list_filter(list_transform(string_split(detail, ','), x -> trim(x)),
                     x -> x <> '') AS parts
  FROM nodes WHERE entity_type = 'Function'
),
pidx AS (
  SELECT id, parts, unnest(generate_series(1, len(parts))) AS i FROM fparams
),
pfields AS (
  SELECT id, CAST(i - 1 AS BIGINT) AS param_idx, parts[i] AS part,
         trim(split_part(parts[i], '=', 1)) AS name_type
  FROM pidx
)""",
        r"""SELECT id, param_idx,
       regexp_replace(trim(split_part(name_type, ':', 1)), '^\*+', '') AS param_name,
       CASE WHEN contains(name_type, ':')
            THEN trim(string_split(name_type, ':')[-1]) ELSE '' END AS type_annotation,
       CASE WHEN contains(part, '=')
            THEN trim(string_split(part, '=')[-1]) ELSE '' END AS default_value
FROM pfields""",
    ),
    # FunctionEntity flags + return_type (entity.rs:209-219) from the
    # dialect's modifier / "->ret" markers
    "kg_fn_flags": oracle.q(
        oracle.NODES_CTES,
        """SELECT id, modifier = 'async' AS is_async,
       modifier = 'static' AS is_static,
       modifier = 'abstract' AS is_abstract,
       ret AS return_type
FROM nodes WHERE entity_type = 'Function'""",
    ),
    # TypeEntity payloads: supertypes Vec (entity.rs:288-296) + generic
    # parameter names/bounds (mod.rs:161-165) from the raw tparams list
    "kg_supertypes": oracle.q(
        oracle.NODES_CTES
        + """,
tpl AS (
  SELECT id, trim(x) AS p FROM (
    SELECT id, unnest(string_split(tparams, ',')) AS x
    FROM nodes
    WHERE entity_type IN ('Class','Interface','Trait','Enum','Struct')
      AND tparams <> ''
  ) WHERE trim(x) <> ''
),
tps AS (
  SELECT id,
         trim(split_part(string_split(p, '=')[1], ':', 1)) AS pname,
         CASE WHEN contains(string_split(p, '=')[1], ':')
              THEN string_split(string_split(p, '=')[1], ':')[-1]
              ELSE '' END AS bounds_str,
         CASE WHEN contains(p, '=')
              THEN trim(string_split(p, '=')[-1]) ELSE '' END AS dflt
  FROM tpl
)""",
        """SELECT id, 'supertype' AS part, sup AS value FROM (
  SELECT id, unnest(string_split(detail, ',')) AS sup
  FROM nodes
  WHERE entity_type IN ('Class','Interface','Trait','Enum','Struct')
    AND detail <> ''
) WHERE sup <> ''
UNION ALL
SELECT id, 'type_param', pname FROM tps WHERE pname <> ''
UNION ALL
SELECT id, 'bound', concat(pname, ':', trim(b)) FROM (
  SELECT id, pname, unnest(string_split(bounds_str, '&')) AS b
  FROM tps WHERE pname <> '' AND bounds_str <> ''
) WHERE trim(b) <> ''
UNION ALL
SELECT id, 'default', concat(pname, '=', dflt)
FROM tps WHERE pname <> '' AND dflt <> ''""",
    ),
    # VariableEntity typed payload (entity.rs:422-429): the raw
    # ":annotation=value" remainder split exactly as build_nodes does
    "kg_var_annotations": oracle.q(
        oracle.NODES_CTES,
        """SELECT id, entity_type,
       coalesce(regexp_extract(detail, '^:([^=]*)', 1), '') AS type_annotation,
       CASE WHEN contains(detail, '=') THEN string_split(detail, '=')[-1]
            ELSE '' END AS value
FROM nodes WHERE entity_type IN ('Variable','Constant')""",
    ),
    # Documentation attachment (P15): per-entity nearest-following-doc
    # plus trailing-doc module docstrings
    "kg_docs": oracle.q(
        oracle.NODES_CTES,
        "SELECT id, entity_type, documentation FROM nodes "
        "WHERE documentation <> ''",
    ),
    "uql_select_has": oracle.q(
        oracle.GRAPH_CTES,
        "SELECT id, name, entity_type, doc_id, containing_entity FROM all_nodes "
        "WHERE entity_type = 'Function' AND (name IS NOT NULL AND name <> '') "
        "AND doc_id ILIKE '1%'",
    ),
    # Q6 path enumeration: all simple paths from module '7' over
    # defines/calls, <= 2 hops, as '->'-joined strings
    "kg_paths": "WITH RECURSIVE "
    + oracle.GRAPH_CTES.lstrip()
    + """,
pwalk(path_str, visited, tip, depth) AS (
  SELECT '7', '|7|', '7', CAST(0 AS BIGINT)
  UNION ALL
  SELECT w.path_str || '->' || e.obj, w.visited || e.obj || '|', e.obj, w.depth + 1
  FROM pwalk w JOIN edges e ON e.subj = w.tip
    AND e.pred IN ('defines', 'calls')
  WHERE w.depth < 2 AND NOT contains(w.visited, '|' || e.obj || '|')
)
SELECT path_str, depth FROM pwalk""",
    # --- linking + canonicalization ---------------------------------------
    "kg_link_keys": oracle.q(oracle.CANON_CTES, "SELECT id, key FROM link_keys"),
    "kg_canonical_map": oracle.q(
        oracle.CANON_CTES, "SELECT id, canonical_id FROM canon"
    ),
    "kg_canonical_edges": oracle.q(
        oracle.CANON_CTES, "SELECT id, subj, pred, obj, weight FROM canon_edges"
    ),
    "kg_canonical_nodes": oracle.q(
        oracle.CANON_CTES,
        """SELECT n.id, n.name, n.entity_type, n.doc_id, n.containing_entity
FROM all_nodes n LEFT JOIN canon c ON c.id = n.id
WHERE c.id IS NULL OR c.canonical_id = n.id""",
    ),
    "kg_call_metadata": oracle.q(
        oracle.GRAPH_CTES,
        "SELECT id, src_doc, CAST(src_span AS BIGINT) AS src_span "
        "FROM edges WHERE pred = 'calls'",
    ),
    "kg_fuzzy_pairs": _fuzzy_oracle(),
    "kg_relevant_files": "WITH RECURSIVE "
    + oracle.GRAPH_CTES.lstrip()
    + """,
seeds AS (
  SELECT id, name, doc_id,
    (CASE WHEN contains(lower(name || ' ' || doc_id || ' ' || documentation), 'key')
          THEN CAST(1.0 AS DOUBLE) + (CASE WHEN contains(lower(name), 'key') THEN CAST(2.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
          ELSE CAST(0.0 AS DOUBLE) END
   + CASE WHEN contains(lower(name || ' ' || doc_id || ' ' || documentation), 'join')
          THEN CAST(1.0 AS DOUBLE) + (CASE WHEN contains(lower(name), 'join') THEN CAST(2.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
          ELSE CAST(0.0 AS DOUBLE) END) AS score
  FROM all_nodes
  WHERE entity_type IN ('Function','Method','Class','Module','Variable','Constant','DomainConcept')
),
seeds2 AS (SELECT * FROM seeds WHERE score > CAST(0.0 AS DOUBLE)),
walk(seed, rel, id, depth) AS (
  SELECT s.id, r.rel, s.id, CAST(0 AS BIGINT)
  FROM seeds2 s, (SELECT unnest(['calls','contains','imports','references','represented_by']) AS rel) r
  UNION
  SELECT w.seed, w.rel, CASE WHEN e.subj = w.id THEN e.obj ELSE e.subj END, w.depth + 1
  FROM walk w JOIN edges e ON e.pred = w.rel AND (e.subj = w.id OR e.obj = w.id)
  WHERE w.depth < 2
),
expanded AS (
  SELECT x.id, MAX(s.score * (CAST(1.0 AS DOUBLE) / (x.mind + CAST(1.0 AS DOUBLE)))) AS prox
  FROM (
    SELECT w.seed, w.rel, w.id, MIN(w.depth) AS mind
    FROM walk w
    WHERE w.depth > 0 AND w.id NOT IN (SELECT id FROM seeds2)
    GROUP BY w.seed, w.rel, w.id
  ) x JOIN seeds2 s ON s.id = x.seed
  GROUP BY x.id
),
cands AS (
  SELECT id, score AS prox FROM seeds2
  UNION ALL
  SELECT id, prox FROM expanded
),
deg AS (
  SELECT id, CAST(COUNT(*) AS DOUBLE) AS deg
  FROM (SELECT subj AS id FROM edges UNION ALL SELECT obj AS id FROM edges)
  GROUP BY id
),
withdeg AS (
  SELECT c.id, c.prox, COALESCE(d.deg, CAST(0.0 AS DOUBLE)) AS deg
  FROM cands c LEFT JOIN deg d ON d.id = c.id
),
maxd AS (SELECT MAX(deg) AS maxdeg FROM withdeg),
ranked AS (
  SELECT id, prox,
         prox * CAST(0.7 AS DOUBLE) + (CASE WHEN maxdeg > CAST(0.0 AS DOUBLE) THEN deg / maxdeg ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.3 AS DOUBLE) AS final_score
  FROM withdeg, maxd
)
SELECT n.doc_id AS path, MAX(r.final_score) AS relevance_score,
       CAST(COUNT(*) AS BIGINT) AS n_contributing
FROM ranked r JOIN all_nodes n ON n.id = r.id
WHERE n.doc_id <> ''
GROUP BY n.doc_id
ORDER BY relevance_score DESC, path LIMIT 10""",
    "dm_concepts": oracle.q(
        oracle.GRAPH_CTES + _DM_CTES, "SELECT doc_id, name FROM concepts"
    ),
    "dm_represented_by": oracle.q(
        oracle.GRAPH_CTES + _DM_CTES,
        """SELECT concat(concept, '->', id, '::represented_by') AS id,
       concept AS subj, 'represented_by' AS pred, id AS obj
FROM anchors""",
    ),
    "dm_relates_to": "WITH RECURSIVE "
    + (oracle.GRAPH_CTES + _DM_CTES).lstrip()
    + """,
rwalk(root, dst, depth) AS (
  SELECT a.id, e.obj, CAST(1 AS BIGINT)
  FROM (SELECT DISTINCT id FROM anchors) a JOIN edges e ON e.subj = a.id
  UNION
  SELECT w.root, e.obj, w.depth + 1
  FROM rwalk w JOIN edges e ON e.subj = w.dst WHERE w.depth < 3
)
SELECT DISTINCT concat(a.concept, '->', b.concept, '::relates_to') AS id,
       a.concept AS subj, 'relates_to' AS pred, b.concept AS obj
FROM anchors a JOIN rwalk w ON w.root = a.id
JOIN anchors b ON b.id = w.dst AND b.concept <> a.concept""",
    # incremental parity: the oracle is the FULL from-scratch build —
    # the Spark side must land on the identical graph via prune+merge
    "kg_incremental_parity": oracle.q(
        oracle.GRAPH_CTES,
        """SELECT 'node' AS part, id, name AS x1, entity_type AS x2,
       doc_id AS x3, containing_entity AS x4
FROM all_nodes
UNION ALL
SELECT 'edge', id, subj, pred, obj, '' FROM edges""",
    ),
    "kg_media_hotkeys": oracle.q(
        oracle.SPANS_CTES,
        "SELECT media_ref, COUNT(*) AS n FROM spans "
        "WHERE media_ref <> '' GROUP BY media_ref",
    ),
    "kg_visibility": oracle.q(
        oracle.GRAPH_CTES,
        """SELECT n.id, n.entity_type,
       CASE WHEN starts_with(n.name, '__') THEN 'Private'
            WHEN starts_with(n.name, '_') THEN 'Protected'
            ELSE 'Public' END AS visibility,
       (n.entity_type = 'Function' AND EXISTS (
          SELECT 1 FROM all_nodes c WHERE c.entity_type = 'Class'
            AND c.doc_id = n.doc_id AND c.name = n.name)) AS is_constructor
FROM all_nodes n""",
    ),
    # graph stats: oracle counts triangles by the plain a<b<c triple
    # join — orientation-free, so it cross-checks the Spark side's
    # degree-oriented enumeration rather than mirroring it
    "kg_triangles": oracle.q(
        oracle.GRAPH_CTES
        + f""",
{_UND_CTE},
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
)""",
        """SELECT id, CAST(COUNT(*) AS BIGINT) AS triangles
FROM (SELECT unnest([x, y, z]) AS id FROM tri) GROUP BY id""",
    ),
    "kg_common_neighbors": oracle.q(
        oracle.GRAPH_CTES
        + f""",
{_UND_CTE},
cnb_deg AS (
  SELECT id, COUNT(*) AS deg
  FROM (SELECT unnest([a, b]) AS id FROM und) GROUP BY id
),
cnb_nbrs AS (
  SELECT a AS center, b AS nbr FROM und
  UNION ALL SELECT b AS center, a AS nbr FROM und
),
cnb_small AS (
  SELECT center, nbr FROM cnb_nbrs
  JOIN cnb_deg ON cnb_deg.id = cnb_nbrs.center
  WHERE cnb_deg.deg <= {_CN_MAX_CENTER_DEGREE}
),
cnb_pairs AS (
  SELECT n1.nbr AS a, n2.nbr AS b, COUNT(*) AS n_common
  FROM cnb_small n1 JOIN cnb_small n2 USING (center)
  WHERE n1.nbr < n2.nbr GROUP BY 1, 2
),
cnb_new AS (
  SELECT p.* FROM cnb_pairs p
  LEFT JOIN und u ON u.a = p.a AND u.b = p.b WHERE u.a IS NULL
),
cnb_scored AS (
  SELECT cnb_new.a, cnb_new.b, CAST(n_common AS BIGINT) AS n_common,
         CAST({_CN_JACCARD_SCALE} * n_common
              // (da.deg + db.deg - n_common) AS BIGINT) AS jaccard_scaled
  FROM cnb_new
  JOIN cnb_deg da ON da.id = cnb_new.a
  JOIN cnb_deg db ON db.id = cnb_new.b
)""",
        f"""SELECT a, b, n_common, jaccard_scaled, CAST(rnk AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
    ORDER BY jaccard_scaled DESC, n_common DESC, a ASC, b ASC) AS rnk
  FROM cnb_scored
) WHERE rnk <= {_CN_TOP_K}""",
    ),
    "kg_pagerank": oracle.q(
        oracle.GRAPH_CTES + ",\n" + _PGR_CTES,
        _PGR_BODY,
    ),
}
