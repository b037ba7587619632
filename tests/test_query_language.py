"""UQL parser + executor + formatter tests, mirroring the reference's
inline tests (parser.rs:415-555, db_executor.rs:255-384,
formatter.rs:336-586) including the auth_login/validate_token fixture."""

from __future__ import annotations

import pytest

from ummon_spark.query.parser import (
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
from ummon_spark.query.executor import execute_query
from ummon_spark.query.formatter import (
    apply_text_limit,
    format_csv,
    format_rows,
    format_text,
)


# --- parser ----------------------------------------------------------------


def test_parse_select_simple():
    q = parse_query("select functions")
    assert isinstance(q, SelectQuery)
    assert q.entity_type == "Function"
    assert q.condition is None


def test_parse_select_condition():
    q = parse_query("select functions where name = 'main'")
    c = q.condition
    assert isinstance(c, Condition)
    assert (c.attribute, c.operator, c.value) == ("name", "=", "main")


def test_parse_traversal():
    q = parse_query("functions calling functions")
    assert isinstance(q, TraversalQuery)
    assert q.source_type == "Function"
    assert q.relationship == "calls"
    assert q.target_type == "Function"


def test_parse_gerund_and_plain_forms():
    assert parse_query("classes inheriting classes").relationship == "inherits"
    assert parse_query("modules imports modules").relationship == "imports"
    assert parse_query("functions depending functions").relationship == "depends_on"


def test_parse_logical_ops():
    q = parse_query("select functions where name = 'a' and file_path like '%x%'")
    assert isinstance(q.condition, And)
    q = parse_query("select functions where name = 'a' or name = 'b'")
    assert isinstance(q.condition, Or)


def test_parse_not_discards_left():
    # faithful quirk: infix "not" drops the left operand (parser.rs:308)
    q = parse_query("select functions where name = 'a' not name = 'b'")
    assert isinstance(q.condition, Not)
    assert q.condition.inner.value == "b"


def test_parse_has():
    q = parse_query("select functions where has documentation")
    assert isinstance(q.condition, HasAttribute)
    assert q.condition.attribute == "documentation"


def test_parse_number_value():
    q = parse_query("select domain_concepts where confidence > 0.5")
    assert q.condition.value == 0.5
    assert q.condition.is_number


def test_parse_invalid_rejected():
    for bad in ("select", "select bogus", "functions calling", "select functions where", "gibberish"):
        with pytest.raises(QueryParseError):
            parse_query(bad)


# --- executor on the reference's fixture graph -----------------------------


@pytest.fixture(scope="module")
def fixture_graph(spark):
    """Two functions in src/auth.rs, one calls edge (db_executor.rs:264-321)."""
    nodes = spark.createDataFrame(
        [
            ("src/auth.rs::auth_login", "auth_login", "Function", "src/auth.rs", "", "", ""),
            ("src/auth.rs::validate_token", "validate_token", "Function", "src/auth.rs", "", "", ""),
            ("src/auth.rs", "src/auth.rs", "Module", "src/auth.rs", "", "", ""),
        ],
        "id string, name string, entity_type string, doc_id string, containing_entity string, documentation string, detail string",
    )
    edges = spark.createDataFrame(
        [
            (
                "src/auth.rs::auth_login->src/auth.rs::validate_token::calls",
                "src/auth.rs::auth_login",
                "calls",
                "src/auth.rs::validate_token",
                1.0,
            )
        ],
        "id string, subj string, pred string, obj string, weight double",
    )
    return nodes, edges


def test_select_functions(fixture_graph):
    nodes, edges = fixture_graph
    out = execute_query(nodes, edges, "select functions")
    assert out.count() == 2


def test_select_with_condition(fixture_graph):
    nodes, edges = fixture_graph
    out = execute_query(nodes, edges, "select functions where name = 'auth_login'")
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["name"] == "auth_login"


def test_select_like_case_insensitive(fixture_graph):
    nodes, edges = fixture_graph
    out = execute_query(nodes, edges, "select functions where name like 'AUTH%'")
    assert out.count() == 1  # SQLite LIKE is case-insensitive


def test_traversal_keeps_source(fixture_graph):
    nodes, edges = fixture_graph
    out = execute_query(
        nodes, edges, "functions calling functions where name = 'validate_token'"
    )
    rows = out.collect()
    # condition applies to TARGETS; the SOURCE is returned
    assert [r["name"] for r in rows] == ["auth_login"]


def test_traversal_no_condition_self_match(fixture_graph):
    nodes, edges = fixture_graph
    out = execute_query(nodes, edges, "functions calling functions")
    # depth-0 self rows satisfy the target-type filter -> both functions
    assert out.count() == 2


def test_traversal_condition_excludes_depth0(fixture_graph):
    nodes, edges = fixture_graph
    out = execute_query(
        nodes, edges, "functions calling functions where name = 'auth_login'"
    )
    # only target (depth>0) is validate_token; auth_login is depth 0
    assert out.count() == 0


def test_has_condition(fixture_graph):
    nodes, edges = fixture_graph
    assert execute_query(nodes, edges, "select functions where has name").count() == 2
    assert (
        execute_query(nodes, edges, "select functions where has documentation").count()
        == 0
    )


@pytest.mark.parametrize(
    "limit, footer, counted",
    [(3, "", False), (2, "", True), (1, "(Limited to 1 results, total: 2)", True)],
)
def test_query_text_page_and_footer(fixture_graph, monkeypatch, limit, footer, counted):
    """`commands.query` text output for results shorter than, exactly,
    and longer than `limit`: the rows shown and the footer are those of
    a full count, but a short page (which is the whole result) runs no
    count job."""
    from ummon_spark import commands

    nodes, edges = fixture_graph
    lines = [
        "auth_login (src/auth.rs::auth_login) [src/auth.rs]",
        "validate_token (src/auth.rs::validate_token) [src/auth.rs]",
    ]
    counts = []
    real_count = type(nodes).count
    monkeypatch.setattr(
        type(nodes), "count", lambda df: counts.append(1) or real_count(df)
    )
    out = commands.query(nodes, edges, "select functions", fmt="text", limit=limit)
    if footer:
        assert out == "\n".join(lines[:limit] + [footer])
    else:
        assert out == "\n".join(lines) + "\n"
    assert bool(counts) == counted


# --- formatter -------------------------------------------------------------


ROWS = [
    {"id": "f::a", "name": "a", "entity_type": "Function", "doc_id": "f"},
    {"id": "f::b", "name": "b", "entity_type": "Function", "doc_id": "",
     "metadata": {"author": "x,y"}},
]


def test_format_text_golden():
    out = format_text(ROWS)
    assert out == "a (f::a) [f]\nb (f::b)\n"


def test_format_text_empty():
    assert format_text([]) == "No entities found"


def test_format_csv_golden():
    out = format_csv(ROWS)
    lines = out.splitlines()
    assert lines[0] == "id,name,type,file_path,author"
    assert lines[1] == "f::a,a,Function,f,"
    assert lines[2] == 'f::b,b,Function,,"x,y"'


def test_text_limit_footer():
    out = apply_text_limit("l1\nl2\nl3", 2)
    assert out == "l1\nl2\n(Limited to 2 results, total: 3)"


def test_format_rows_json():
    import json

    objs = json.loads(format_rows(ROWS, "json"))
    assert objs[0] == {"id": "f::a", "name": "a", "type": "Function", "file_path": "f"}
    assert "file_path" not in objs[1]
    assert objs[1]["metadata"] == {"author": "x,y"}


# --- Other(x) round-trip (db.rs:1041-1106) ----------------------------------


def test_other_type_roundtrip_pure():
    from ummon_spark.types import (
        is_custom_pred,
        parse_entity_type,
        parse_relationship_type,
    )

    assert parse_entity_type("Function") == "Function"
    assert parse_entity_type("Other(CustomType)") == "CustomType"
    assert parse_entity_type("Widget") == "Widget"  # bare custom name
    assert parse_relationship_type("calls") == "calls"
    assert parse_relationship_type("Other(wraps)") == "wraps"
    assert is_custom_pred("wraps") and not is_custom_pred("calls")


def test_other_relationship_traverses_both_directions(spark):
    """db_executor.rs:77: Other(...) relationships traverse both ways —
    B -wraps-> A still matches 'A-sources wrapping B-targets'."""
    from ummon_spark.query.executor import execute_traversal
    from ummon_spark.query.parser import TraversalQuery

    nodes = spark.createDataFrame(
        [
            ("a", "a", "Function", "f", "f", "", ""),
            ("b", "b", "Class", "f", "f", "", ""),
        ],
        "id string, name string, entity_type string, doc_id string, "
        "containing_entity string, documentation string, detail string",
    )
    edges = spark.createDataFrame(
        [("e1", "b", "wraps", "a", 1.0)],
        "id string, subj string, pred string, obj string, weight double",
    )
    q = TraversalQuery("Function", "Other(wraps)", "Class")
    out = execute_traversal(nodes, edges, q)
    assert {r["id"] for r in out.collect()} == {"a"}
    # custom ENTITY types round-trip through select too
    from ummon_spark.query.executor import execute_select
    from ummon_spark.query.parser import SelectQuery

    from pyspark.sql import functions as F

    widget_nodes = nodes.withColumn("entity_type", F.lit("Widget"))
    sel = execute_select(widget_nodes, SelectQuery("Other(Widget)"))
    assert sel.count() == 2


def test_condition_on_typed_payload_attrs(spark):
    """Whitelist extension beyond db_executor.rs:11: conditions on the
    typed Function/Variable payload columns (return_type,
    type_annotation) — 'async functions calling X'-class queries
    (VERDICT r2 missing #2)."""
    from ummon_spark.pipeline import build_graph
    from ummon_spark.query.executor import execute_query
    from ummon_spark.schemas import DOCUMENTS

    rows = [
        ("d1", [("def", "async foo(x)->int", "", 0),
                 ("def", "bar(y)", "", 1),
                 ("var", "v:str=hello", "", 2),
                 ("const", "c=3", "", 3)]),
    ]
    g = build_graph(spark.createDataFrame(rows, schema=DOCUMENTS), persist=False)
    names = lambda q: {r["name"] for r in execute_query(g.nodes, g.edges, q).collect()}
    assert names("select functions where has return_type") == {"foo"}
    assert names("select functions where return_type = 'int'") == {"foo"}
    assert names("select variables where type_annotation = 'str'") == {"v"}
    flags = {r["name"]: (r["is_async"], r["is_static"], r["is_abstract"], r["return_type"])
             for r in g.nodes.filter("entity_type = 'Function' AND doc_id != ''").collect()}
    assert flags["foo"] == (True, False, False, "int")
    assert flags["bar"] == (False, False, False, "")


# --- oracle-backed parity for UQL constructs past the gate probes -----------
# (the 9 registry uql_* gates cover like/or/has/traversals/Method; these
# pin the Field structural view, the infix-not quirk, and != end-to-end
# against the same DuckDB GRAPH_CTES oracle, at sf0.001)


def _uql_oracle_parity(spark, duck, uql: str, oracle_body: str):
    from conftest import SF_SMOKE

    from ummon_spark import gate, oracle
    from ummon_spark.query.executor import execute_query

    g = gate._graph(spark, SF_SMOKE)
    out = execute_query(g.nodes, g.edges, uql).select(
        "id", "name", "entity_type", "doc_id", "containing_entity"
    )
    srows = sorted(tuple(r) for r in out.collect())
    res = duck.sql(oracle.q(oracle.GRAPH_CTES, oracle_body))
    drows = sorted(tuple(r) for r in res.fetchall())
    assert len(srows) > 0, f"vacuous parity for {uql!r}"
    assert srows == drows, f"{uql!r} diverges from oracle"


def test_uql_select_fields_view_parity(spark, duck):
    """Field = a Variable some type Contains (structural view twin of
    the Method view); `has type_annotation` filters the typed payload."""
    _uql_oracle_parity(
        spark,
        duck,
        "select fields where has type_annotation",
        """SELECT n.id, n.name, n.entity_type, n.doc_id, n.containing_entity
FROM all_nodes n JOIN nodes raw ON raw.id = n.id
WHERE n.entity_type = 'Variable'
  AND coalesce(regexp_extract(raw.detail, '^:([^=]*)', 1), '') <> ''
  AND EXISTS (SELECT 1 FROM edges e WHERE e.pred = 'contains' AND e.obj = n.id)""",
    )


def test_uql_infix_not_quirk_parity(spark, duck):
    """Faithful reference quirk end-to-end: `a not b` DISCARDS a and
    executes Not(b) (parser.rs:308) — the result is the complement of
    the right condition, the left never applies."""
    _uql_oracle_parity(
        spark,
        duck,
        "select functions where name = 'zzz_never' not name like 'k%'",
        "SELECT id, name, entity_type, doc_id, containing_entity FROM all_nodes "
        "WHERE entity_type = 'Function' AND NOT (name ILIKE 'k%')",
    )


def test_uql_not_equals_parity(spark, duck):
    _uql_oracle_parity(
        spark,
        duck,
        "select classes where name != 'key'",
        "SELECT id, name, entity_type, doc_id, containing_entity FROM all_nodes "
        "WHERE entity_type = 'Class' AND name <> 'key'",
    )
