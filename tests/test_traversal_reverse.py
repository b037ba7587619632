"""UQL traversal parity: `execute_traversal` (a reverse BFS from the
targets) against a forward pure-Python BFS from every source.

The reference keeps a source when some target of the target type,
matching the condition if there is one, lies 1..10 hops away along the
relationship's edges (min hop count >= 1, so a cycle back to the source
counts). With no condition, a source that is itself a target also
matches (depth 0, db.rs:853). `relates_to` and every Other(...)
relationship are followed in both directions; `contains` also follows
`defines`; `Method` is a Function that something `contains`.

All graphs below live in one node/edge table (ids and names carry the
graph's prefix), so every case checks parity over the whole table and
additionally pins the ids its own graph was built to produce.
"""

from __future__ import annotations

import random
from collections import defaultdict

import pytest

from ummon_spark.query.executor import execute_traversal
from ummon_spark.query.parser import TraversalQuery, parse_query

F, C, M = "Function", "Class", "Module"


def _chain(prefix: str, hops: int) -> tuple[list, list]:
    ids = [f"{prefix}{i}" for i in range(hops + 1)]
    nodes = [(i, i, F) for i in ids[:-1]] + [(ids[-1], f"end{prefix}", F)]
    return nodes, [(a, "calls", b) for a, b in zip(ids, ids[1:])]


def _seeded(seed: int = 11) -> tuple[list, list]:
    rng = random.Random(seed)
    nodes = [(f"rnd{i}", f"rnd_{i}", rng.choice((F, F, C))) for i in range(24)]
    edges = [
        (f"rnd{rng.randrange(24)}", rng.choice(("calls", "contains", "relates_to")),
         f"rnd{rng.randrange(24)}")
        for _ in range(40)
    ]
    return nodes, edges


# (nodes as (id, name, entity_type), edges as (subj, pred, obj)) per graph
GRAPHS = {
    # 2-cycle a<->b with c feeding it, a self-loop on d, a loop-free e
    "cyc": (
        [("cyc_a", "cyc_a", F), ("cyc_b", "cyc_b", F), ("cyc_c", "cyc_c", F),
         ("cyc_d", "cyc_d", F), ("cyc_e", "cyc_e", F)],
        [("cyc_a", "calls", "cyc_b"), ("cyc_b", "calls", "cyc_a"),
         ("cyc_c", "calls", "cyc_a"), ("cyc_d", "calls", "cyc_d")],
    ),
    "ten": _chain("ten", 10),
    "eleven": _chain("eleven", 11),
    # Module contains Class contains Function (a Method); a second class
    # only `defines` its function, which is therefore not a Method
    "meth": (
        [("meth_m", "meth_m", M), ("meth_k", "meth_k", C), ("meth_f", "meth_f", F),
         ("meth_k2", "meth_k2", C), ("meth_g", "meth_g", F)],
        [("meth_m", "contains", "meth_k"), ("meth_k", "contains", "meth_f"),
         ("meth_m", "defines", "meth_k2"), ("meth_k2", "defines", "meth_g")],
    ),
    # both-direction relationships: relates_to and a custom `wraps`
    "rel": (
        [("rel_p", "rel_p", F), ("rel_q", "rel_q", C), ("rel_v", "rel_v", F),
         ("rel_w", "rel_w", C)],
        [("rel_q", "relates_to", "rel_p"), ("rel_w", "wraps", "rel_v")],
    ),
    "rnd": _seeded(),
}

CONDITIONS = {
    None: None,
    "name = 'cyc_a' or name = 'cyc_d' or name = 'cyc_e'":
        lambda n: n in ("cyc_a", "cyc_d", "cyc_e"),
    "name like 'END%'": lambda n: n.startswith("end"),
    "name = 'nothing'": lambda n: False,
    "name like 'rnd_1%'": lambda n: n.startswith("rnd_1"),
    "name like 'rnd_2%'": lambda n: n.startswith("rnd_2"),
}

# (source, relationship, target, condition, ids that must be in /
# out of the answer)
CASES = {
    "cycle_and_self_loop": (
        F, "calls", F, "name = 'cyc_a' or name = 'cyc_d' or name = 'cyc_e'",
        {"cyc_a", "cyc_b", "cyc_c", "cyc_d"}, {"cyc_e"},
    ),
    "chains_of_10_and_11_hops": (
        F, "calls", F, "name like 'END%'",
        {"ten0", "ten9", "eleven1", "eleven10"}, {"ten10", "eleven0", "eleven11"},
    ),
    "no_condition_same_type": (
        C, "inherits", C, None, {"meth_k", "meth_k2", "rel_q", "rel_w"}, set(),
    ),
    "method_target_no_condition": (
        M, "contains", "Method", None, {"meth_m"}, set(),
    ),
    "classes_containing_methods": (
        C, "contains", "Method", None, {"meth_k"}, {"meth_k2"},
    ),
    "relates_to_reverse_direction": (
        F, "relates_to", C, None, {"rel_p"}, {"rel_v"},
    ),
    "other_pred_forward": (C, "Other(wraps)", F, None, {"rel_w"}, {"rel_q"}),
    "other_pred_reverse": (F, "Other(wraps)", C, None, {"rel_v"}, {"rel_p"}),
    "empty_target_type": (F, "calls", "Struct", None, set(), {"cyc_a"}),
    "empty_condition_match": (F, "calls", F, "name = 'nothing'", set(), {"cyc_a"}),
    "seeded_calls": (F, "calls", F, "name like 'rnd_1%'", {"rnd0", "rnd6"}, set()),
    "seeded_containing": (C, "contains", F, "name like 'rnd_2%'", {"rnd8"}, set()),
    "seeded_relates_to": (F, "relates_to", C, None, {"rnd9", "rnd12"}, set()),
}


def reference(nodes, edges, source, rel, target, cond) -> set[str]:
    """Forward BFS from each source: min hop counts 1..10."""
    from ummon_spark.types import is_custom_pred, parse_relationship_type

    rel = parse_relationship_type(rel)
    preds = {"contains": ("contains", "defines")}.get(rel, (rel,))
    both = rel == "relates_to" or is_custom_pred(rel)
    adj = defaultdict(set)
    for s, p, o in edges:
        if p in preds:
            adj[s].add(o)
            if both:
                adj[o].add(s)
    contained = {o for _, p, o in edges if p == "contains"}
    views = {"Method": (F, contained), "Field": ("Variable", contained)}

    def of_type(t):
        base, members = views.get(t, (t, None))
        return {i for i, (_, et) in nodes.items()
                if et == base and (members is None or i in members)}

    targets = {t for t in of_type(target) if cond is None or cond(nodes[t][0])}
    out = set()
    for s in of_type(source):
        reached, frontier = set(), {s}
        for _ in range(10):
            frontier = {o for v in frontier for o in adj[v]} - reached
            reached |= frontier
        if reached & targets or (cond is None and s in targets):
            out.add(s)
    return out


@pytest.fixture(scope="module")
def graph(spark):
    node_rows = [n for ns, _ in GRAPHS.values() for n in ns]
    edge_rows = [e for _, es in GRAPHS.values() for e in es]
    nodes = spark.createDataFrame(
        [(i, name, et, "f", "", "", "") for i, name, et in node_rows],
        "id string, name string, entity_type string, doc_id string, "
        "containing_entity string, documentation string, detail string",
    ).persist()
    edges = spark.createDataFrame(
        [(f"{s}->{o}::{p}", s, p, o, 1.0) for s, p, o in edge_rows],
        "id string, subj string, pred string, obj string, weight double",
    ).persist()
    yield nodes, edges, {i: (name, et) for i, name, et in node_rows}, edge_rows
    nodes.unpersist()
    edges.unpersist()


@pytest.mark.parametrize("case", sorted(CASES))
def test_traversal_matches_forward_reference(graph, case):
    nodes, edges, node_map, edge_rows = graph
    source, rel, target, cond_text, must, must_not = CASES[case]
    cond = None
    if cond_text is not None:
        cond = parse_query(f"select functions where {cond_text}").condition
    q = TraversalQuery(source, rel, target, cond)
    got = {r["id"] for r in execute_traversal(nodes, edges, q).collect()}
    want = reference(node_map, edge_rows, source, rel, target,
                     CONDITIONS[cond_text])
    assert got == want
    assert must <= got
    assert not (must_not & got)


@pytest.mark.parametrize("threshold, broadcast", [(None, True), ("64b", False), ("-1", False)])
def test_levels_broadcast_only_within_threshold(spark, graph, threshold, broadcast):
    """Levels are broadcast-hinted only while their bytes fit
    `spark.sql.autoBroadcastJoinThreshold`: at the session default every
    level here fits; at 64 bytes a one-id frontier fits but the matched
    set of the final semi-join does not; at -1 (broadcasts off) nothing
    is hinted. The answers hold on every side."""
    nodes, edges, node_map, edge_rows = graph
    key = "spark.sql.autoBroadcastJoinThreshold"
    default = spark.conf.get(key)
    if threshold is not None:
        spark.conf.set(key, threshold)
    try:
        for case in ("chains_of_10_and_11_hops", "cycle_and_self_loop"):
            source, rel, target, cond_text, _, _ = CASES[case]
            cond = parse_query(f"select functions where {cond_text}").condition
            out = execute_traversal(nodes, edges, TraversalQuery(source, rel, target, cond))
            plan = out._jdf.queryExecution().executedPlan().toString()
            got = {r["id"] for r in out.collect()}
            assert got == reference(node_map, edge_rows, source, rel, target,
                                    CONDITIONS[cond_text])
            assert ("BroadcastHashJoin" in plan) == broadcast
    finally:
        spark.conf.set(key, default)
