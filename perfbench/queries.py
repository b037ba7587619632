"""The query phase: one client in a closed loop over the materialized graph.

Each request's parameter is a token drawn from the corpus's own Zipf
distribution, so hub entities are asked about often and the long tail
now and then. Two classes:

- lookup: ``traversal.who_calls``, ``traversal.entity_neighborhood`` and
  a ``commands.query`` select with a name prefix;
- traverse: ``commands.query`` traversals (calling and containing, with
  a name condition) and ``traversal.transitive_depends``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import functions as F

from checks import parse_text_result
from inputs import Shape, token, zipf_probs

LOOKUP, TRAVERSE = "lookup", "traverse"
UQL = {
    "select": "select functions where name like '{p}%'",
    "calling": "functions calling functions where name like '{p}%'",
    "containing": "classes containing functions where name like '{p}%'",
}
DEPENDS_PREDS = ("defines", "calls", "imports")  # transitive_depends default


@dataclass(frozen=True)
class Request:
    cls: str
    kind: str
    param: str  # a vocabulary token

    def uql(self) -> str:
        return UQL[self.kind].format(p=self.param)


# Kinds take turns in this fixed order, and the loop serves whole
# rounds of it only, so every run serves each kind equally often: kind
# latencies differ by up to 3x, and an unequal mix would move the class
# medians from run to run. Lookups and traversals alternate, so host
# load drifting during the loop reaches both classes alike.
ROTATION = (
    (LOOKUP, "who_calls"),
    (TRAVERSE, "calling"),
    (LOOKUP, "neighborhood"),
    (TRAVERSE, "containing"),
    (LOOKUP, "select"),
    (TRAVERSE, "depends"),
)
TIMED, WARM_UP = 1, 2  # request streams drawn from the same seed


def make_requests(shape: Shape, seed: int, n: int, stream: int = TIMED) -> list[Request]:
    """A seeded request sequence; the loop consumes a prefix of it. The
    warm-up stream draws other parameters than the timed one."""
    rng = np.random.default_rng([seed, stream])
    ranks = rng.choice(shape.vocab, size=n, p=zipf_probs(shape))
    return [
        Request(*ROTATION[i % len(ROTATION)], token(int(r))) for i, r in enumerate(ranks)
    ]


def execute(req: Request, nodes, edges):
    """Build the request's answer as a DataFrame (Spark work that the
    layer runs eagerly, such as BFS levels, happens here), or None for
    requests answered by ``commands.query`` as a whole."""
    from ummon_spark.operators import traversal

    if req.kind == "who_calls":
        return traversal.who_calls(edges, req.param)
    if req.kind == "neighborhood":
        return traversal.entity_neighborhood(edges, f"media::img_{req.param}")
    if req.kind == "depends":
        roots = nodes.filter(F.col("name") == req.param)
        return traversal.transitive_depends(roots, edges, "Function", DEPENDS_PREDS)
    return None


def run(req: Request, nodes, edges):
    """Serve one request end to end; returns its answer."""
    from ummon_spark import commands

    df = execute(req, nodes, edges)
    if df is None:
        return commands.query(nodes, edges, req.uql())
    return df.collect()


def check(req: Request, answer, oracle) -> bool:
    """Compare an answer with the DuckDB oracle."""
    if req.kind == "who_calls":
        return sorted(tuple(r) for r in answer) == oracle.who_calls(req.param)
    if req.kind == "neighborhood":
        got = sorted(tuple(r) for r in answer)
        return got == oracle.neighborhood(f"media::img_{req.param}")
    if req.kind == "depends":
        got = sorted(tuple(r) for r in answer)
        return got == oracle.depends("Function", req.param, DEPENDS_PREDS)
    ids, total = parse_text_result(answer)
    if req.kind == "select":
        want = oracle.select_ids("Function", req.param)
    elif req.kind == "calling":
        want = oracle.traversal_ids("Function", ("calls",), "Function", req.param)
    else:  # containing: `contains` resolves to contains + defines
        want = oracle.traversal_ids(
            "Class", ("contains", "defines"), "Function", req.param
        )
    return total == len(want) and ids <= want
