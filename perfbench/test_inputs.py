"""Tests of the benchmark's own pieces: run with ``python3 -m pytest perfbench``."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

import queries
from checks import parse_text_result
from inputs import WORKLOADS, digest, generate
from tracing import Tracer


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_same_seed_same_inputs_other_seed_other_inputs(workload, tmp_path):
    shape = WORKLOADS[workload]
    a = generate(shape, 7, str(tmp_path / "a"))
    b = generate(shape, 7, str(tmp_path / "b"))
    c = generate(shape, 8, str(tmp_path / "c"))
    assert digest(a.corpus_dir) == digest(b.corpus_dir)
    assert digest(a.changes_dir) == digest(b.changes_dir)
    assert digest(a.corpus_dir) != digest(c.corpus_dir)
    assert digest(a.changes_dir) != digest(c.changes_dir)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_inputs_follow_the_workload_shape(workload, tmp_path):
    shape = WORKLOADS[workload]
    inp = generate(shape, 3, str(tmp_path))
    docs = pq.read_table(f"{inp.corpus_dir}/documents.parquet").to_pylist()
    assert [d["doc_id"] for d in docs] == list(range(shape.n_docs))
    for d in docs:
        toks = d["text"].split(" ")
        assert shape.min_len <= len(toks) <= shape.max_len
        assert all(0 <= int(t[1:]) < shape.vocab for t in toks)
        assert d["n_chars"] == len(d["text"])
    changes = pq.read_table(f"{inp.changes_dir}/documents.parquet").to_pylist()
    ids = [d["doc_id"] for d in changes]
    assert len(ids) == len(set(ids)) == inp.n_modified + inp.n_new
    assert sum(i < shape.n_docs for i in ids) == inp.n_modified
    assert inp.n_modified == round(shape.n_docs * shape.modified_share)
    assert inp.n_new == round(shape.n_docs * shape.new_share)


def test_requests_balance_the_kinds_and_warm_up_draws_other_parameters():
    shape = WORKLOADS["hub"]
    n = 4 * len(queries.ROTATION)
    timed = queries.make_requests(shape, 5, n)
    assert timed == queries.make_requests(shape, 5, n)
    kinds = [r.kind for r in timed]
    assert len({kinds.count(k) for k in kinds}) == 1  # whole rounds: equal shares
    for cls in (queries.LOOKUP, queries.TRAVERSE):
        assert sum(c == cls for c, _ in queries.ROTATION) == len(queries.ROTATION) // 2
    warm = queries.make_requests(shape, 5, n, queries.WARM_UP)
    assert [r.param for r in warm] != [r.param for r in timed]


def test_parse_text_result():
    assert parse_text_result("No entities found") == (set(), 0)
    shown = "t1 (3::t1) [3]\nt10 (3::t10) [3]\n"
    assert parse_text_result(shown) == ({"3::t1", "3::t10"}, 2)
    footer = shown + "(Limited to 2 results, total: 9)"
    assert parse_text_result(footer) == ({"3::t1", "3::t10"}, 9)


def test_self_time_excludes_children():
    t = Tracer("r")
    with t.span("op"):
        with t.span("layer"):
            pass
        with t.span("layer"):
            pass
    op = next(s for s in t.spans if s.name == "op")
    assert t.total("layer") <= op.duration
    assert t.self_time("op") == pytest.approx(op.duration - t.total("layer"))
    assert t.self_time("layer") == pytest.approx(t.total("layer"))
