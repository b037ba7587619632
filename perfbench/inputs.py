"""Seeded input generator for the benchmark.

The program under test only ever sees what this module writes: a flat
``documents.parquet`` table ``(doc_id, text, lang, source, n_chars)`` in
the layout ``ummon_spark.corpus.load_documents`` reads, plus a change
batch in the same layout for the incremental update. Everything is a
pure function of ``(workload, seed)``.

The corpus is written as several part files because a production
documents table has many input splits; a single small file would make
Spark run the narrow spanify/parse stages in one task.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Shape:
    """Input properties one workload fixes (recorded in BENCHMARK.json)."""

    n_docs: int
    vocab: int  # distinct tokens
    zipf_s: float  # token rank-frequency exponent: p(rank) ~ rank**-s
    min_len: int  # tokens per document, inclusive range
    max_len: int
    modified_share: float  # change batch: share of docs rewritten
    new_share: float  # change batch: share of docs added


# Both workloads keep the document count and length range equal, so they
# differ only in how much the documents share: `hub` concentrates mass
# on a few hundred tokens (hub media refs, hub callees, large link
# components), `tail` spreads it over a long tail (mostly one-off
# entities, many small components, lookups returning few rows).
# 500 documents (~32k triples): on 4 cores a warm build of 500 documents
# takes ~6 s and one of 1,500 ~9 s, nearly all of it per-stage overhead,
# and a whole run has to end in about a minute.
WORKLOADS: dict[str, Shape] = {
    "hub": Shape(500, 2_000, 1.2, 10, 200, 0.01, 0.01),
    "tail": Shape(500, 50_000, 0.8, 10, 200, 0.01, 0.01),
}

N_PART_FILES = 8


def token(rank: int) -> str:
    """The token of a vocabulary rank (0 = most frequent)."""
    return f"t{rank}"


def zipf_probs(shape: Shape) -> np.ndarray:
    p = np.arange(1, shape.vocab + 1, dtype=np.float64) ** -shape.zipf_s
    return p / p.sum()


def _texts(rng: np.random.Generator, shape: Shape, n: int) -> list[str]:
    lens = rng.integers(shape.min_len, shape.max_len + 1, n)
    ranks = rng.choice(shape.vocab, size=int(lens.sum()), p=zipf_probs(shape))
    words = np.array([token(r) for r in range(shape.vocab)], dtype=object)[ranks]
    out, o = [], 0
    for n_tok in lens:
        out.append(" ".join(words[o : o + n_tok]))
        o += n_tok
    return out


def _table(doc_ids: list[int], texts: list[str]) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array([f"src{d % 7}" for d in doc_ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _write(table: pa.Table, sf_dir: str, n_files: int) -> None:
    out = os.path.join(sf_dir, "documents.parquet")
    os.makedirs(out, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(out, f"part-{k:03d}.parquet"))


@dataclass
class Inputs:
    corpus_dir: str  # sf_dir of the full corpus
    changes_dir: str  # sf_dir of the change batch (modified + new docs)
    n_modified: int
    n_new: int


def generate(shape: Shape, seed: int, out_dir: str) -> Inputs:
    """Write the corpus and its change batch under out_dir."""
    rng = np.random.default_rng(seed)
    ids = list(range(shape.n_docs))
    base = _table(ids, _texts(rng, shape, shape.n_docs))
    n_mod = max(1, round(shape.n_docs * shape.modified_share))
    n_new = max(1, round(shape.n_docs * shape.new_share))
    mod_ids = sorted(int(i) for i in rng.choice(shape.n_docs, n_mod, replace=False))
    new_ids = list(range(shape.n_docs, shape.n_docs + n_new))
    changes = _table(mod_ids + new_ids, _texts(rng, shape, n_mod + n_new))
    corpus_dir = os.path.join(out_dir, "corpus")
    changes_dir = os.path.join(out_dir, "changes")
    _write(base, corpus_dir, N_PART_FILES)
    _write(changes, changes_dir, 1)
    return Inputs(corpus_dir, changes_dir, n_mod, n_new)


def digest(sf_dir: str) -> str:
    """md5 over the rows of a generated documents table, in file order."""
    h = hashlib.md5()
    root = os.path.join(sf_dir, "documents.parquet")
    for name in sorted(os.listdir(root)):
        for row in pq.read_table(os.path.join(root, name)).to_pylist():
            h.update(repr(sorted(row.items())).encode())
    return h.hexdigest()
