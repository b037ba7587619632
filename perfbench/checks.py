"""Correctness oracles, evaluated in DuckDB outside every timed region.

Graph builds are checked against the repository's own DuckDB oracle for
the edge table (``gate.ORACLES["kg_edges"]``) over the same generated
documents; query answers against plain SQL over the materialized
parquet tables. Triple sets compare as (row count, md5 over the sorted
``id|subj|pred|obj`` lines): md5 is the only hash both engines compute
identically.
"""

from __future__ import annotations

import re

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_DEPTH = 10  # the traversal depth cap of ummon_spark.query.executor


def spark_triple_digest(edges: DataFrame) -> tuple[int, str]:
    line = F.concat_ws("|", "id", "subj", "pred", "obj")
    row = edges.select(
        F.count(F.lit(1)).alias("n"),
        F.md5(F.concat_ws("\n", F.array_sort(F.collect_list(line)))).alias("h"),
    ).collect()[0]
    return int(row["n"]), row["h"]


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '1GB'")
    return con


def _docs(sf_dir: str) -> str:
    return f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"


def oracle_triple_digest(corpus_dir: str, changes_dir: str | None = None) -> tuple[int, str]:
    """The oracle's (count, digest) of the edge table built from the
    corpus, with the change batch applied when given (changed docs
    replace their old version, new docs are appended)."""
    from ummon_spark.gate import ORACLES

    con = connect()
    try:
        if changes_dir is None:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM {_docs(corpus_dir)}")
        else:
            con.execute(
                f"""CREATE VIEW documents AS
                SELECT * FROM {_docs(corpus_dir)}
                WHERE doc_id NOT IN (SELECT doc_id FROM {_docs(changes_dir)})
                UNION ALL SELECT * FROM {_docs(changes_dir)}"""
            )
        line = "concat_ws('|', id, subj, pred, obj)"
        n, h = con.execute(
            f"SELECT count(*), md5(coalesce(string_agg({line}, chr(10) "
            f"ORDER BY {line}), '')) FROM ({ORACLES['kg_edges']})"
        ).fetchone()
        return int(n), h
    finally:
        con.close()


# --- query answers over the materialized tables ---------------------------

_TEXT_LINE = re.compile(r"^(.*) \((.*)\)(?: \[(.*)\])?$")
_FOOTER = re.compile(r"^\(Limited to (\d+) results, total: (\d+)\)$")


def parse_text_result(text: str) -> tuple[set[str], int]:
    """(ids shown, total) of a ``commands.query`` text-format answer."""
    ids, total = set(), None
    for line in text.splitlines():
        if line == "No entities found" or not line:
            continue
        m = _FOOTER.match(line)
        if m:
            total = int(m.group(2))
            continue
        m = _TEXT_LINE.match(line)
        if m is None:
            raise ValueError(f"unparseable result line {line!r}")
        ids.add(m.group(2))
    return ids, len(ids) if total is None else total


class QueryOracle:
    """DuckDB over the parquet tables ``pipeline.materialize`` wrote."""

    def __init__(self, graph_dir: str):
        self.con = connect()
        for t in ("nodes", "edges"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{graph_dir}/{t}/*/*.parquet', hive_partitioning = true)"
            )

    def close(self) -> None:
        self.con.close()

    def rows(self, sql: str) -> list[tuple]:
        return sorted(self.con.execute(sql).fetchall())

    def who_calls(self, name: str) -> list[tuple]:
        return self.rows(
            "SELECT subj, string_split(subj, '::')[-1], obj, "
            "string_split(obj, '.')[-1] FROM edges "
            f"WHERE pred = 'calls' AND string_split(obj, '.')[-1] LIKE '{name}'"
        )

    def neighborhood(self, entity_id: str) -> list[tuple]:
        return self.rows(
            f"SELECT 'out', pred, obj FROM edges WHERE subj = '{entity_id}' "
            f"UNION ALL SELECT 'in', pred, subj FROM edges WHERE obj = '{entity_id}'"
        )

    def select_ids(self, entity_type: str, prefix: str) -> set[str]:
        return {
            r[0]
            for r in self.rows(
                f"SELECT id FROM nodes WHERE entity_type = '{entity_type}' "
                f"AND name ILIKE '{prefix}%'"
            )
        }

    def traversal_ids(
        self, source: str, preds: tuple[str, ...], target: str, prefix: str
    ) -> set[str]:
        """Sources with a path of 1..MAX_DEPTH `preds` edges to a target
        of type `target` whose name starts with `prefix`."""
        ps = ", ".join(f"'{p}'" for p in preds)
        return {
            r[0]
            for r in self.rows(
                f"""WITH RECURSIVE e AS (SELECT subj, obj FROM edges WHERE pred IN ({ps})),
                walk(root, dst, depth) AS (
                  SELECT n.id, e.obj, 1 FROM nodes n JOIN e ON e.subj = n.id
                  WHERE n.entity_type = '{source}'
                  UNION
                  SELECT w.root, e.obj, w.depth + 1 FROM walk w
                  JOIN e ON e.subj = w.dst WHERE w.depth < {MAX_DEPTH})
                SELECT DISTINCT w.root FROM walk w JOIN nodes t ON t.id = w.dst
                WHERE t.entity_type = '{target}' AND t.name ILIKE '{prefix}%'"""
            )
        }

    def depends(self, root_type: str, name: str, preds: tuple[str, ...]) -> list[tuple]:
        """traversal.transitive_depends from the `root_type` nodes named
        `name`: (root, dst, min depth)."""
        ps = ", ".join(f"'{p}'" for p in preds)
        return self.rows(
            f"""WITH RECURSIVE walk(root, dst, depth) AS (
              SELECT subj, obj, CAST(1 AS BIGINT) FROM edges
              WHERE pred IN ({ps}) AND subj IN (SELECT id FROM nodes
                WHERE entity_type = '{root_type}' AND name = '{name}')
              UNION
              SELECT w.root, e.obj, w.depth + 1 FROM walk w
              JOIN edges e ON e.subj = w.dst AND e.pred IN ({ps})
              WHERE w.depth < {MAX_DEPTH})
            SELECT root, dst, MIN(depth) FROM walk GROUP BY root, dst"""
        )

