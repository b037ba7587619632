"""Per-query measurement harness for the optimization rounds.

bench.py is FROZEN (the driver replays the round-start copy), so every
extra measurement lives here: noop-sink isolation per query (guide
§1.4 — times the computation, not the sink), job labels (§1.5), and
`.explain("formatted")` capture to plans/<tag>/<query>_<suffix>.txt so
plan claims in OPTIMIZATION_r*.md are checkable offline.

Usage:
  python bench_extra.py [--plans-tag r06 --suffix before] [query ...]
  python bench_extra.py --repeat 3 q_pagerank q_triangles

Builds the graph exactly like bench.py (same env vars, same
replication, same materialized layout), then times each named query
with a noop write. Prints one JSON line per run plus a summary.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICATE = int(os.environ.get("SPARK_GRAFT_REPLICATE", "20"))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def explain_str(df) -> str:
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def main() -> None:
    args = sys.argv[1:]

    def opt(name, default=None):
        if name in args:
            i = args.index(name)
            v = args[i + 1]
            del args[i : i + 2]
            return v
        return default

    plans_tag = opt("--plans-tag")
    suffix = opt("--suffix", "before")
    repeat = int(opt("--repeat", "1"))
    use_noop = "--noop" in args
    if use_noop:
        args.remove("--noop")
    only = set(args)

    from pyspark.sql import functions as F

    from ummon_spark.corpus import load_documents, spanify
    from ummon_spark.operators.graphstats import pagerank, triangle_counts
    from ummon_spark.operators.traversal import (
        degree,
        entity_neighborhood,
        transitive_depends,
        who_calls,
    )
    from ummon_spark.pipeline import build_graph, materialize, materialize_bucketed
    from ummon_spark.session import get_spark

    spark = get_spark("ummon_bench_extra")
    cores = spark.sparkContext.defaultParallelism

    keep_dir = opt("--keep-dir")
    ram = "/dev/shm" if os.access("/dev/shm", os.W_OK) else None
    reuse = bool(keep_dir) and os.path.isdir(f"{keep_dir}/nodes")
    out_dir = keep_dir or tempfile.mkdtemp(prefix="ummon_bx_", dir=ram)

    if not reuse:
        docs = load_documents(spark, SF_DIR).repartition(cores * 4)
        spans = spanify(docs)
        if REPLICATE > 1:
            reps = spark.range(REPLICATE).select(
                F.col("id").cast("string").alias("_rep")
            )
            spans = spans.crossJoin(F.broadcast(reps)).select(
                F.concat("doc_id", F.lit("#"), "_rep").alias("doc_id"), "spans"
            )
        spans.count()
    timings: dict[str, list[float]] = {}
    g = None
    try:
        sc = spark.sparkContext
        if not reuse:
            sc.setJobDescription("build: graph + materialize")
            t0 = time.perf_counter()
            g = build_graph(spans, persist=True)
            materialize(g, out_dir)
            timings["pipeline_build_and_write"] = [
                round(time.perf_counter() - t0, 3)
            ]

        nodes = spark.read.parquet(f"{out_dir}/nodes")
        edges = spark.read.parquet(f"{out_dir}/edges")

        queries = {
            "q_who_calls": lambda: who_calls(edges),
            "q_transitive_depends": lambda: transitive_depends(nodes, edges),
            "q_neighborhood": lambda: entity_neighborhood(edges, "media::img_the"),
            "q_degree": lambda: degree(edges),
            "q_triangles": lambda: triangle_counts(edges),
            "q_pagerank": lambda: pagerank(nodes, edges),
        }
        if plans_tag:
            os.makedirs(f"{REPO}/plans/{plans_tag}", exist_ok=True)
        for name, fn in queries.items():
            if only and name not in only:
                continue
            # time FIRST (cold), capture the plan after: constructing
            # some queries (BFS) executes jobs whose persisted levels
            # the CacheManager then serves to every identical later
            # plan — a pre-timing fn() call would warm the timed run.
            # Sample 1 is the cold (bench.py-comparable) number; later
            # repeats measure the warm path.
            for _ in range(repeat):
                sc.setJobDescription(name)
                t0 = time.perf_counter()
                # default .count() mirrors bench.py (the graded
                # methodology); --noop computes every column (§1.4)
                noop(fn()) if use_noop else fn().count()
                timings.setdefault(name, []).append(
                    round(time.perf_counter() - t0, 3)
                )
            if plans_tag:
                with open(
                    f"{REPO}/plans/{plans_tag}/{name}_{suffix}.txt", "w"
                ) as f:
                    f.write(explain_str(fn()))

        want_bucketed = (
            not only
            or "bucketed_write" in only
            or "q_transitive_depends_bucketed" in only
        )
        if want_bucketed and g is None:
            want_bucketed = False  # bucketed write needs the built graph
        if want_bucketed:
            sc.setJobDescription("bucketed_write")
            t0 = time.perf_counter()
            materialize_bucketed(
                g, "ummon_bx_bucketed", f"{out_dir}/bucketed", n_buckets=cores
            )
            timings["bucketed_write"] = [round(time.perf_counter() - t0, 3)]
            bnodes = spark.table("ummon_bx_bucketed.nodes")
            bedges = spark.table("ummon_bx_bucketed.edges")
            # time first, capture the plan after (same reason as above:
            # building the BFS query runs jobs whose persisted levels
            # would warm sample 1)
            for _ in range(repeat):
                sc.setJobDescription("q_transitive_depends_bucketed")
                t0 = time.perf_counter()
                q = transitive_depends(bnodes, bedges)
                noop(q) if use_noop else q.count()
                timings.setdefault("q_transitive_depends_bucketed", []).append(
                    round(time.perf_counter() - t0, 3)
                )
            if plans_tag:
                with open(
                    f"{REPO}/plans/{plans_tag}/q_transitive_depends_bucketed_{suffix}.txt",
                    "w",
                ) as f:
                    f.write(explain_str(transitive_depends(bnodes, bedges)))
        if g is not None:
            g.unpersist()
        print(
            json.dumps(
                {
                    "sf": SF_DIR,
                    "replicate": REPLICATE,
                    "cores": cores,
                    "timings": timings,
                    "min": {k: min(v) for k, v in timings.items()},
                }
            )
        )
    finally:
        if not keep_dir:
            shutil.rmtree(out_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
