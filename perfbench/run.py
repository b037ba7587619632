"""Seeded build / query / reindex benchmark for ummon_spark.

    python3 perfbench/run.py --workload hub --seed 1 --seconds 10 --trace 0

Run from the repository root. Every run generates its inputs from
``--seed`` (inputs.py holds the workload shapes; the program sees only
the generated parquet), starts one Spark session and drives the public
layer functions:

set-up  input generation (median of 3), session start, one cold
        ``corpus.load_spans`` -> ``pipeline.build_graph`` ->
        ``pipeline.materialize`` build that warms the JVM and writes the
        tables the queries read, and one untimed round of the 6 request
        kinds that warms their query plans;
build   the same build again, once before and once after the query loop;
        ``triples_per_s`` uses the median of the two;
query   one client in a closed loop for about ``--seconds`` seconds over
        the materialized tables (queries.py), serving whole rounds of the
        6 request kinds in turn.

With ``--trace 1`` the run then goes on through the reindex lifecycle and
the traced passes: ``checkpoint.run_pipeline_checkpointed(canonicalize=
True)``; ``incremental.incremental_update`` of the change batch (1%
modified + 1% new documents) against the checkpointed graph, then
``pipeline.materialize``; build, update and a prefix of the requests
again with each layer boundary forced (persist + count) inside recorded
spans; ``linking.canonical_mapping``; and a resume of the checkpointed
run after a simulated kill. The reindex ops run in traced runs only:
with them an untraced run would take about 110 s instead of about 60 s,
and one cold sample of each varies too much between runs to gate.

Outputs are checked outside the timed regions (checks.py): every graph
an op wrote against the DuckDB oracle over the same documents, the
resumed stages' content hashes against the uninterrupted run's, and the
first answers of each query kind against DuckDB over the materialized
parquet. ``attempted``/``failed`` count ops and requests; their ratio
is the error rate.

The last stdout line is one JSON object with the end-to-end metrics of
BENCHMARK.json (``--trace 0``) or its per-layer metrics (``--trace 1``);
layers.json says which end-to-end metric each per-layer one should
move. The line before it records the deployment settings and sample
counts. Spans are written to ``.perfbench_work/traces/`` at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import bench_env  # noqa: E402
import checks  # noqa: E402
import queries  # noqa: E402
from inputs import WORKLOADS, Shape, generate  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from tracing import EventLog, Tracer  # noqa: E402

try:
    from ummon_spark.checkpoint import run_pipeline_checkpointed
    from ummon_spark.corpus import load_spans
    from ummon_spark.incremental import incremental_update, prune
    from ummon_spark.operators.edges import build_edges, candidate_edges
    from ummon_spark.operators.linking import canonical_mapping
    from ummon_spark.operators.nodes import (
        TYPE_KINDS,
        build_node_candidates,
        finalize_nodes,
        synthesize_placeholders,
    )
    from ummon_spark.operators.parse import parse_mentions
    from ummon_spark.pipeline import Graph, build_graph, materialize
    from ummon_spark.query.executor import execute_select, execute_traversal
    from ummon_spark.query.parser import SelectQuery, parse_query
except ImportError as e:  # the engine is not next to the benchmark
    sys.exit(f"[perfbench] cannot run: {e} (run from the repository root)")

GEN_REPEATS = 3  # input generation is repeated this often, its median reported
CHECKS_PER_KIND = 2  # query answers checked per request kind and run
TRACED_REQUESTS = 8  # requests repeated with per-layer spans
REQUEST_POOL = 10_002  # the loop consumes whole rounds of this sequence
RESUMED_STAGES = ("nodes", "canonical_map", "canonical_edges")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median_gen(shape: Shape, seed: int, work: str):
    times, inputs = [], None
    for _ in range(GEN_REPEATS):
        shutil.rmtree(os.path.join(work, "inputs"), ignore_errors=True)
        t0 = time.perf_counter()
        inputs = generate(shape, seed, os.path.join(work, "inputs"))
        times.append(time.perf_counter() - t0)
    return inputs, statistics.median(times)


def dir_bytes_and_files(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under a directory tree."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files


def percentile_ms(values: list[float], q: int) -> float:
    """q-th percentile (statistics.quantiles, exclusive method) in ms."""
    return statistics.quantiles(values, n=100)[q - 1] * 1000.0


class Lifecycle:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.shape = WORKLOADS[workload]
        self.work = work
        self.failed: list[str] = []
        self.built: list[str] = []  # output dirs of the builds, all checked
        self.build_times: list[float] = []  # the warm builds, in s
        self.attempted = 0
        self.m: dict[str, float] = {}
        self.spark = None

    def metric(self, name: str, value: float) -> None:
        self.m[name] = float(value)

    def verdict(self, op: str, ok: bool) -> None:
        if not ok:
            self.failed.append(op)
            log(f"INCORRECT: {op}")

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        self.settings = bench_env.configure(self.work)
        self.tracer = Tracer(f"{self.workload}-{self.seed}")
        self.inputs, gen_s = median_gen(self.shape, self.seed, self.work)
        self.event_log = os.path.join(self.work, "events") if self.trace else None
        # DuckDB computes the oracle answers while the JVM starts, which
        # leaves most cores idle; no op starts before they are done
        with ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(self.oracle_digests)
            self.spark, start_s = bench_env.start_spark(self.work, "perfbench", self.event_log)
            self.truth = oracle.result()
        # warm-up: the first build of a fresh JVM pays class loading, code
        # generation and JIT (2-3x a warm build); its tables serve the queries
        self.graph_dir = self.build_once(0)
        self.open_graph()
        # the first request of each kind pays its query planning, code
        # generation and JIT (2-4x a warm one); these take it
        with self.tracer.span("op.warm_up"):
            for req in queries.make_requests(
                self.shape, self.seed, len(queries.ROTATION), queries.WARM_UP
            ):
                queries.run(req, self.nodes, self.edges)
        # BFS levels the warm-up persisted must not serve the loop
        self.spark.catalog.clearCache()
        setup_ops = self.tracer.total("op.build") + self.tracer.total("op.warm_up")
        self.metric("setup_s", gen_s + start_s + setup_ops)
        self.metric("session.start_s", start_s)
        log(f"settings {self.settings}")

    # -- the timed ops -----------------------------------------------------

    def build_once(self, i: int) -> str:
        out = os.path.join(self.work, f"graph{i}")
        with self.tracer.span("op.build"):
            g = build_graph(load_spans(self.spark, self.inputs.corpus_dir))
            materialize(g, out)
        g.unpersist()
        self.attempted += 1
        self.built.append(out)
        return out

    def build(self) -> None:
        self.build_once(len(self.built))
        self.build_times.append(self.tracer.spans[-1].duration)
        log(f"warm build s: {self.build_times[-1]:.2f}")

    def ckpt(self) -> None:
        self.ck_dir = os.path.join(self.work, "checkpoints")
        with self.tracer.span("op.ckpt"):
            self.cp = run_pipeline_checkpointed(
                self.spark, self.inputs.corpus_dir, self.ck_dir, "bench", canonicalize=True
            )
        self.attempted += 1
        self.metric("op.ckpt_s", self.tracer.spans[-1].duration)
        self.manifests = {s: self.cp.read_manifest(s) for s in self.cp.results}

    def old_graph(self):
        """The checkpointed graph, read back from its stage directories."""
        read = lambda stage: self.spark.read.parquet(os.path.join(self.ck_dir, stage))  # noqa: E731
        return Graph(nodes=read("nodes"), edges=read("edges"), mentions=read("mentions"))

    def update(self) -> None:
        self.updated = [os.path.join(self.work, "updated")]  # each one is checked
        with self.tracer.span("op.update"):
            changed = load_spans(self.spark, self.inputs.changes_dir)
            g = incremental_update(self.old_graph(), changed)
            materialize(g, self.updated[0])
        g.unpersist()
        self.attempted += 1
        self.metric("op.update_s", self.tracer.spans[-1].duration)

    def open_graph(self) -> None:
        self.nodes = self.spark.read.parquet(os.path.join(self.graph_dir, "nodes"))
        self.edges = self.spark.read.parquet(os.path.join(self.graph_dir, "edges"))

    def query(self) -> None:
        requests = queries.make_requests(self.shape, self.seed, REQUEST_POOL)
        rotation = len(queries.ROTATION)
        self.latency: dict[str, list[float]] = {queries.LOOKUP: [], queries.TRAVERSE: []}
        self.served: list[tuple] = []  # (request, latency s), in request order
        self.to_check: list[tuple] = []
        checked: dict[str, int] = {}
        with self.tracer.span("op.query"):
            t_start = t_round = time.perf_counter()
            for i, req in enumerate(requests):
                now = time.perf_counter()
                # a new round starts if it should end within half a round
                # of --seconds, judged by the last round's length
                if i and i % rotation == 0:
                    if now - t_start + (now - t_round) / 2 > self.seconds:
                        break
                    t_round = now
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    answer = queries.run(req, self.nodes, self.edges)
                except Exception:  # a failed request is counted, the loop goes on
                    log(traceback.format_exc())
                    self.failed.append(f"query {req}")
                    continue
                lat = time.perf_counter() - t0
                self.latency[req.cls].append(lat)
                self.served.append((req, lat))
                if checked.get(req.kind, 0) < CHECKS_PER_KIND:
                    checked[req.kind] = checked.get(req.kind, 0) + 1
                    self.to_check.append((req, answer))
            loop_s = time.perf_counter() - t_start
        jsc = self.spark.sparkContext._jsc.sc()
        self.metric("spark.persisted_rdds_after", jsc.getPersistentRDDs().size())
        storage = sum(i.memSize() for i in jsc.getRDDStorageInfo())
        self.metric("spark.storage_mem_mb_after", storage / 2**20)
        # the BFS levels the loop persisted must not weigh on what follows
        self.spark.catalog.clearCache()
        for cls, lats in self.latency.items():
            self.metric(f"{cls}_p50_ms", statistics.median(lats) * 1000.0)
            self.metric(f"query.{cls}_p90_ms", percentile_ms(lats, 90))
        self.metric("query.queries_per_s", len(self.served) / loop_s)
        self.n_requests = {cls: len(v) for cls, v in self.latency.items()}
        by_kind: dict[str, list[float]] = {}
        for req, lat in self.served:
            by_kind.setdefault(req.kind, []).append(lat)
        log("request p50 ms by kind: " + ", ".join(
            f"{k}={statistics.median(v) * 1000:.0f} (n={len(v)})" for k, v in by_kind.items()))

    # -- correctness, outside every timed region ---------------------------

    def check_graph(self, op: str, edges, docs: str) -> None:
        """An op's edge table against the oracle's for the same documents."""
        self.verdict(op, checks.spark_triple_digest(edges) == self.truth[docs])

    def check(self) -> None:
        for out in self.built:
            edges = self.spark.read.parquet(os.path.join(out, "edges"))
            self.check_graph(f"build {out}", edges, "corpus")
        build_s = statistics.median(self.build_times)
        self.metric("triples_per_s", self.truth["corpus"][0] / build_s)

        oracle = checks.QueryOracle(self.graph_dir)
        try:
            for req, answer in self.to_check:
                self.verdict(f"query {req}", queries.check(req, answer, oracle))
        finally:
            oracle.close()

    def check_reindex(self) -> None:
        self.check_graph("ckpt", self.old_graph().edges, "corpus")
        for out in self.updated:
            edges = self.spark.read.parquet(os.path.join(out, "edges"))
            self.check_graph(f"update {out}", edges, "updated")

    def oracle_digests(self) -> dict[str, tuple[int, str]]:
        """The oracle's edge digests of the corpus and, for traced runs,
        of the corpus with the change batch applied."""
        corpus, changes = self.inputs.corpus_dir, self.inputs.changes_dir
        truth = {"corpus": checks.oracle_triple_digest(corpus)}
        if self.trace:
            truth["updated"] = checks.oracle_triple_digest(corpus, changes)
        return truth

    # -- traced passes (--trace 1) -----------------------------------------

    def traced_build(self) -> None:
        """The build again, with every layer boundary forced inside a span."""
        t = self.tracer
        corpus = self.inputs.corpus_dir
        out = os.path.join(self.work, "graph_traced")
        with t.span("build"):
            with t.span("corpus"):
                spans = load_spans(self.spark, corpus).persist()
                n_docs = spans.count()
            with t.span("parse"):
                mentions = parse_mentions(spans).persist()
                n_mentions = mentions.count()
            with t.span("nodes"):
                slim = build_node_candidates(mentions, spans).persist()
                n_slim = slim.count()
            with t.span("edges"):
                edges = build_edges(mentions, slim).persist()
                n_edges = edges.count()
            with t.span("nodes"):
                placeholders = synthesize_placeholders(edges, slim).persist()
                n_placeholders = placeholders.count()
            with t.span("pipeline.materialize"):
                g = Graph(
                    nodes=finalize_nodes(slim).unionByName(placeholders),
                    edges=edges,
                    mentions=mentions,
                    cached=(slim, spans, placeholders),
                )
                materialize(g, out)
        self.attempted += 1
        self.built.append(out)
        n_spans = spans.select(F.sum(F.size("spans"))).first()[0]
        node_kinds = ("Function", "Media", "Variable", "Constant", *TYPE_KINDS)
        n_node_cands = n_docs + mentions.filter(F.col("mention_type").isin(*node_kinds)).count()
        n_edge_cands = candidate_edges(mentions).count()
        g.unpersist()
        out_bytes, out_files = dir_bytes_and_files(out)
        layers = ("corpus", "parse", "nodes", "edges", "pipeline.materialize")
        for name in layers:
            key = name if name.startswith("pipeline.") else f"{name}.self"
            self.metric(f"{key}_s", t.self_time(name))
        self.metric("corpus.spans_out", n_spans)
        self.metric("parse.mentions_per_span", n_mentions / n_spans)
        self.metric("nodes.kept_per_candidate", n_slim / n_node_cands)
        self.metric("nodes.placeholders", n_placeholders)
        self.metric("edges.kept_per_candidate", n_edges / n_edge_cands)
        self.metric("pipeline.bytes_per_triple", out_bytes / n_edges)
        self.metric("pipeline.files_written", out_files)
        traced_s = t.total("build")
        self.metric("trace.build_s", traced_s)
        self.metric("trace.build_self_sum_s", sum(t.self_time(n) for n in layers))
        self.metric("trace.build_overhead_s", traced_s - self.build_times[-1])

    def traced_update(self) -> None:
        t = self.tracer
        changed = load_spans(self.spark, self.inputs.changes_dir)
        old = self.old_graph()
        # prune runs fused inside incremental_update's plan; forcing it on
        # its own is the only way to time it from outside the program
        with t.span("incremental.prune"):
            modified = changed.select("doc_id").distinct()
            kept_nodes, kept_edges = prune(old.nodes, old.edges, modified)
            kept_nodes.count()
            n_kept_edges = kept_edges.count()
        out = os.path.join(self.work, "updated_traced")
        with t.span("update"):
            with t.span("incremental.rebuild"):
                g = incremental_update(old, changed)
                g.edges.count()
                g.nodes.count()
            with t.span("incremental.materialize"):
                materialize(g, out)
        g.unpersist()
        self.attempted += 1
        self.updated.append(out)
        out_bytes = dir_bytes_and_files(out)[0]
        n_changed = self.inputs.n_modified + self.inputs.n_new
        for name in ("prune", "rebuild", "materialize"):
            self.metric(f"incremental.{name}_s", t.total(f"incremental.{name}"))
        self.metric("incremental.bytes_written_per_changed_doc", out_bytes / n_changed)
        self.metric("incremental.kept_edges_share", n_kept_edges / old.edges.count())
        traced_s = t.total("update")
        self.metric("trace.update_s", traced_s)
        self.metric(
            "trace.update_self_sum_s",
            t.total("incremental.rebuild") + t.total("incremental.materialize"),
        )
        self.metric("trace.update_overhead_s", traced_s - self.m["op.update_s"])

    def traced_checkpoint(self) -> None:
        for stage, man in self.manifests.items():
            self.metric(f"checkpoint.{stage}_s", man["elapsed_sec"])
        self.metric("checkpoint.bytes_committed", dir_bytes_and_files(self.ck_dir)[0])
        with self.tracer.span("linking"):
            canon = canonical_mapping(self.old_graph().nodes)
            n_map = canon.mapping.count()
        canon.mapping.unpersist()
        r = self.cp.results
        self.metric("linking.self_s", self.tracer.total("linking"))
        self.metric("linking.mapping_rows", n_map)
        self.metric(
            "linking.edges_merged_per_edge",
            1.0 - r["canonical_edges"].row_count / r["edges"].row_count,
        )
        self.metric("cc.rounds", canon.rounds)

    def traced_resume(self) -> None:
        """Resume the checkpointed run after a simulated kill: the stages
        after ``edges`` lose their manifests, the on-disk state a kill
        leaves. Clearing Spark's cache first keeps frames the
        uninterrupted run persisted from serving the resume."""

        for stage in RESUMED_STAGES:
            os.remove(os.path.join(self.ck_dir, stage, "_MANIFEST.json"))
        self.spark.catalog.clearCache()
        with self.tracer.span("op.resume"):
            cp = run_pipeline_checkpointed(
                self.spark, self.inputs.corpus_dir, self.ck_dir, "bench", canonicalize=True
            )
        self.attempted += 1
        full = self.cp.results
        self.verdict(
            "resume",
            set(cp.results) == set(full)
            and all(
                (r.content_hash, r.row_count, r.skipped)
                == (full[s].content_hash, full[s].row_count, s not in RESUMED_STAGES)
                for s, r in cp.results.items()
            ),
        )
        self.metric("op.resume_s", self.tracer.total("op.resume"))
        skipped = [r.skipped for r in cp.results.values()]
        self.metric("checkpoint.skipped_share", sum(skipped) / len(skipped))

    def traced_queries(self) -> None:
        sc = self.spark.sparkContext
        t = self.tracer
        jsc = sc._jsc.sc()

        seen, repeats = set(), 0
        for req, _ in self.served:
            repeats += req in seen
            seen.add(req)
        self.metric("query.repeat_share", repeats / max(len(self.served), 1))

        n = min(TRACED_REQUESTS, len(self.served))
        overhead, levels, jobs, returned = [], [], [], {}
        for i, (req, untraced_s) in enumerate(self.served[:n]):
            group = f"perfbench-q{i}"
            sc.setJobGroup(group, req.kind)
            persisted0 = jsc.getPersistentRDDs().size()
            with t.span("query"):
                df = None
                if req.kind in queries.UQL:
                    with t.span("query.parse"):
                        ast = parse_query(req.uql())
                    with t.span("query.execute"):
                        if isinstance(ast, SelectQuery):
                            df = execute_select(self.nodes, ast, self.edges)
                        else:
                            df = execute_traversal(self.nodes, self.edges, ast)
                    with t.span("query.collect"):
                        n_rows = df.count()
                        df.limit(20).collect()
                else:
                    with t.span("query.execute"):
                        df = queries.execute(req, self.nodes, self.edges)
                    with t.span("query.collect"):
                        n_rows = len(df.collect())
            returned[group] = n_rows
            overhead.append(t.spans[-1].duration - untraced_s)
            if req.cls == queries.TRAVERSE:
                levels.append(jsc.getPersistentRDDs().size() - persisted0)
                jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        sc.setJobGroup("", "")
        for name in ("parse", "execute", "collect"):
            per_req = t.total(f"query.{name}") / max(n, 1)
            self.metric(f"query.{name}_ms", per_req * 1000.0)
        self.metric("traversal.levels", statistics.mean(levels) if levels else 0.0)
        self.metric(
            "traversal.jobs_per_request", statistics.mean(jobs) if jobs else 0.0)
        self.metric("trace.query_overhead_ms", statistics.median(overhead) * 1000.0)
        self.query_groups = returned

    def spark_counters(self) -> None:
        """After spark.stop(): per-op counters from the event log."""
        ev = EventLog.read(self.event_log)
        for op in ("build", "ckpt", "update", "query"):
            for k, v in ev.per_span(self.tracer.spans_named(f"op.{op}")).items():
                self.metric(f"spark.{op}.{k}", v)
        read = sum(ev.records_read(g) for g in self.query_groups)
        rows = sum(self.query_groups.values())
        self.metric("query.rows_read_per_row_returned", read / max(rows, 1))

    # -- the run -----------------------------------------------------------

    def run(self) -> dict:
        try:
            # builds on both sides of the loop, so that a host slowdown
            # during part of the run reaches the build time less often
            phases = [self.setup, self.build, self.query, self.build, self.check]
            if self.trace:
                # one untraced build, then the traced one with the same JIT
                # state; the overhead is their difference
                phases = [self.setup, self.build, self.traced_build, self.query, self.check]
                phases += [self.traced_queries, self.ckpt, self.update, self.traced_update,
                           self.check_reindex, self.traced_checkpoint, self.traced_resume]
            for phase in phases:
                t0 = time.perf_counter()
                phase()
                log(f"{phase.__name__}: {time.perf_counter() - t0:.2f}s")
            rss = bench_env.vm_hwm_mb() + bench_env.vm_hwm_mb(bench_env.jvm_pid(self.spark))
            self.metric("peak_rss_mb", rss)
        finally:
            if self.spark is not None:
                bench_env.stop_spark(self.spark)
        if self.trace:
            self.spark_counters()
            traces = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            self.tracer.dump(os.path.join(traces, f"{self.workload}-{self.seed}.jsonl"))
        return self.report()

    def report(self) -> dict:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        want = {m["name"]: m["unit"] for m in spec["per_layer" if self.trace else "end_to_end"]}
        missing = sorted(set(want) - set(self.m))
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        # the deployment settings and sample counts travel with every result
        context = {
            "workload": self.workload,
            "seed": self.seed,
            "triples": self.truth["corpus"][0],
            "requests": self.n_requests,
            "failed": self.failed,
            "settings": self.settings,
        }
        print(json.dumps({"context": context}))
        return {
            "correct": not self.failed,
            "attempted": self.attempted,
            "failed": len(self.failed),
            "metrics": {k: {"value": self.m[k], "unit": unit} for k, unit in want.items()},
        }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = Lifecycle(args.workload, args.seed, args.seconds, bool(args.trace), work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
