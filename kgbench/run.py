#!/usr/bin/env python3
"""Layered KG benchmark: build, query and analytics on one seeded corpus.

Run from the repository root:

    python3 kgbench/run.py --workload build-distinct --seed 1 \
        --seconds 6 --trace 0

One run is one process and one JVM at ``local[nproc]``: a batch build,
then reads of what it wrote.

1. set-up, timed once (``setup_s``): launch the JVM and a Spark
   session, generate the seeded ``repos`` corpus, write it as parquet,
   count it back through Spark, and start the Python workers with one
   small ``mapInArrow`` that loads the kernel.
2. ``plans.pipeline.build_kg`` over the corpus (``docs_per_s``).  Like
   a fresh ``jobs/build_kg.py`` job it pays JIT compilation of its
   plans.  Then every document and a sample of triples are checked
   (``checks``).
3. a closed-loop client (one query in flight) issues rounds of the
   SPARQL mix of ``queries`` over the written ``triples`` table: one
   untimed round that compiles the plans, then timed rounds until
   ``--seconds`` have passed and at least ``MIN_ROUNDS`` are done
   (``query_p50_s``).  Each answer is checked against a DuckDB replay.

``peak_rss_mb`` sums the peak RSS of every process in the tree (this
process, the JVM, the Python workers) at the end of step 3.  With
``--trace 1`` the same
steps run under spans (``spans``), then the remaining layers are
probed: one pass of the analytics set ``GRAPH_SET`` over the entity
edges of the built table, the kernel tier at ``local[nproc]`` against
``local[1]`` (``kg.scaling_eff``), the graph-global stages on their
own, and the kernel, Arrow boundary and SPARQL parser in-process.  It
prints the per-layer metrics instead.  The last stdout line is the
JSON result; the process exits 1 if any output was wrong.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".kgbench_work")

WORKLOADS = {
    "build-distinct": {"rows": 4000, "mode": "distinct"},
    "build-dup": {"rows": 4000, "mode": "dup"},
}
# the size keeps an untraced run near a minute; BASELINE.md gives the
# kernel's share of the build at this size and why it is not larger
N_BUCKETS = 4
TRIPLE_SAMPLE = 40
MIN_ROUNDS = 2
KERNEL_SAMPLE = 500
KERNEL_PASSES = 5
K_HOP_SEEDS = 8
# the fixed analytics set: (name, rounds or None when run to convergence,
# call(graph module, edges, seeds))
GRAPH_SET = (
    ("pagerank", 2, lambda G, e, s: G.pagerank(e, iters=2)),
    ("k_core", None, lambda G, e, s: G.k_core_decomposition(e)),
    ("label_propagation", 2, lambda G, e, s: G.label_propagation(e, iters=2)),
    ("hits", 2, lambda G, e, s: G.hits(e, iters=2)),
    ("k_hop", 2, lambda G, e, s: G.k_hop(e, s, k=2)),
)
MUST_FAIL_KINDS = ("JSONDecodeError", "InvalidContextEntry",
                   "LoadingDocumentFailed")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Run:
    def __init__(self, workload: str, seed: int, seconds: float,
                 traced: bool):
        from spans import Tracer

        self.cfg = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.cores = nproc()
        self.rng = random.Random(seed)
        self.tracer = Tracer(f"{workload}-s{seed}", traced)
        self.spark = None
        self.input = os.path.join(WORK, "repos.parquet")
        self.out = os.path.join(WORK, "kg")
        self.failures: list[str] = []
        self.attempted = 0
        self.e2e: dict[str, float] = {}
        self.notes: dict[str, str] = {}
        self.layer: dict[str, float] = {}

    def session(self, cores: int) -> None:
        import sparkenv

        if self.spark is not None:
            self.spark.stop()
        self.spark = sparkenv.start(cores, WORK, event_log=self.traced)
        self.tracer.attach(self.spark)

    # -- end-to-end steps -------------------------------------------------
    def setup(self) -> None:
        """One set-up, as a batch job starts: launch Spark, generate and
        write the corpus, and start the Python workers."""
        import gen

        with self.tracer.span("setup") as sp:
            self.session(self.cores)
            self.cols = gen.generate(self.seed, self.cfg["rows"],
                                     self.cfg["mode"])
            gen.write_parquet(self.cols, self.input)
            n = self.spark.read.parquet(self.input).count()
            self.warm_workers()
        if n != self.cfg["rows"]:
            raise RuntimeError(f"wrote {self.cfg['rows']} input rows, "
                               f"read back {n}")
        self.e2e["setup_s"] = time.perf_counter() - sp.start
        self.notes["setup_s"] = ("JVM and SparkSession start, corpus "
                                 "generation and write, worker warm-up")

    def warm_workers(self) -> None:
        """Start one Python worker per core and load the kernel in it, so
        the build does not pay worker start."""
        from cbor_ld_spark.functions.udfs import (
            KERNEL_RESULT_SCHEMA,
            kg_process_batches,
        )

        docs = [c for c, ok in zip(self.cols["content"], self.cols["ok"])
                if ok][:2 * self.cores]
        df = self.spark.createDataFrame(
            [(str(i), c) for i, c in enumerate(docs)],
            "content_sha string, content string").repartition(self.cores)
        noop(df.mapInArrow(kg_process_batches(), KERNEL_RESULT_SCHEMA))

    def build(self) -> None:
        import checks
        from cbor_ld_spark.plans.pipeline import build_kg
        from cbor_ld_spark.sources import load_repos
        from queries import duckdb_triples

        rows = self.cfg["rows"]
        with self.tracer.span("pipeline.build_kg") as sp:
            self.summary = build_kg(self.spark,
                                    load_repos(self.spark, self.input),
                                    self.out, run_id="bench",
                                    n_buckets=N_BUCKETS)
        self.build_s = time.perf_counter() - sp.start
        self.e2e["docs_per_s"] = rows / self.build_s
        self.notes["docs_per_s"] = (f"{rows} input rows, "
                                    f"{self.summary['docs_total']} docs, "
                                    f"{self.summary['triples_total']} "
                                    f"triples in {self.build_s:.2f} s")
        self.con = duckdb_triples(os.path.join(self.out, "triples"))
        self.attempted += rows
        self.failures += checks.check_docs(self.con, self.out, self.cols)
        sample = checks.sample_ok_rows(self.cols, self.rng, TRIPLE_SAMPLE)
        self.failures += checks.check_triples(self.con, self.out, self.cols,
                                              sample)

    def query_mix(self) -> None:
        import queries

        mix = queries.QueryMix(self.con, self.rng)
        triples = self.spark.read.parquet(os.path.join(self.out, "triples"))
        self.query_texts: set[str] = set()
        # the first round compiles each template's plans; it is checked
        # but not timed
        with self.tracer.span("sparql.warmup"):
            self.query_round(mix, triples, traced=False)
        latency: list[float] = []
        t_end = time.perf_counter() + self.seconds
        rounds = 0
        while rounds < MIN_ROUNDS or time.perf_counter() < t_end:
            rounds += 1
            latency += self.query_round(mix, triples, traced=True)
        self.e2e["query_p50_s"] = statistics.median(latency)
        self.notes["query_p50_s"] = (
            f"median of {len(latency)} queries, {rounds} rounds of "
            f"{len(queries.TEMPLATES)} templates after a warm-up round")

    def query_round(self, mix, triples, traced: bool) -> list[float]:
        """Every template once, in seeded order; returns latencies."""
        import queries
        from cbor_ld_spark.operators.sparql import run_sparql

        latency = []
        for template in mix.schedule():
            text, sql = mix.instance(template)
            self.query_texts.add(text)
            self.attempted += 1
            t = time.perf_counter()
            with (self.tracer.span(f"sparql.{template}") if traced
                  else contextlib.nullcontext()):
                try:
                    rows = run_sparql(triples, text).collect()
                except Exception as e:  # noqa: BLE001 - a raising query
                    # is a counted failure, not a crash
                    rows = None
                    self.failures.append(f"{template} raised {e!r}"[:300])
            latency.append(time.perf_counter() - t)
            if rows is not None and not queries.matches(rows,
                                                        mix.expected(sql)):
                self.failures.append(f"{template} answer differs from the "
                                     f"DuckDB replay: {text}")
        return latency

    def graph_pass(self) -> None:
        from cbor_ld_spark.operators import graph as G

        creds = [r[0] for r in self.con.execute(
            "SELECT DISTINCT subj FROM triples WHERE obj_is_iri "
            "AND subj NOT LIKE '\\_:%' ESCAPE '\\' ORDER BY 1").fetchall()]
        seeds = [(c,) for c in self.rng.sample(creds, min(K_HOP_SEEDS,
                                                          len(creds)))]
        triples = self.spark.read.parquet(os.path.join(self.out, "triples"))
        with self.tracer.span("graph.pass"):
            edges = G.entity_edges(triples).localCheckpoint()
            seed_df = self.spark.createDataFrame(seeds, "node string")
            for name, _, call in GRAPH_SET:
                self.attempted += 1
                with self.tracer.span(f"graph.{name}"):
                    n = call(G, edges, seed_df).count()
                if n == 0:
                    self.failures.append(f"graph {name}: empty result")

    # -- traced-only layer probes ----------------------------------------
    def probe_spark_layers(self) -> None:
        from pyspark.sql import functions as F

        from cbor_ld_spark.functions.udfs import jsonld_sniff
        from cbor_ld_spark.operators.canonicalize import canonical_triples
        from cbor_ld_spark.operators.linking import link_entities
        from cbor_ld_spark.plans.pipeline import TRIPLES_SCHEMA
        from cbor_ld_spark.sources import load_repos

        sp, span = self.spark, self.tracer.span
        with span("sources.scan"):
            noop(load_repos(sp, self.input))
        with span("udfs.sniff"):
            passed = load_repos(sp, self.input).filter(
                jsonld_sniff(F.col("lang"))).count()
        self.layer["udfs.sniff_pass_ratio"] = passed / self.cfg["rows"]
        triples = sp.read.schema(TRIPLES_SCHEMA).parquet(
            os.path.join(self.out, "triples"))
        with span("canonicalize"):
            noop(canonical_triples(triples))
        with span("linking.input"):
            canon = canonical_triples(triples).localCheckpoint()
        with span("linking"):
            noop(link_entities(canon))
        t_n = self.kg_process("kg.process")
        self.session(1)
        self.kg_process("kg.warm@1")      # Python workers of the new session
        t_1 = self.kg_process("kg.process@1")
        self.layer["kg.scaling_eff"] = t_1 / (self.cores * t_n)

    def kg_process(self, label: str) -> float:
        from cbor_ld_spark.operators.kg import process_corpus, triples_table
        from cbor_ld_spark.sources import load_repos

        with self.tracer.span(label) as sp:
            noop(triples_table(process_corpus(load_repos(self.spark,
                                                         self.input))))
        return time.perf_counter() - sp.start

    def probe_inprocess_layers(self) -> None:
        import layers

        m = self.layer
        docs = list(dict.fromkeys(
            c for c, ok in zip(self.cols["content"], self.cols["ok"])
            if ok is not None))
        sample = self.rng.sample(docs, min(KERNEL_SAMPLE, len(docs)))
        phases, errors, batch_us, boundary_us = layers.kernel_and_batch(
            sample, KERNEL_PASSES)
        for p, us in phases.items():
            m[f"kernel.{p}_us"] = us
        m["kernel.docs"] = len(sample)
        for k in MUST_FAIL_KINDS:
            m[f"kernel.errors.{k}"] = errors.pop(k, 0)
        m["kernel.errors.other"] = sum(errors.values())
        m["udfs.batch_us"] = batch_us
        m["udfs.boundary_us"] = boundary_us
        m["sparql.parse_us"] = layers.sparql_parse_us(
            sorted(self.query_texts), reps=20)
        candidates = sum(1 for ok in self.cols["ok"] if ok is not None)
        m["kg.distinct_ratio"] = len(docs) / candidates
        (kg,) = self.tracer.find("kg.process")
        m["kg.kernel_share"] = (len(docs) * batch_us * 1e-6
                                / (kg.seconds * self.cores))

    def layer_metrics(self) -> None:
        import queries
        from spans import EventLog

        tr, m = self.tracer, self.layer
        log = EventLog(os.path.join(WORK, "eventlog"))

        def one(name):
            (s,) = tr.find(name)
            return s

        def groups(span):
            return [s.group for s in tr.subtree(span)]

        kg = one("kg.process")
        m["kg.process_s"] = kg.seconds
        m.update({f"kg.{k}": v for k, v in tr.totals(kg).items()})
        m["kg.shuffle_bytes"] = log.shuffle_bytes(groups(kg))
        times = log.task_times(groups(kg), "MapInArrow")
        m["partitioning.kernel_tasks"] = len(times)
        m["partitioning.task_skew"] = (
            max(times) / max(1.0, statistics.median(times)) if times else 0.0)

        build = one("pipeline.build_kg")
        m.update({f"pipeline.{k}": v for k, v in tr.totals(build).items()})
        m["pipeline.shuffle_bytes"] = log.shuffle_bytes(groups(build))
        stage_ms = dict(self.con.execute(
            "SELECT stage, max(wall_ms) FROM read_parquet("
            f"'{self.out}/lineage/*.parquet') GROUP BY stage").fetchall())
        for stage in ("kernel", "canonicalize", "link", "materialize"):
            m[f"pipeline.{stage}_ms"] = float(stage_ms.get(stage, 0))
        m["pipeline.other_ms"] = (self.build_s * 1000
                                  - sum(float(v) for v in stage_ms.values()))
        for table in ("docs", "triples", "edges", "nodes", "metrics",
                      "lineage"):
            files = [os.path.join(d, f)
                     for d, _, fs in os.walk(os.path.join(self.out, table))
                     for f in fs if f.endswith(".parquet")]
            m[f"pipeline.output_files.{table}"] = len(files)
            m[f"pipeline.output_bytes.{table}"] = sum(
                os.path.getsize(f) for f in files)

        canon = one("canonicalize")
        m["canonicalize.s"] = canon.seconds
        m["canonicalize.jobs"] = tr.totals(canon)["jobs"]
        m["canonicalize.shuffle_bytes"] = log.shuffle_bytes(groups(canon))
        link = one("linking")
        m["linking.s"] = link.seconds
        m["linking.jobs"] = tr.totals(link)["jobs"]
        m["sources.scan_s"] = one("sources.scan").seconds

        for t in queries.TEMPLATES:
            spans = tr.find(f"sparql.{t}")
            m[f"sparql.{t}_s"] = statistics.median(s.seconds for s in spans)
            for k in ("jobs", "stages", "tasks"):
                m[f"sparql.{t}_{k}"] = statistics.median(
                    tr.totals(s)[k] for s in spans)
        m["graph.pass_s"] = one("graph.pass").seconds
        for name, rounds, _ in GRAPH_SET:
            s = one(f"graph.{name}")
            m[f"graph.{name}_s"] = s.seconds
            m[f"graph.{name}_jobs"] = tr.totals(s)["jobs"]
            if rounds is None:
                # an algorithm run to convergence counts its changed
                # nodes once per round; the last count is the benchmark's
                rounds = log.actions(s.group, "count") - 1
            m[f"graph.{name}_s_per_round"] = s.seconds / rounds

    # -- the run ----------------------------------------------------------
    def execute(self) -> None:
        import sparkenv

        try:
            self.setup()
            self.build()
            self.query_mix()
            self.e2e["peak_rss_mb"] = sparkenv.tree_peak_rss_mb()
            self.notes["peak_rss_mb"] = "sum of per-process peaks"
            if self.traced:
                self.graph_pass()
                self.probe_spark_layers()
        finally:
            sparkenv.shutdown(self.spark)
            self.spark = None
        if self.traced:
            self.probe_inprocess_layers()
            self.layer_metrics()
            self.tracer.write(os.path.join(WORK, "spans.jsonl"))


def declared_units() -> dict[str, dict[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {kind: {m["name"]: m["unit"] for m in bench[kind]}
            for kind in ("end_to_end", "per_layer")}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the closed-loop query phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "cbor_ld_spark")):
        print(f"kgbench: no cbor_ld_spark package under {ROOT}; run from a "
              "full checkout", file=sys.stderr)
        return 2
    units = declared_units()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    import sparkenv

    sparkenv.prepare_env(WORK)
    sys.path.insert(0, ROOT)

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    run.execute()

    label = "traced " if args.trace else ""
    for name, value in run.e2e.items():
        print(f"{label}{name} = {value:.6g} {units['end_to_end'][name]}"
              f"  ({run.notes[name]})")
    failed = len(run.failures)
    print(f"{label}failed_ratio = {failed / run.attempted:.6g} ratio  "
          f"({failed} of {run.attempted} documents, queries and analytics)")
    for f in run.failures[:50]:
        print(f"FAIL {f}")

    kind = "per_layer" if args.trace else "end_to_end"
    values = run.layer if args.trace else run.e2e
    if set(values) != set(units[kind]):
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json {kind}: "
            f"missing {sorted(set(units[kind]) - set(values))}, "
            f"extra {sorted(set(values) - set(units[kind]))}")
    if args.trace:
        for name in sorted(values):
            print(f"{name} = {values[name]:.6g} {units[kind][name]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[kind][k]}
                    for k, v in values.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
