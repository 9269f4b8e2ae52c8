"""Host-true benchmark of the KG engine through its public API.

Usage, from the repository root:

    python3 perfbench/run.py --workload serve_fresh --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each was chosen):

- ``serve_fresh``: a seeded web_pages corpus is indexed with
  ``run_index`` in set-up, then a closed loop of ``answer_query`` calls
  asks distinct, never-seen questions; every cache lookup misses.
- ``graph_analytics``: a knowledge graph is merged from seeded mentions
  with the engine's graph-build operators in set-up, then passes of
  components, pagerank, betweenness, label propagation -> modularity
  refinement and k-means run over it.

The last line of stdout is one JSON object ``{"correct", "attempted",
"failed", "metrics"}`` with the end-to-end metrics (``--trace 0``) or the
per-layer metrics folded from Spark's event log and the benchmark's own
spans (``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent

WORKLOADS = ("serve_fresh", "graph_analytics")

#: corpus: ~4 KB Common-Crawl-like pages from the engine's own generator
N_DOCS = 100
SENT_RANGE = (24, 72)
#: explicit driver heap: the engine's 16g default cannot start on a
#: 15 GB host. Every run fills a 1 GB heap, so the JVM's peak RSS reads
#: the same from run to run; a 2 GB heap filled only partly on
#: graph_analytics, and its peak RSS spread several times wider.
DRIVER_MEM = "1g"
#: timed operations per run, whatever --seconds says. A run is one fresh
#: process, so the first operation is cold: it compiles its plans, as
#: the first request to a freshly started server does.
MIN_OPS = 1
#: LlmCache compacts every 64 part files; with this many pre-filled,
#: the first miss of every serve run triggers a compaction
CACHE_PREFILL = 63
#: half of the requests use these budgets, half the QueryParams defaults
LARGE_BUDGETS = {"max_entity_tokens": 4000, "max_relation_tokens": 4000,
                 "max_total_tokens": 12000}
#: (mode, large budgets) of request i is entry i % 4. Request 0, timed
#: in every run, runs every search branch (mix: entities, relations and
#: chunk vectors) with large budgets, so that entity rows reach the
#: chunk-gathering path.
REQUEST_CYCLE = (("mix", True), ("local", True), ("global", False), ("hybrid", False))
#: graph_analytics: mentions drawn Zipf(1.2) over the corpus vocabulary,
#: about what extraction yields from a 200-page corpus
N_MENTIONS = 9000
MENTIONS_PER_CHUNK = 45
PREDICATES = ("acquired", "founded", "advises", "partnered with", "invested in",
              "employs", "supplies", "competes with")
KMEANS_K = 8
ANALYTICS_OPS = ("components", "pagerank", "betweenness", "communities", "kmeans")

INDEX_STAGES = ("documents", "chunks", "mentions", "nodes_raw", "edges_raw",
                "canonical_map", "nodes_pre", "edges_pre", "nodes", "edges",
                "chunk_embeddings", "entity_embeddings", "relation_embeddings",
                "doc_status")
#: index stage table -> the module whose Python slot it runs
PYTHON_STAGE_LAYER = {"chunks": "operators.chunking", "mentions": "operators.extraction",
                      "chunk_embeddings": "functions.embedding",
                      "entity_embeddings": "functions.embedding",
                      "relation_embeddings": "functions.embedding"}

#: seconds are CPU seconds of the whole process tree (driver, JVM,
#: Python workers): on this host the hypervisor steals up to a quarter of
#: the CPU for minutes at a time, which stretches wall time but is not
#: charged to processes. Wall times are kept as run.* per-layer metrics.
E2E_UNITS = {"setup_s": "s", "op_cpu_p50_s": "s", "peak_rss_mb": "MB"}
_QUERY_STATS = ("jobs", "stages", "tasks", "driver_s", "job_busy_s",
                "task_cpu_s", "gc_s", "shuffle_write_bytes")
LAYER_UNITS = {
    "run.setup_wall_s": "s", "run.op_wall_p50_s": "s",
    "session.start_s": "s", "corpus.generate_s": "s", "graph_build.s": "s",
    "index.wall_s": "s", "index.driver_s": "s", "index.jobs": "count",
    "index.task_cpu_s": "s", "index.gc_s": "s", "index.shuffle_write_bytes": "bytes",
    "index.spill_bytes": "bytes", "index.bytes_written": "bytes",
    "index.bytes_per_input_byte": "ratio",
    **{f"index.stage_s.{s}": "s" for s in INDEX_STAGES},
    **{f"index.stage_rows.{s}": "count" for s in INDEX_STAGES},
    "operators.chunking.python_s": "s", "operators.extraction.python_s": "s",
    "functions.embedding.python_s": "s", "index.python_s": "s",
    "index.python_init_s": "s", "index.python_start_s": "s",
    "linking.lsh_split_buckets": "count",
    **{f"query.{k}.{agg}": ("count" if k in ("jobs", "stages", "tasks") else
                            "bytes" if k.endswith("bytes") else "s")
       for k in _QUERY_STATS for agg in ("p50", "max")},
    "truncation.python_s.p50": "s", "truncation.python_s.max": "s",
    "query.ctx_entities": "count", "query.ctx_relations": "count",
    "query.ctx_chunks": "count",
    "cache.gets": "count", "cache.hits": "count", "cache.hit_ratio": "ratio",
    "cache.get_s": "s", "cache.puts": "count", "cache.put_s": "s",
    "cache.compactions": "count", "cache.compact_s": "s",
    **{f"analytics.{op}.kg.{k}": u for op in ANALYTICS_OPS
       for k, u in (("s", "s"), ("jobs", "count"), ("shuffle_write_bytes", "bytes"))},
    "jvm.gc_s": "s",
}


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _descendants() -> list[int]:
    from tracing import proc_tree

    return [p for p in proc_tree(os.getpid()) if p != os.getpid()]


def _reap_children(timeout_s: float = 60.0) -> None:
    """Wait until every process this run started has exited; kill what
    is still alive after ``timeout_s``."""
    deadline = time.time() + timeout_s
    while _descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in _descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while _descendants():
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _sub, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")) and f != "metrics.json":
                total += os.path.getsize(os.path.join(d, f))
    return total


def _p50_max(values: list[float]) -> tuple[float, float]:
    return (statistics.median(values), max(values)) if values else (0.0, 0.0)


class Bench:
    def __init__(self, args, run_dir: Path):
        self.args = args
        self.run_dir = run_dir
        self.trace = bool(args.trace)
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        #: (wall s, CPU s) of each timed operation; None if it failed
        self.ops: list[tuple[float, float] | None] = []
        self.detail: dict = {"workload": args.workload, "seed": args.seed,
                             "seconds": args.seconds, "trace": args.trace,
                             "driver_mem": DRIVER_MEM}
        self.cache_calls: list[dict] = []
        self.spark = None
        path = HERE / "expected.json"
        self.expected = {}
        if path.is_file():
            with open(path) as f:
                self.expected = json.load(f).get(str(args.seed), {})

    def _fail(self, what: str, fails: list[str]) -> bool:
        self.failures += [f"{what}: {msg}" for msg in fails]
        return bool(fails)

    # ── set-up ───────────────────────────────────────────────────────
    def start(self) -> None:
        import bench  # the repository's host gate and /proc/stat reader
        from tracing import Spans, wrap_llm_cache

        self.bench = bench
        ncpu = len(os.sched_getaffinity(0))
        try:
            gate = bench.idle_gate(max_load=float(ncpu), timeout_s=0.0)
        except SystemExit:  # foreign Spark JVMs: record, do not refuse
            gate = {"violated": True}
        self.detail["host"] = {"cpus": ncpu, "gate": gate, "loadavg": os.getloadavg(),
                               "foreign_spark_jvms": len(bench._foreign_spark_jvms())}
        self.jiffies0 = bench._cpu_jiffies()
        self.spans = Spans()

        conf = {"spark.local.dir": str(self.run_dir / "local"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.run_dir / 'tmp'}",
                "spark.sql.warehouse.dir": str(self.run_dir / "warehouse")}
        if self.trace:
            log_dir = self.run_dir / "eventlog"
            log_dir.mkdir()
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": f"file://{log_dir}",
                         "spark.eventLog.compress": "false"})
        from graphrag_kb_server_spark.operators.context_ops import LlmCache
        from graphrag_kb_server_spark.session import get_spark

        with self.spans.span("session", "setup"):
            self.spark = get_spark("perfbench", cpus=ncpu, extra_conf=conf)
        self.spans.spark = self.spark
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        # always on: the serve check reads back what the first answer put
        # (one list append per cache call)
        wrap_llm_cache(LlmCache, self.cache_calls)

    # ── serve_fresh ──────────────────────────────────────────────────
    def build_index(self) -> None:
        import pyarrow.dataset as ds

        from graphrag_kb_server_spark import corpus
        from graphrag_kb_server_spark.plans.index_pipeline import run_index

        path = str(self.run_dir / "corpus")
        with self.spans.span("corpus", "setup"):
            corpus.generate(self.spark, N_DOCS, seed=self.args.seed,
                            n_partitions=len(os.sched_getaffinity(0)),
                            sent_range=SENT_RANGE).write.parquet(path)
            pages = self.spark.read.parquet(path)
        text = ds.dataset(path).to_table(columns=["text"]).column("text").to_pylist()
        self.corpus_rows, self.corpus_bytes = len(text), sum(len(t.encode()) for t in text)
        self.index_dir = str(self.run_dir / "index")
        with self.spans.span("index", "setup"):
            run_index(self.spark, pages, self.index_dir)
        with open(os.path.join(self.index_dir, "metrics.json")) as f:
            self.index_metrics = json.load(f)
        self._fail("index", self._check_index())

    def _check_index(self) -> list[str]:
        """Read the written tables back with pyarrow, independently of
        Spark, and check them."""
        import pyarrow.dataset as ds

        from checks import check_index, compare_expected, digest

        tables = {t: ds.dataset(f"{self.index_dir}/{t}", format="parquet") for t in (
            "documents", "chunks", "mentions", "nodes", "edges", "chunk_embeddings",
            "entity_embeddings", "relation_embeddings", "doc_status")}
        counts = {t: d.count_rows() for t, d in tables.items()}
        nodes = tables["nodes"].to_table(columns=["name", "type", "mention_count"]).to_pandas()
        edges = tables["edges"].to_table(columns=["src", "tgt", "weight"]).to_pandas()
        edges["weight"] = edges["weight"].round(4)
        names = set(nodes["name"])
        dangling = int((~edges["src"].isin(names)).sum() + (~edges["tgt"].isin(names)).sum())
        self.nodes_pd = nodes
        doc_ids = tables["documents"].to_table(columns=["doc_id"]).column("doc_id").to_pylist()
        actual = {
            "counts": counts,
            "nodes_digest": digest(nodes.itertuples(index=False, name=None)),
            "edges_digest": digest(edges.itertuples(index=False, name=None)),
            "documents_digest": digest((d,) for d in doc_ids),
        }
        self.detail["index_outputs"] = actual
        return check_index(counts, self.corpus_rows, dangling) + compare_expected(
            actual, self.expected.get("index"))

    def _requests(self, n: int) -> list[dict]:
        """Request i takes its mode and budget from ``REQUEST_CYCLE``;
        its target entity is drawn Zipf over the nodes ranked by
        mention_count."""
        rng = random.Random(f"perfbench-serve-{self.args.seed}")
        ranked = self.nodes_pd.sort_values(["mention_count", "name"],
                                           ascending=[False, True])["name"].tolist()
        weights = [1.0 / (r + 1) ** 1.1 for r in range(len(ranked))]
        out = []
        for i in range(n):
            target = rng.choices(ranked, weights)[0]
            mode, large = REQUEST_CYCLE[i % len(REQUEST_CYCLE)]
            out.append({"mode": mode, "large": large, "target": target,
                        "question": f"How does {target} work with its partners, and "
                                    f"who competes with it? (request {self.args.seed}-{i})"})
        return out

    def prep_serve(self) -> None:
        import datetime as dt

        import pyarrow as pa
        import pyarrow.parquet as pq

        with self.spans.span("prep", "setup"):
            self.graph = self.bench._graph_tables(self.spark, self.index_dir)
            # one part file per row, in the cache table's schema
            self.cache_dir = str(self.run_dir / "llm_cache")
            os.mkdir(self.cache_dir)
            schema = pa.schema([("args_hash", pa.string()), ("content", pa.string()),
                                ("written_at", pa.timestamp("us", tz="UTC"))])
            written = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
            for i in range(CACHE_PREFILL):
                pq.write_table(pa.table({"args_hash": [f"prefill-{self.args.seed}-{i}"],
                                         "content": ["prefilled answer"],
                                         "written_at": [written]}, schema),
                               f"{self.cache_dir}/part-{i:05d}-prefill.parquet")
            self.requests = self._requests(256)

    def _ask(self, req: dict) -> dict:
        from graphrag_kb_server_spark.plans.query_pipeline import QueryParams, answer_query

        params = QueryParams(mode=req["mode"], **(LARGE_BUDGETS if req["large"] else {}))
        return answer_query(self.spark, self.graph, req["question"], params,
                            cache_path=self.cache_dir)

    def _check_cache_round_trip(self, first: dict) -> list[str]:
        """A repeated question is answered from the cache: what the
        first request put must read back as the answer it returned."""
        from graphrag_kb_server_spark.operators.context_ops import LlmCache

        sp = self.spans.of_kind("request")[0]
        puts = [c for c in self.cache_calls
                if c["op"] == "put" and sp["t0"] <= c["t0"] <= sp["t1"]]
        if len(puts) != 1:
            return [f"first request made {len(puts)} cache puts, expected 1"]
        if LlmCache.for_path(self.spark, self.cache_dir).get(puts[0]["key"]) != first["answer"]:
            return ["a repeated question would get a different answer from the cache"]
        return []

    def run_serve(self) -> None:
        from graphrag_kb_server_spark.plans.query_pipeline import QueryParams
        from graphrag_kb_server_spark.tokenizer import count_tokens

        from checks import check_request, compare_expected, perturbed_request, request_digest

        results, records = [], []
        t_loop = time.time()
        for i, req in enumerate(self.requests):
            if i >= MIN_OPS and time.time() - t_loop >= self.args.seconds:
                break
            self.attempted += 1
            with self.spans.span(f"request:{i}", "request") as s:
                try:
                    res = self._ask(req)
                except Exception:
                    traceback.print_exc()
                    res = None
            records.append({**req, "latency_s": s["t1"] - s["t0"], "cpu_s": s["cpu1"] - s["cpu0"]})
            results.append(res)
        self.loop_s = time.time() - t_loop

        defaults = QueryParams()
        budgets_default = {k: getattr(defaults, k) for k in LARGE_BUDGETS}
        digests = []
        for i, (req, res, rec) in enumerate(zip(self.requests, results, records)):
            if res is None:
                fails = ["raised"]
            else:
                data = res["raw_data"]["data"]
                rec.update(ctx_entities=len(data["entities"]),
                           ctx_relations=len(data["relationships"]),
                           ctx_chunks=len(data["chunks"]),
                           processing_info=res["processing_info"])
                fails = check_request(res, LARGE_BUDGETS if req["large"] else budgets_default,
                                      count_tokens)
            if self._fail(f"request {i}", fails):
                self.failed += 1
                rec["failed"] = True
            digests.append(request_digest(res) if res is not None else None)
        if results[0] is not None:
            self._fail("cache", self._check_cache_round_trip(results[0]))
            self.detail["self_check"] = bool(
                check_request(perturbed_request(results[0]), LARGE_BUDGETS, count_tokens))
        self._fail("serve", compare_expected({"requests": digests},
                                             self.expected.get("serve_fresh")))
        self.detail["requests"] = records
        self.detail["outputs"] = {"requests": digests}
        self.ops = [None if r.get("failed") else (r["latency_s"], r["cpu_s"]) for r in records]

    # ── graph_analytics ──────────────────────────────────────────────
    def build_graph(self) -> None:
        """Seeded mentions (subject/object drawn Zipf(1.2) over the
        corpus vocabulary, like the generator's sentences) merged into
        nodes and edges by the engine's graph-build operators, plus one
        embedding per entity."""
        import numpy as np
        import pandas as pd
        import pyarrow.dataset as ds

        from graphrag_kb_server_spark import corpus
        from graphrag_kb_server_spark.functions.embedding import embed_text
        from graphrag_kb_server_spark.operators.graph_build import build_edges, build_nodes

        from checks import check_graph, compare_expected, digest

        vocab = corpus.entity_vocab()
        ranks = np.arange(1, len(vocab) + 1, dtype=np.float64) ** -1.2
        rng = np.random.default_rng([self.args.seed, 20260101])
        subj = rng.choice(len(vocab), N_MENTIONS, p=ranks / ranks.sum())
        obj = rng.choice(len(vocab), N_MENTIONS, p=ranks / ranks.sum())
        obj = np.where(obj == subj, (obj + 1) % len(vocab), obj)
        pred = rng.integers(0, len(PREDICATES), N_MENTIONS)
        chunk = [f"chunk-{i // MENTIONS_PER_CHUNK:05d}" for i in range(N_MENTIONS)]
        mentions = pd.DataFrame({
            "chunk_id": chunk, "doc_id": chunk,
            "subj": [vocab[i][0] for i in subj], "subj_type": [vocab[i][1] for i in subj],
            "pred": [PREDICATES[i] for i in pred],
            "obj": [vocab[i][0] for i in obj], "obj_type": [vocab[i][1] for i in obj],
            "weight": 1.0,
        })
        mentions["description"] = mentions["subj"] + " " + mentions["pred"] + " " + mentions["obj"] + "."
        self.graph_dir = str(self.run_dir / "graph")
        with self.spans.span("graph_build", "setup"):
            m = self.spark.createDataFrame(mentions)
            build_nodes(m).write.parquet(f"{self.graph_dir}/nodes")
            build_edges(m).write.parquet(f"{self.graph_dir}/edges")
            nodes = ds.dataset(f"{self.graph_dir}/nodes").to_table(
                columns=["name", "description"]).to_pandas()
            emb = pd.DataFrame({"name": nodes["name"], "embedding": [
                embed_text(n + "\n" + d).tolist()
                for n, d in zip(nodes["name"], nodes["description"])]})
            self.spark.createDataFrame(emb, "name string, embedding array<float>").write.parquet(
                f"{self.graph_dir}/entity_embeddings")
        edges = ds.dataset(f"{self.graph_dir}/edges").to_table(
            columns=["src", "tgt", "weight"]).to_pandas()
        self.kg_nodes = set(edges["src"]) | set(edges["tgt"])
        self.entities = set(nodes["name"])
        actual = {"nodes": len(nodes), "edges": len(edges),
                  "edges_digest": digest(edges.itertuples(index=False, name=None))}
        self.detail["graph_outputs"] = actual
        self._fail("graph", check_graph(mentions, set(nodes["name"]), edges) + compare_expected(
            actual, self.expected.get("graph")))

    def _analytics_pass(self, p: int) -> tuple[dict, dict]:
        from graphrag_kb_server_spark.operators.centrality import approx_betweenness, pagerank
        from graphrag_kb_server_spark.operators.clustering import kmeans
        from graphrag_kb_server_spark.operators.communities import (
            label_propagation, modularity_refine)
        from graphrag_kb_server_spark.operators.components import connected_components

        edges = self.spark.read.parquet(f"{self.graph_dir}/edges").select("src", "tgt", "weight")
        emb = self.spark.read.parquet(f"{self.graph_dir}/entity_embeddings")
        ops = {
            "components": lambda: connected_components(edges),
            "pagerank": lambda: pagerank(edges),
            "betweenness": lambda: approx_betweenness(edges),
            "communities": lambda: modularity_refine(edges, label_propagation(edges)),
            "kmeans": lambda: kmeans(emb, "name", "embedding", k=KMEANS_K,
                                     seed=str(self.args.seed))[0],
        }
        out, times, cpus = {}, {}, {}
        for op, fn in ops.items():
            self.attempted += 1
            with self.spans.span(f"analytics:{op}:{p}", "analytics", op=op) as s:
                try:
                    pdf = fn().toPandas()
                    out[op] = list(pdf.iloc[:, :2].itertuples(index=False, name=None))
                except Exception:
                    traceback.print_exc()
                    out[op] = None
            times[op] = s["t1"] - s["t0"]
            cpus[op] = s["cpu1"] - s["cpu0"]
        return out, (times, cpus)

    def run_analytics(self) -> None:
        from checks import analytics_digest, check_analytics, compare_expected, perturbed_analytics

        passes = []
        t_loop = time.time()
        while len(passes) < MIN_OPS or time.time() - t_loop < self.args.seconds:
            passes.append(self._analytics_pass(len(passes)))
        self.loop_s = time.time() - t_loop

        digests = []
        for i, (out, (times, cpus)) in enumerate(passes):
            broken = [op for op, v in out.items() if v is None]
            fails = [f"{op} raised" for op in broken] or check_analytics(
                out, self.kg_nodes, self.entities, KMEANS_K)
            failed = self._fail(f"pass {i}", fails)
            self.failed += max(len(broken), 1) if failed else 0
            digests.append(None if failed else analytics_digest(out))
            self.ops.append(None if failed else (sum(times.values()), sum(cpus.values())))
        good = [d for d in digests if d is not None]
        if any(d != good[0] for d in good[1:]):
            self.failures.append("analytics passes over the same graph disagree")
        if good:
            first = passes[digests.index(good[0])][0]
            self.detail["self_check"] = bool(check_analytics(
                perturbed_analytics(first), self.kg_nodes, self.entities, KMEANS_K))
            self._fail("analytics", compare_expected(good[0],
                                                     self.expected.get("graph_analytics")))
        self.detail["outputs"] = {"analytics": good[0] if good else None}
        self.detail["passes"] = [t for _, (t, _c) in passes]

    # ── results ──────────────────────────────────────────────────────
    def end_to_end(self) -> dict:
        done = [op for op in self.ops if op is not None]
        setup = self.spans.of_kind("setup")
        # with no op done, the whole loop time stands in for the median
        return {
            "setup_s": sum(s["cpu1"] - s["cpu0"] for s in setup),
            "op_cpu_p50_s": statistics.median(c for _, c in done) if done else self.loop_s,
            "peak_rss_mb": self.peak_rss_kb / 1024.0,
            "run.setup_wall_s": sum(s["t1"] - s["t0"] for s in setup),
            "run.op_wall_p50_s": statistics.median(w for w, _ in done) if done else self.loop_s,
        }

    def layers(self) -> dict:
        from tracing import busy_seconds, cache_layer, jobs_in, output_stage, read_event_log, totals

        jobs, plans = read_event_log(str(self.run_dir / "eventlog"))
        out = {k: 0.0 for k in LAYER_UNITS}
        e2e = self.detail["end_to_end"]
        out["run.setup_wall_s"], out["run.op_wall_p50_s"] = e2e["run.setup_wall_s"], e2e["run.op_wall_p50_s"]
        wall = {s["name"]: s["t1"] - s["t0"] for s in self.spans.of_kind("setup")}
        out["session.start_s"] = wall["session"]
        out["corpus.generate_s"] = wall.get("corpus", 0.0)
        out["graph_build.s"] = wall.get("graph_build", 0.0)
        if "index" in wall:
            # every job the build launched, split by the stage its SQL
            # execution writes
            ix = next(s for s in self.spans.items if s["name"] == "index")
            ix_jobs = jobs_in(jobs, ix)
            t = totals(ix_jobs)
            out.update({
                "index.wall_s": wall["index"],
                "index.driver_s": wall["index"] - busy_seconds(ix_jobs, ix["t0"], ix["t1"]),
                "index.jobs": t["jobs"], "index.task_cpu_s": t["task_cpu_s"],
                "index.gc_s": t["gc_s"], "index.shuffle_write_bytes": t["shuffle_write_bytes"],
                "index.spill_bytes": t["spill_bytes"], "index.bytes_written": t["bytes_written"],
                "index.bytes_per_input_byte": _dir_bytes(self.index_dir) / self.corpus_bytes,
                "index.python_s": t["python_s"], "index.python_init_s": t["python_init_s"],
                "index.python_start_s": t["python_start_s"]})
            for j in ix_jobs:
                layer = PYTHON_STAGE_LAYER.get(output_stage(plans.get(j["exec"], ""),
                                                            self.index_dir))
                if layer:
                    out[f"{layer}.python_s"] += j["py_run_ms"] / 1e3
            for m in self.index_metrics:
                if m.get("stage") in INDEX_STAGES and "seconds" in m:
                    out[f"index.stage_s.{m['stage']}"] = m["seconds"]
                    out[f"index.stage_rows.{m['stage']}"] = m["rows"]
                if m.get("stage") == "canonical_map:lsh_buckets":
                    out["linking.lsh_split_buckets"] = m.get("n_oversized", 0)
        # serving: per request, then median and max
        reqs = self.spans.of_kind("request")
        per = {k: [] for k in (*_QUERY_STATS, "python_s")}
        for sp in reqs:
            rj = jobs_in(jobs, sp)
            busy = busy_seconds(rj, sp["t0"], sp["t1"])
            vals = {**totals(rj), "job_busy_s": busy, "driver_s": sp["t1"] - sp["t0"] - busy}
            for k in per:
                per[k].append(vals[k])
        for k in _QUERY_STATS:
            out[f"query.{k}.p50"], out[f"query.{k}.max"] = _p50_max(per[k])
        out["truncation.python_s.p50"], out["truncation.python_s.max"] = _p50_max(per["python_s"])
        # over the requests every serve run makes, so these are exact
        for key in ("ctx_entities", "ctx_relations", "ctx_chunks"):
            out[f"query.{key}"] = sum(
                r.get(key, 0) for r in self.detail.get("requests", [])[:MIN_OPS])
        if reqs:
            out.update(cache_layer(self.cache_calls, [(s["t0"], s["t1"]) for s in reqs]))
        # analytics: per op, median over passes
        for op in ANALYTICS_OPS:
            spans = [s for s in self.spans.of_kind("analytics") if s["op"] == op]
            if spans:
                per_pass = [(s["t1"] - s["t0"], totals(jobs_in(jobs, s))) for s in spans]
                out[f"analytics.{op}.kg.s"] = statistics.median(w for w, _ in per_pass)
                out[f"analytics.{op}.kg.jobs"] = statistics.median(t["jobs"] for _, t in per_pass)
                out[f"analytics.{op}.kg.shuffle_write_bytes"] = statistics.median(
                    t["shuffle_write_bytes"] for _, t in per_pass)
        out["jvm.gc_s"] = totals(jobs)["gc_s"]
        return out

    def close(self) -> None:
        if self.spark is not None:
            spark, self.spark = self.spark, None
            _stop_spark(spark)

    def run(self) -> dict:
        self.start()
        if self.args.workload == "serve_fresh":
            self.build_index()
            self.prep_serve()
            self.run_serve()
        else:
            self.build_graph()
            self.run_analytics()
        self.peak_rss_kb = _vm_hwm_kb("self") + _vm_hwm_kb(self.jvm_pid)
        self.close()
        j1 = self.bench._cpu_jiffies()
        dt = j1["total"] - self.jiffies0["total"]
        self.detail["host"]["steal_pct"] = (
            100.0 * (j1["steal"] - self.jiffies0["steal"]) / dt if dt else 0.0)
        if not self.detail.get("self_check"):
            self.failures.append("self-check: a perturbed output was not flagged")
        self.detail["end_to_end"] = self.end_to_end()
        self.detail["failures"] = self.failures
        self.detail["spans"] = [(s["name"], s["t1"] - s["t0"]) for s in self.spans.items]
        if self.trace:
            self.detail["per_layer"] = self.layers()
            metrics, units = self.detail["per_layer"], LAYER_UNITS
        else:
            metrics, units = self.detail["end_to_end"], E2E_UNITS
        return {"correct": not self.failures, "attempted": self.attempted,
                "failed": self.failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--detail", help="also write the full run record (JSON) here")
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "graphrag_kb_server_spark" / "__init__.py").is_file() or not (
            root / "bench.py").is_file():
        print("perfbench: run from the repository root; the engine package or "
              "bench.py is missing here", file=sys.stderr)
        return 2
    run_dir = root / ".perfbench_runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    # engine workers import the package; keep every scratch file in the run dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    sys.path[:0] = [str(root), str(HERE)]
    bench = Bench(args, run_dir)
    try:
        result = bench.run()
    finally:
        bench.close()
        _reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:
            pass
    if args.detail:
        with open(args.detail, "w") as f:
            json.dump({**bench.detail, "result": result}, f, indent=1, default=str)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
