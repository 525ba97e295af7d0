"""Benchmark of BM25 search over synthetic transcripts, driven through the
engine's user-facing entry points (``IndexBuilder.build``,
``Engine.search``, ``Engine.msearch``, ``Engine.update_by_query``) at
``local[<cores>]`` from one single-threaded, closed-loop client.

    python3 perfbench/run.py --workload hot --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` times the same
loops with every other operation traced and prints the per-layer metrics.
The last line of standard output is the result object. perfbench/README.md
describes the workloads and maps each per-layer metric to the end-to-end
metric it should move.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path
from statistics import median, quantiles

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
# The generator draws zipf turn counts per conversation, so 400 of them
# give anywhere from 5k to 7.5k turns by seed. The corpus is instead the
# first N_TURNS turns of N_CONVS conversations (at least 7.3k turns for
# every seed below 20,000), so every seed builds and searches a corpus of
# the same size.
N_CONVS = 600
N_TURNS = 6500
N_SHARDS = 8  # about 800 turns per shard
K = 10
# phase -> (share of --seconds, fewest timed operations). A phase ends
# once its share has passed, so a run lasts about as long on a busy
# machine as on an idle one and the benchmark's runs keep within their
# time budget. The hybrid and filtered phases run only when traced: at
# about 1 s and 2.5 s per operation, a run affordable for that budget times
# too few of them for a steady median.
PHASES = {
    "match": (0.60, 10),
    "msearch": (0.40, 2),
}
TRACED_PHASES = {**PHASES, "hybrid": (0.20, 3), "filtered": (0.20, 2)}
WARMUP_OPS = {"match": 10, "msearch": 2}  # other phases: one
MSEARCH_SPECS = 200
UPDATE_TERM = "w0500"
UPDATE_SET = {"text": "concat(text, ' benchupdated')"}
DRIVER_MEM = "3g"  # well below the box's memory; session.py defaults to 24g


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["hot", "cold"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--corpus-seed", type=int, help="default: derived from --seed")
    p.add_argument("--query-seed", type=int, help="default: derived from --seed")
    a = p.parse_args(argv)
    a.corpus_seed = a.seed * 2 + 1 if a.corpus_seed is None else a.corpus_seed
    a.query_seed = a.seed * 2 + 2 if a.query_seed is None else a.query_seed
    return a


def pin_env(run_dir: Path) -> dict:
    """Environment every Spark process inherits; set before pyspark loads.
    Workers import the package from this checkout, and every scratch file
    stays inside it."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    env = {
        "PYTHONPATH": str(ROOT),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    return env


def pct(vals: list[float], q: int) -> float:
    """The q-th percentile (inclusive method); a single value is itself."""
    if len(vals) == 1:
        return vals[0]
    return quantiles(vals, n=100, method="inclusive")[q - 1]


class Bench:
    def __init__(self, args, run_dir: Path):
        from neural_search_spark.session import get_spark

        from perfbench.inputs import QueryStream
        from perfbench.trace import Tracer

        self.args = args
        self.run_dir = run_dir
        self.tr = Tracer(bool(args.trace))
        self.stream = QueryStream(args.workload, args.query_seed)
        self.attempted = 0
        self.failed = 0
        self.phases = TRACED_PHASES if args.trace else PHASES
        self.lat: dict[str, list[float]] = {p: [] for p in self.phases}
        self.spark_tot = {p: [0, 0, 0] for p in self.phases}
        self.routes: dict[str, int] = {"index": 0, "corpus": 0, "composite": 0}
        self.seen_queries: set[str] = set()
        self.seen_terms: set[str] = set()
        self.props: dict = {"match_repeat": [], "term_repeat": []}
        self.msearch_specs = 0
        self.pending: list = []
        self.cpu_s: dict[str, float] = {}
        self.phase_s: dict[str, float] = {}
        self.mem = None
        self.shadow = None
        cpus = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        self.spark = get_spark(
            cpus=cpus, extra_conf={"spark.ui.showConsoleProgress": "false"}
        )
        self.session_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext

    # ---- bookkeeping ----------------------------------------------------
    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def counts(self, name: str) -> tuple[int, int, int]:
        from perfbench.trace import spark_counts

        # the status store is fed by the listener bus; drain it first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return spark_counts(self.sc, name)

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def expect(self, rows, check, *args) -> None:
        """Queue the oracle check of one result. Checks run between
        phases, so no timed window holds benchmark-side work."""
        self.pending.append((rows, check, args))

    def run_checks(self) -> None:
        for rows, check, args in self.pending:
            self.record(rows is not None and check(*args, rows))
        self.pending.clear()

    def timed(self, fn):
        """Run one operation; (seconds, rows or None when it raised)."""
        t0 = time.perf_counter()
        try:
            rows = fn()
        except Exception as exc:  # a failed operation is counted, not fatal
            print(f"operation failed: {exc!r}", file=sys.stderr)
            return time.perf_counter() - t0, None
        return time.perf_counter() - t0, rows

    # ---- set-up ---------------------------------------------------------
    def setup(self) -> None:
        from neural_search_spark.engine import Engine
        from neural_search_spark.index.build import IndexBuilder, doc_id_col
        from neural_search_spark.query.bm25 import BM25Index
        from neural_search_spark.transcripts import generate_transcripts

        from perfbench.inputs import Checker
        from perfbench.trace import MemorySampler

        a = self.args
        corpus_dir = str(self.run_dir / "corpus")
        self.index_dir = str(self.run_dir / "index")
        write_corpus(
            corpus_dir,
            generate_transcripts(N_CONVS, seed=a.corpus_seed).head(N_TURNS),
            n_files=len(os.sched_getaffinity(0)),
        )
        transcripts = self.spark.read.parquet(corpus_dir)

        # input preparation, outside every timing: the oracle over the
        # corpus with the doc ids the index assigns
        self.corpus = transcripts.withColumn("doc_id", doc_id_col())
        self.docs = self.corpus.select("doc_id", "text", "role", "tool").toPandas()
        self.checker = Checker(self.docs, K)
        self.text_bytes = int(self.docs["text"].str.len().sum())
        self.mem = MemorySampler(os.getpid())

        self.group("build")
        with self.tr.span("index.build"):
            t0 = time.perf_counter()
            self.build_info = IndexBuilder(
                self.spark, self.index_dir, n_shards=N_SHARDS
            ).build(transcripts)
            self.build_s = time.perf_counter() - t0
        self.build_counts = self.counts("build")
        self.layout = index_layout(self.index_dir)  # untimed

        if self.tr.enabled:
            # a second handle that is sent every match query the engine
            # gets, so its driver cache is in the engine's state
            self.shadow = BM25Index(self.spark, self.index_dir)
        t0 = time.perf_counter()
        self.index = BM25Index(self.spark, self.index_dir).cache()
        self.engine = Engine(self.spark, corpus=self.corpus, bm25_index=self.index)
        self.group("warmup")
        # untimed operations on every route; the first ten matches of a
        # run are still about a third slower while the JVM compiles them
        for phase in self.phases:
            for _ in range(WARMUP_OPS.get(phase, 1)):
                getattr(self, f"op_{phase}")(-1, traced=False)
        self.warm_s = time.perf_counter() - t0
        self.setup_s = self.session_s + self.build_s + self.warm_s
        self.run_checks()

    # ---- operations -----------------------------------------------------
    def op_match(self, i: int, traced: bool) -> None:
        text = self.stream.next()
        spec = {"match": {"query_text": text}}
        dt, rows = self.timed(lambda: self.engine.search(spec, k=K).collect())
        self.expect(rows, self.checker.match, text)
        if self.shadow is not None:
            from neural_search_spark.query.bm25 import bm25_topk

            t0 = time.perf_counter()
            bm25_topk(self.shadow, text, k=K).collect()
            kernel_s = time.perf_counter() - t0
        if i < 0:
            return
        from perfbench.inputs import terms_of

        terms = terms_of(text)
        self.props["match_repeat"].append(text in self.seen_queries)
        self.props["term_repeat"].append(all(t in self.seen_terms for t in terms))
        self.seen_queries.add(text)
        self.seen_terms.update(terms)
        self.lat["match"].append(dt)
        if self.tr.enabled:
            self.routes[self.engine.explain_route(spec)["route"]] += 1
        if traced:
            self.op_counts(f"match-{i}", dt)
            # Engine.search minus bm25_topk from the same driver-cache state
            self.op_span.update(bm25_topk_s=kernel_s, engine_overhead=dt - kernel_s)
            self.probe_match(i, text, terms)

    def op_hybrid(self, i: int, traced: bool) -> None:
        texts = [self.stream.next(), self.stream.next()]
        spec = {"hybrid": {"queries": [{"match": {"query_text": t}} for t in texts]}}
        dt, rows = self.timed(lambda: self.engine.search(spec, k=K).collect())
        self.expect(rows, self.checker.hybrid, texts)
        if i < 0:
            return
        self.lat["hybrid"].append(dt)
        if self.tr.enabled:
            self.routes[self.engine.explain_route(spec)["route"]] += 1
        if traced:
            self.op_counts(f"hybrid-{i}", dt)
            self.probe_hybrid(i, texts)

    def op_msearch(self, i: int, traced: bool) -> None:
        texts = {f"q{j:03d}": self.stream.next() for j in range(MSEARCH_SPECS)}
        specs = {q: {"match": {"query_text": t}} for q, t in texts.items()}
        dt, rows = self.timed(lambda: self.engine.msearch(specs, k=K).collect())
        self.expect(rows, self.checker.msearch, texts)
        if i < 0:
            return
        self.lat["msearch"].append(dt)
        self.msearch_specs += MSEARCH_SPECS
        if traced:
            self.op_counts(f"msearch-{i}", dt)
            self.probe_msearch(i, texts)

    def op_filtered(self, i: int, traced: bool) -> None:
        text, expr = self.stream.next(), self.stream.filter_expr()
        spec = {"match": {"query_text": text, "post_filter": expr}}
        dt, rows = self.timed(lambda: self.engine.search(spec, k=K).collect())
        self.expect(rows, self.checker.filtered, text, expr)
        if i < 0:
            return
        self.lat["filtered"].append(dt)
        if self.tr.enabled:
            self.routes[self.engine.explain_route(spec)["route"]] += 1
        if traced:
            self.op_counts(f"filtered-{i}", dt)
            self.probe_filtered(i, text)

    def run_phases(self) -> None:
        """Closed loop per phase: the next operation starts when the last
        returns. The process tree's CPU time is read at the phase's ends.
        A traced run traces every other operation, so its untraced half
        still gives plain latencies."""
        from perfbench.trace import tree_cpu_s

        not_engine = frozenset([self.mem.pid])
        for phase, (share, min_ops) in self.phases.items():
            budget = share * self.args.seconds
            op = getattr(self, f"op_{phase}")
            self.group(phase)
            cpu0 = tree_cpu_s(os.getpid(), not_engine)
            t0, i = time.perf_counter(), 0
            while True:
                if time.perf_counter() - t0 >= budget and i >= min_ops:
                    break
                traced = self.tr.enabled and i % 2 == 1
                if traced:
                    self.group(f"{phase}-{i}")
                    with self.tr.span(phase, req=f"{phase}-{i}") as self.op_span:
                        op(i, traced)
                    self.group(phase)
                else:
                    op(i, traced)
                i += 1
            self.phase_s[phase] = time.perf_counter() - t0
            self.cpu_s[phase] = tree_cpu_s(os.getpid(), not_engine) - cpu0
            c = self.counts(phase)
            self.spark_tot[phase] = list(c)
            self.failed += c[2]
            self.run_checks()

    # ---- per-layer probes (traced operations only) ----------------------
    def op_counts(self, req: str, dt: float) -> None:
        """Attach the traced operation's Spark counts and wall time to its
        span."""
        jobs, tasks, failed = self.counts(req)
        self.failed += failed
        self.op_span.update(jobs=jobs, tasks=tasks, engine_s=dt)

    def probe_match(self, i: int, text: str, terms: list[str]) -> None:
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        from neural_search_spark.index.build import N_TERM_BUCKETS, tid_py
        from neural_search_spark.index.codec import decode_doc_ids, decode_varint
        from neural_search_spark.query.bm25 import bm25_topk

        req = f"match-{i}"
        with self.tr.span("dict.lookup", req):
            stats = self.index.term_stats(terms)
        tids = [tid_py(t) for t in stats]
        with self.tr.span("postings.read", req) as s:
            if not hasattr(self, "_postings_ds"):
                self._postings_ds = ds.dataset(
                    os.path.join(self.index_dir, "postings"),
                    format="parquet", partitioning="hive",
                )
            tbl = self._postings_ds.to_table(
                columns=["tid", "docs", "tfs", "dls"],
                filter=ds.field("term_bucket").isin(
                    sorted({t % N_TERM_BUCKETS for t in tids})
                ) & ds.field("tid").isin(tids),
            )
            s["blocks"] = tbl.num_rows
            s["bytes"] = sum(
                int(pc.sum(pc.binary_length(tbl[c])).as_py() or 0)
                for c in ("docs", "tfs", "dls")
            )
        with self.tr.span("codec.decode", req) as s:
            n = 0
            for d, tf, dl in zip(*(tbl[c].to_pylist() for c in ("docs", "tfs", "dls"))):
                n += len(decode_doc_ids(d))
                decode_varint(tf)
                decode_varint(dl)
            s["postings"] = n
        with self.tr.span("kernel.driver", req, sum_df=sum(stats.values())):
            bm25_topk(self.index, text, k=K, mode="driver").collect()

    def probe_hybrid(self, i: int, texts: list[str]) -> None:
        from neural_search_spark.query.bm25 import bm25_topk
        from neural_search_spark.query.hybrid import hybrid_topk

        req = f"hybrid-{i}"
        with self.tr.span("hybrid.branches", req):
            branches = [bm25_topk(self.index, t, k=K).drop("rank") for t in texts]
        with self.tr.span("hybrid.combine", req):
            hybrid_topk(branches, k=K).collect()

    def probe_msearch(self, i: int, texts: dict[str, str]) -> None:
        from neural_search_spark.query.bm25 import bm25_topk_batch

        from perfbench.inputs import terms_of

        req = f"msearch-{i}"
        union = sorted({t for q in texts.values() for t in terms_of(q)})
        stats = self.index.term_stats(union)
        with self.tr.span(
            "batch.kernel", req,
            union_terms=len(union), union_sum_df=sum(stats.values()),
        ) as s:
            bm25_topk_batch(self.index, list(texts.items()), k=K).collect()
        self.op_span["engine_overhead"] = self.op_span["engine_s"] - (
            s["end"] - s["start"]
        )

    def probe_filtered(self, i: int, text: str) -> None:
        req = f"filtered-{i}"
        spec = {"match": {"query_text": text}}
        with self.tr.span("filtered.unfiltered", req):
            self.engine.search(spec, k=K).collect()

    # ---- update (traced run only) ---------------------------------------
    def update(self) -> None:
        """``Engine.update_by_query(..., out_dir=...)`` as a user calls it,
        on an engine of its own so the search engine keeps its corpus. Its
        dry run is timed first; the real call runs with ``IndexBuilder.build``
        and ``merge_indexes`` wrapped in spans, which split it into its
        segment build and its merge. The merged index is then checked
        against an oracle over the updated corpus."""
        import neural_search_spark.index.merge as merge_mod
        from neural_search_spark.engine import Engine
        from neural_search_spark.index.build import IndexBuilder

        from perfbench.inputs import Checker

        spec = {"match": {"query_text": UPDATE_TERM}}
        engine = Engine(self.spark, corpus=self.corpus, bm25_index=self.index)
        self.group("update-dry-run")
        with self.tr.span("update.match"):
            found = engine.update_by_query(spec, UPDATE_SET, dry_run=True)
        self.group("update")
        with self.tr.wrap(IndexBuilder, "build", "update.segment_build"), \
                self.tr.wrap(merge_mod, "merge_indexes", "update.merge"):
            with self.tr.span("update.total") as s:
                out = self.timed(lambda: engine.update_by_query(
                    spec, UPDATE_SET, out_dir=str(self.run_dir / "merged")
                ))[1]
        jobs, _, failed = self.counts("update")
        self.failed += failed
        ids = self.docs["doc_id"].to_numpy()[self.checker.oracle.postings[UPDATE_TERM][0]]
        ok = out is not None and found["total"] == out["total"] == len(ids)
        if out is not None:
            s.update(docs_expunged=int(out["reindex"]["docs_expunged"]), jobs=jobs)

        docs = self.docs.copy()
        docs.loc[docs["doc_id"].isin(ids), "text"] += " benchupdated"
        after = Checker(docs, K)
        for text in ["benchupdated", UPDATE_TERM] + [self.stream.next() for _ in range(8)]:
            _, rows = self.timed(
                lambda: engine.search({"match": {"query_text": text}}, k=K).collect()
            )
            ok &= rows is not None and after.match(text, rows)
        self.record(ok)

    # ---- results --------------------------------------------------------
    def end_to_end(self) -> dict:
        return {
            "setup_s": (self.setup_s, "s"),
            "index_bytes_per_text_byte": (
                (self.layout["postings_bytes"] + self.layout["terms_bytes"])
                / self.text_bytes, "ratio",
            ),
            "peak_rss_mb": (self.mem.peak_mb, "MB"),
            "match_cpu_ms": (self.cpu_s["match"] / len(self.lat["match"]) * 1000, "ms"),
            "msearch_cpu_ms": (self.cpu_s["msearch"] / self.msearch_specs * 1000, "ms"),
        }

    def wall(self, every: int) -> dict:
        """Wall-clock latency and throughput of the match and msearch
        loops; ``every=2`` keeps only a traced run's untraced operations."""
        m, b = self.lat["match"][::every], self.lat["msearch"][::every]
        return {
            "match_p50_ms": (median(m) * 1000, "ms"),
            "match_p75_ms": (pct(m, 75) * 1000, "ms"),
            "match_qps": (len(m) / sum(m), "q/s"),
            "msearch_qps": (MSEARCH_SPECS * len(b) / sum(b), "q/s"),
            "msearch_p50_s": (median(b), "s"),
        }

    def per_layer(self) -> dict:
        tr, ms = self.tr, 1000.0
        st = self.build_info["stage_sec"]
        lay = self.layout
        dec_s = sum(tr.durations("codec.decode"))
        hit = [d for d, r in zip(self.lat["match"], self.props["match_repeat"]) if r]
        miss = [d for d, r in zip(self.lat["match"], self.props["match_repeat"]) if not r]
        jobs = lambda name: tr.p50(name, "jobs")  # noqa: E731
        tasks = lambda name: tr.p50(name, "tasks")  # noqa: E731
        # what a traced match operation costs beyond its engine call
        extra = [d - e for d, e in zip(tr.durations("match"), tr.values("match", "engine_s"))]
        engine_s = sum(self.lat["match"])
        return {
            **{f"wall.{k}": v for k, v in self.wall(2).items()},
            "session.start_s": (self.session_s, "s"),
            "build.turns_per_sec": (self.build_info["n_docs"] / self.build_s, "turns/s"),
            **{f"build.{k}_s": (float(v), "s") for k, v in st.items()},
            "build.spark_jobs": (self.build_counts[0], "count"),
            "build.spark_tasks": (self.build_counts[1], "count"),
            "build.failed_tasks": (self.build_counts[2], "count"),
            "index.postings_bytes": (lay["postings_bytes"], "bytes"),
            "index.terms_bytes": (lay["terms_bytes"], "bytes"),
            "index.n_blocks": (lay["n_blocks"], "count"),
            "index.n_postings": (lay["n_postings"], "count"),
            "index.bytes_per_posting": (lay["postings_bytes"] / lay["n_postings"], "bytes"),
            "update.match_s": (tr.p50("update.match"), "s"),
            "update.segment_build_s": (tr.p50("update.segment_build"), "s"),
            "update.merge_s": (tr.p50("update.merge"), "s"),
            "update.total_s": (tr.p50("update.total"), "s"),
            "update.docs_expunged": (tr.p50("update.total", "docs_expunged"), "count"),
            "update.spark_jobs": (tr.p50("update.total", "jobs"), "count"),
            "engine.spark_jobs_per_query": (jobs("match"), "count"),
            "engine.spark_tasks_per_query": (tasks("match"), "count"),
            "engine.overhead_ms": (tr.p50("match", "engine_overhead", ms), "ms"),
            **{f"engine.route.{r}": (n, "count") for r, n in self.routes.items()},
            "dict.lookup_ms": (tr.p50("dict.lookup", scale=ms), "ms"),
            "postings.read_ms": (tr.p50("postings.read", scale=ms), "ms"),
            "postings.blocks_read": (tr.p50("postings.read", "blocks"), "count"),
            "postings.bytes_read": (tr.p50("postings.read", "bytes"), "bytes"),
            "kernel.driver_ms": (tr.p50("kernel.driver", scale=ms), "ms"),
            "kernel.query_sum_df": (tr.p50("kernel.driver", "sum_df"), "count"),
            "codec.decode_ms": (tr.p50("codec.decode", scale=ms), "ms"),
            "codec.postings_decoded": (tr.p50("codec.decode", "postings"), "count"),
            "codec.decode_mpostings_per_s": (
                sum(tr.values("codec.decode", "postings")) / dec_s / 1e6 if dec_s else 0.0,
                "Mpostings/s",
            ),
            "cache.hit_p50_ms": (median(hit) * ms if hit else 0.0, "ms"),
            "cache.miss_p50_ms": (median(miss) * ms if miss else 0.0, "ms"),
            "cache.term_repeat_share": (
                sum(self.props["term_repeat"]) / max(len(self.props["term_repeat"]), 1),
                "ratio",
            ),
            "hybrid.p50_ms": (median(self.lat["hybrid"]) * ms, "ms"),
            "hybrid.branches_ms": (tr.p50("hybrid.branches", scale=ms), "ms"),
            "hybrid.combine_ms": (tr.p50("hybrid.combine", scale=ms), "ms"),
            "hybrid.spark_jobs": (jobs("hybrid"), "count"),
            "batch.spark_jobs_per_call": (jobs("msearch"), "count"),
            "batch.spark_tasks_per_call": (tasks("msearch"), "count"),
            "batch.union_terms": (tr.p50("batch.kernel", "union_terms"), "count"),
            "batch.union_sum_df": (tr.p50("batch.kernel", "union_sum_df"), "count"),
            "batch.kernel_call_s": (tr.p50("batch.kernel"), "s"),
            "batch.engine_overhead_s": (tr.p50("msearch", "engine_overhead"), "s"),
            "filtered.spark_jobs_per_query": (jobs("filtered"), "count"),
            "filtered.spark_tasks_per_query": (tasks("filtered"), "count"),
            "filtered.p50_ms": (median(self.lat["filtered"]) * ms, "ms"),
            "filtered.unfiltered_ms": (tr.p50("filtered.unfiltered", scale=ms), "ms"),
            "trace.overhead_ms": (median(extra) * ms if extra else 0.0, "ms"),
            "trace.overhead_share": (
                (self.phase_s["match"] - engine_s) / engine_s, "ratio",
            ),
        }

    def properties(self) -> dict:
        sum_df = sorted(self.tr.values("kernel.driver", "sum_df"))
        n = max(len(self.props["match_repeat"]), 1)
        return {
            "n_turns": self.build_info["n_docs"],
            "text_bytes": self.text_bytes,
            "distinct_queries": len(self.seen_queries),
            "distinct_terms": len(self.seen_terms),
            "query_repeat_share": sum(self.props["match_repeat"]) / n,
            "term_repeat_share": sum(self.props["term_repeat"]) / n,
            "sum_df_p10_p50_p90": [pct(sum_df, q) for q in (10, 50, 90)] if sum_df else None,
            "routes": self.routes if self.tr.enabled else None,
            "ops_timed": {p: len(v) for p, v in self.lat.items()},
            "spark_jobs_tasks_failed": self.spark_tot,
        }

    def stop(self) -> None:
        """Stop the memory sampler and Spark, and wait for the sampler, the
        JVM and every Python worker."""
        from perfbench.trace import process_tree

        if self.mem is not None:
            self.mem.stop()
        gw = self.sc._gateway
        pids = [p for p in process_tree(os.getpid()) if p != os.getpid()]
        self.spark.stop()
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 20
        for pid in pids:
            while _alive(pid) and time.time() < deadline:
                time.sleep(0.1)
            if _alive(pid):
                os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def write_corpus(path: str, pdf, n_files: int) -> None:
    """Part files split on conversation boundaries, as
    ``transcripts.write_transcripts_parquet`` writes them, so Spark scans
    them in parallel."""
    import pandas as pd

    os.makedirs(path)
    codes = pd.factorize(pdf["conv_id"])[0] % n_files
    for i in range(n_files):
        pdf[codes == i].to_parquet(
            os.path.join(path, f"part-{i:05d}.parquet"), index=False
        )


def index_layout(path: str) -> dict:
    """On-disk size and shape of the index, read from its files."""
    import pyarrow.dataset as ds

    def du(sub: str) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(os.path.join(path, sub))
            for f in fs
            if f.endswith(".parquet")
        )

    terms = ds.dataset(os.path.join(path, "terms"), format="parquet")
    postings = ds.dataset(os.path.join(path, "postings"), format="parquet",
                          partitioning="hive")
    return {
        "postings_bytes": du("postings"),
        "terms_bytes": du("terms"),
        "n_blocks": postings.count_rows(),
        "n_postings": int(terms.to_table(columns=["df"])["df"].to_numpy().sum()),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [str(ROOT)]
    if importlib.util.find_spec("neural_search_spark") is None:
        sys.exit("perfbench: neural_search_spark is not in this checkout")
    run_dir = WORK / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    env = pin_env(run_dir)
    from bench import noise_controls

    from perfbench.trace import cpu_ticks

    noise = noise_controls()
    ticks0 = cpu_ticks()
    bench = None
    try:
        bench = Bench(args, run_dir)
        try:
            bench.setup()
            bench.run_phases()
            if args.trace:
                bench.update()
        finally:
            bench.stop()
    finally:
        if bench is not None and bench.tr.enabled:
            bench.tr.dump(str(WORK / f"trace-{args.workload}-{args.seed}.json"))
        shutil.rmtree(run_dir, ignore_errors=True)
    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    noise["cpu_steal_share"] = steal / total if total else 0.0

    metrics = bench.per_layer() if args.trace else bench.end_to_end()
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "corpus_seed": args.corpus_seed,
        "query_seed": args.query_seed,
        "trace": args.trace,
        "error_rate": bench.failed / bench.attempted,
        "unbounded": {
            "build_turns_per_sec": bench.build_info["n_docs"] / bench.build_s,
            **{k: v for k, (v, _) in bench.wall(2 if args.trace else 1).items()},
        },
        "cpu_s": bench.cpu_s,
        "properties": bench.properties(),
        "env": env,
        "noise": noise,
        "setup_parts_s": {
            "session": bench.session_s, "build": bench.build_s, "warm": bench.warm_s,
        },
        "metrics": {k: f"{v:.6g} {u}" for k, (v, u) in metrics.items()},
    }
    with open(WORK / f"report-{args.workload}-{args.seed}-t{args.trace}.json", "w") as f:
        json.dump({**report, "latencies_s": bench.lat}, f, indent=1, default=str)
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
