"""Query-side scaling probe: batched BM25 throughput at two parallelism
levels over ONE prebuilt index (alternating best-of-N protocol,
BENCH.md methodology — sandbox noise is ±30-50% on single runs).

Usage:
  python scripts/query_scaling.py build   # build the 1M-turn index once
  python scripts/query_scaling.py run 2   # one measurement at local[2]
  python scripts/query_scaling.py sweep   # alternating sweep + efficiency
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

IDX = "/tmp/nss_qscale_index"
N_CONVS = int(os.environ.get("SPARK_GRAFT_SCALING_CONVS", "64000"))
N_QUERIES = 200
REPEATS = 3


def _corpus() -> str:
    path = f"/tmp/nss_bench_transcripts_{N_CONVS}"
    if not os.path.exists(path):
        from neural_search_spark.transcripts import write_transcripts_parquet

        write_transcripts_parquet(path, n_convs=N_CONVS, seed=42, n_files=64)
    return path


def build():
    from neural_search_spark.index.build import IndexBuilder
    from neural_search_spark.session import get_spark

    spark = get_spark(cpus=8, shuffle_partitions=8, app_name="qscale-build")
    tr = spark.read.parquet(_corpus())
    IndexBuilder(spark, IDX, n_shards=32, block_size=4096).build(tr)
    print("built", IDX)


def run(cpus: int):
    from neural_search_spark.query.bm25 import BM25Index, bm25_topk_batch
    from neural_search_spark.session import get_spark
    from neural_search_spark.transcripts import generate_queries

    spark = get_spark(cpus=cpus, shuffle_partitions=max(cpus, 8),
                      app_name="qscale")
    idx = BM25Index(spark, IDX).cache()
    queries = generate_queries(N_QUERIES).to_dict("records")
    pairs = [(r["query_id"], r["query_text"]) for r in queries]
    # warm the cache (repartition materialization) + codegen, untimed
    bm25_topk_batch(idx, pairs[:5], k=10, mode="distributed").collect()
    best = float("inf")
    for _ in range(REPEATS):
        t0 = time.time()
        bm25_topk_batch(idx, pairs, k=10, mode="distributed").collect()
        best = min(best, time.time() - t0)
    print(json.dumps({"cpus": cpus, "best_sec": round(best, 3),
                      "qps": round(len(pairs) / best, 2)}))
    spark.stop()


def sweep(lo: int = 2, hi: int = 8, rounds: int = 3):
    results: dict[int, list[float]] = {lo: [], hi: []}
    for _ in range(rounds):
        for cpus in (lo, hi):
            r = subprocess.run(
                [sys.executable, __file__, "run", str(cpus)],
                capture_output=True, text=True,
            )
            line = [l for l in r.stdout.splitlines() if l.startswith("{")][-1]
            results[cpus].append(json.loads(line)["qps"])
    ql, qh = max(results[lo]), max(results[hi])
    print(json.dumps({
        f"qps_local{lo}": ql, f"qps_local{hi}": qh, "all": results,
        f"efficiency_{lo}_to_{hi}": round(qh / ql / (hi / lo), 3),
    }))


if __name__ == "__main__":
    if sys.argv[1] == "build":
        build()
    elif sys.argv[1] == "sweep":
        args = [int(x) for x in sys.argv[2:4]] or [2, 8]
        sweep(*args)
    else:
        run(int(sys.argv[2]))
