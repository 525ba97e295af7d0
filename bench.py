"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Headline workload (mirrors BASELINE.md's operative metrics):
  * index_build      — inverted-index build over a deterministic synthetic
                       transcripts corpus (~60k turns, BASELINE.json
                       input_hint schema) → turns/sec
  * bm25_queries     — the reference query set (40 queries, k=10) through
                       the block-max MaxScore engine → qps + p50/p99 ms
  * hybrid / dedup / ann / text queries over the sf tables

Scaling mode (the north rule's N→4N-executor criterion, evidenced at two
parallelism levels in this single-node sandbox):
  python bench.py --scaling   → runs the same workload at local[8] and
  local[32] in separate JVMs and reports throughput + efficiency.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_BENCH_QUERIES = int(os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "40"))
BENCH_CONVS = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "12000"))
SCALING_CONVS = int(os.environ.get("SPARK_GRAFT_SCALING_CONVS", "64000"))
SCALING_QUERIES = int(os.environ.get("SPARK_GRAFT_SCALING_QUERIES", "200"))


def _transcripts_path(n_convs: int) -> str:
    """Deterministic synthetic transcripts corpus (seed=42), cached; written
    as 64 part files so the scan parallelizes like a real table."""
    path = f"/tmp/nss_bench_transcripts_{n_convs}"
    if not os.path.exists(path):
        from neural_search_spark.transcripts import write_transcripts_parquet

        write_transcripts_parquet(path, n_convs=n_convs, seed=42, n_files=64)
    return path


# measured sweet spot for the 1M-turn build at 2 tasks/core: ~16k shuffled
# rows per reduce task. The synthetic corpus averages ~16 turns/conv.
_ROWS_PER_TASK = 16_000
_TURNS_PER_CONV = 16


def shuffle_partition_policy(cpus: int, est_rows: int) -> int:
    """INPUT-SIZE-AWARE shuffle-partition policy (round-4 fix).

    Round 3 applied 2 tasks/core at >16 cores unconditionally — measured
    on the 1M-turn scaling corpus (+11-15% there: straggler smoothing once
    tasks carry ≥~16k rows each) but it regressed every shuffle-bound line
    of the 190k-turn headline 20-70% (BENCH_r03 vs r02; paired runs in
    BENCH.md confirm sp=32 restores parity). Oversubscription only pays
    when the extra tasks still carry enough rows, so the policy now
    targets rows-per-task with a floor of 1 task/core and a cap of 2:

        sp = clamp(est_rows / 16k, cpus, 2*cpus)        (cpus > 8)

    At ≤8 cores 1 task/core always won (10.4k vs 9.6k turns/s at local[8]
    with 2×) — scheduler variance is too small to need smoothing there.
    """
    if cpus <= 8:
        return max(cpus, 8)
    return max(cpus, min(2 * cpus, est_rows // _ROWS_PER_TASK))


def noise_controls() -> dict:
    """Machine-speed probes (best-of-3 each) recorded IN the bench JSON so
    a round-over-round delta can be split into sandbox-speed vs code:
    BENCH_r03 shipped a 39% apparent regression that took paired reruns to
    adjudicate as ~half co-tenant noise. sha256 over a fixed 64 MiB buffer
    tracks single-core integer speed; a fixed 1024² float64 matmul tracks
    the BLAS/FP path the numpy kernels ride on."""
    import hashlib

    import numpy as np

    buf = b"\xab" * (64 << 20)
    sha, mm = [], []
    a = np.linspace(0.0, 1.0, 1024 * 1024, dtype=np.float64).reshape(1024, 1024)
    for _ in range(3):
        t0 = time.time()
        hashlib.sha256(buf).digest()
        sha.append(time.time() - t0)
        t0 = time.time()
        a @ a
        mm.append(time.time() - t0)
    return {
        "control_sha256_ms": round(1000 * min(sha), 1),
        "control_matmul_ms": round(1000 * min(mm), 1),
    }


def run_workload(cpus: int, mode: str = "full") -> dict:
    from pyspark.sql import functions as F

    from neural_search_spark import gate
    from neural_search_spark.index.build import IndexBuilder
    from neural_search_spark.query.bm25 import BM25Index, bm25_topk
    from neural_search_spark.session import get_spark
    from neural_search_spark.transcripts import generate_queries

    n_convs = SCALING_CONVS if mode == "scaling" else BENCH_CONVS
    # override for paired policy experiments (BENCH.md): 0/unset = policy
    sp = int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0")
    ) or shuffle_partition_policy(cpus, n_convs * _TURNS_PER_CONV)
    spark = get_spark(cpus=cpus, shuffle_partitions=sp, app_name="nss-bench")
    tpath = _transcripts_path(n_convs)
    tr = spark.read.parquet(tpath)
    n_turns = tr.count()

    out: dict = {"queries": {}, "shuffle_partitions": sp, **noise_controls()}
    q = out["queries"]

    # --- index build -------------------------------------------------------
    idx_dir = f"/tmp/nss_bench_index_{cpus}"
    t0 = time.time()
    # n_shards is a property of the DATA layout, not the cluster size — keep
    # it fixed so N- and 4N-core runs build the identical index
    info = IndexBuilder(spark, idx_dir, n_shards=32, block_size=4096).build(tr)
    build_s = time.time() - t0
    q["index_build"] = round(build_s, 3)
    out["n_turns"] = n_turns
    out["build_turns_per_sec"] = round(n_turns / build_s, 1)
    out["hot_terms_split"] = info["hot_terms_split"]

    # --- BM25 query batch (reference query set) ----------------------------
    # serving shape: hot posting blocks pinned in executor memory
    idx = BM25Index(spark, idx_dir).cache()
    n_q = SCALING_QUERIES if mode == "scaling" else N_BENCH_QUERIES
    queries = generate_queries(n_q).to_dict("records")
    for rec in queries[:2]:  # JVM/codegen warmup, untimed
        bm25_topk(idx, rec["query_text"], k=rec["k"]).collect()
    if mode == "full":
        lat = []
        t0 = time.time()
        for rec in queries:
            t1 = time.time()
            bm25_topk(idx, rec["query_text"], k=rec["k"]).collect()
            lat.append(time.time() - t1)
        total_q = time.time() - t0
        lat.sort()
        q["bm25_query_batch"] = round(total_q, 3)
        out["bm25_qps"] = round(len(lat) / total_q, 2)
        out["bm25_p50_ms"] = round(1000 * lat[len(lat) // 2], 1)
        out["bm25_p99_ms"] = round(1000 * lat[min(len(lat) - 1, int(len(lat) * 0.99))], 1)

    # batched form: all queries in ONE job (the cluster-throughput shape),
    # forced distributed: under mode="auto" a batch whose Σdf fits the
    # driver gate is scored on the driver and never measures the cluster
    from neural_search_spark.query.bm25 import bm25_topk_batch

    pairs = [(r["query_id"], r["query_text"]) for r in queries]
    if mode == "scaling":
        # the scaling efficiency divides two single measurements, so the
        # query axis gets the same best-of-N protocol the sweep applies
        # across rounds: warm the batch path once (untimed), then take the
        # best of 3 identical batch jobs — identically on both legs
        bm25_topk_batch(idx, pairs[:5], k=10, mode="distributed").collect()
        batch_s = float("inf")
        for _ in range(3):
            t0 = time.time()
            bm25_topk_batch(idx, pairs, k=10, mode="distributed").collect()
            batch_s = min(batch_s, time.time() - t0)
    else:
        t0 = time.time()
        bm25_topk_batch(idx, pairs, k=10, mode="distributed").collect()
        batch_s = time.time() - t0
    q["bm25_batched_all"] = round(batch_s, 3)
    out["bm25_batched_qps"] = round(len(pairs) / batch_s, 2)

    # --- sparse postings index: build + serve (reported separately so the
    # headline total stays comparable round-over-round) --------------------
    if mode == "full":
        from neural_search_spark.index.build import doc_id_col
        from neural_search_spark.index.sparse import (
            SparseIndex,
            SparseIndexBuilder,
            sparse_index_topk,
        )
        from neural_search_spark.processors import sparse_encode
        from neural_search_spark.query.neural import QuerySpec, rewrite

        tall = sparse_encode(
            tr.withColumn("doc_id", doc_id_col()), text_col="text"
        )
        sp_dir = f"/tmp/nss_bench_sparse_{cpus}"
        t0 = time.time()
        SparseIndexBuilder(spark, sp_dir, n_shards=32, block_size=4096).build(
            tall
        )
        sp_build = time.time() - t0
        sp_idx = SparseIndex(spark, sp_dir).cache()
        sp_queries = [
            rewrite(
                QuerySpec(query_type="neural_sparse", query_text=r["query_text"])
            ).query_tokens
            for r in queries[:20]
        ]
        sparse_index_topk(sp_idx, sp_queries[0], k=10).collect()  # warm
        t0 = time.time()
        for toks in sp_queries:
            sparse_index_topk(sp_idx, toks, k=10).collect()
        sp_serve = time.time() - t0
        out["sparse_index_build_sec"] = round(sp_build, 3)
        out["sparse_qps"] = round(len(sp_queries) / sp_serve, 2)

        # --- positions sidecar + match_phrase serving (separate fields,
        # NOT in the headline total, like the sparse-index lines) --------
        from neural_search_spark.index.positions import build_positions
        from neural_search_spark.query.phrase import phrase_topk
        from neural_search_spark.tokenizer import tokenize_py

        t0 = time.time()
        build_positions(spark, idx_dir, tr)
        out["positions_build_sec"] = round(time.time() - t0, 3)
        # deterministic real phrases: leading bigram of the first corpus
        # rows (guaranteed non-empty phrase freq in their own doc)
        phrases = []
        for r in tr.limit(16).collect():
            tk = tokenize_py(r["text"])
            if len(tk) >= 2:
                phrases.append(f"{tk[0]} {tk[1]}")
            if len(phrases) == 6:
                break
        # serving mode: positions pinned pre-partitioned by doc_shard →
        # the per-query distributed plan is exchange-free (broadcast
        # leading-term semi-join over the in-memory clustering)
        t0 = time.time()
        idx.cache_positions()
        out["positions_cache_sec"] = round(time.time() - t0, 3)
        phrase_topk(idx, phrases[0], k=10, mode="distributed").collect()
        t0 = time.time()
        for p in phrases:
            phrase_topk(idx, p, k=10, mode="distributed").collect()
        out["phrase_qps_distributed"] = round(
            len(phrases) / (time.time() - t0), 2
        )
        phrase_topk(idx, phrases[0], k=10, mode="driver").collect()
        t0 = time.time()
        for p in phrases:
            phrase_topk(idx, p, k=10, mode="driver").collect()
        out["phrase_qps_driver"] = round(len(phrases) / (time.time() - t0), 2)
        # batched serving: all phrases in ONE positions pass — the scan /
        # Arrow / scheduling overhead that dominates a single distributed
        # phrase amortizes across the batch (msearch cluster shape)
        from neural_search_spark.query.phrase import phrase_topk_batch

        pairs = [(f"q{i}", p) for i, p in enumerate(phrases)]
        phrase_topk_batch(idx, pairs, k=10).collect()
        t0 = time.time()
        phrase_topk_batch(idx, pairs, k=10).collect()
        out["phrase_qps_batch"] = round(len(phrases) / (time.time() - t0), 2)

        # span + intervals serving (round-5 fields, outside the
        # headline): the same six bigrams as loosened positional
        # queries — span_near slop 2 and ordered intervals max_gaps 2 —
        # through the driver kernel (auto-selected fast path) plus one
        # distributed sample each (the per-query worst case; batch
        # semantics match phrase_qps_distributed)
        from neural_search_spark.query.intervals import intervals_topk
        from neural_search_spark.query.spans import (
            SpanNear,
            SpanTerm,
            span_topk,
        )

        span_qs = [
            SpanNear(tuple(SpanTerm(t) for t in p.split()), slop=2)
            for p in phrases
        ]
        span_topk(idx, span_qs[0], k=10, mode="driver").collect()
        t0 = time.time()
        for sq in span_qs:
            span_topk(idx, sq, k=10, mode="driver").collect()
        out["span_qps_driver"] = round(len(span_qs) / (time.time() - t0), 2)
        t0 = time.time()
        span_topk(idx, span_qs[0], k=10, mode="distributed").collect()
        out["span_distributed_sec"] = round(time.time() - t0, 3)
        iv_qs = [
            {"match": {"query": p, "ordered": True, "max_gaps": 2}}
            for p in phrases
        ]
        intervals_topk(idx, iv_qs[0], k=10, mode="driver").collect()
        t0 = time.time()
        for ivq in iv_qs:
            intervals_topk(idx, ivq, k=10, mode="driver").collect()
        out["intervals_qps_driver"] = round(
            len(iv_qs) / (time.time() - t0), 2
        )
        t0 = time.time()
        intervals_topk(idx, iv_qs[0], k=10, mode="distributed").collect()
        out["intervals_distributed_sec"] = round(time.time() - t0, 3)
        # batched span/intervals serving: all six of each in ONE
        # positions pass (span_topk_batch; intervals ride the adapter)
        from neural_search_spark.query.intervals import (
            intervals_topk_batch,
        )
        from neural_search_spark.query.spans import span_topk_batch

        t0 = time.time()
        span_topk_batch(
            idx, [(f"s{i}", sq) for i, sq in enumerate(span_qs)], k=10
        ).collect()
        out["span_qps_batch"] = round(
            len(span_qs) / (time.time() - t0), 2
        )
        t0 = time.time()
        intervals_topk_batch(
            idx, [(f"i{i}", ivq) for i, ivq in enumerate(iv_qs)], k=10
        ).collect()
        out["intervals_qps_batch"] = round(
            len(iv_qs) / (time.time() - t0), 2
        )

        # fuzzy match serving (round-4 field, outside the headline):
        # 1-edit typos of the phrase bigrams' leading words — dictionary
        # expansion + the weighted BM25 driver kernel per query
        from neural_search_spark.query.fuzzy import fuzzy_match_topk

        typos = [p.split()[0][:-1] + "x" for p in phrases]
        fuzzy_match_topk(idx, typos[0], k=10, fuzziness=1).collect()
        t0 = time.time()
        for tq in typos:
            fuzzy_match_topk(idx, tq, k=10, fuzziness=1).collect()
        out["fuzzy_qps"] = round(len(typos) / (time.time() - t0), 2)

        # index-backed multi_match (round-5 field, outside the headline):
        # a second per-field index over the tool column, then most_fields
        # queries mixing text terms with tool values — driver combine vs
        # the forced-distributed shard-keyed multi_match kernel
        from neural_search_spark.query.multimatch import (
            multi_match_index_topk,
        )

        tool_dir = f"/tmp/nss_bench_tool_index_{cpus}"
        t0 = time.time()
        IndexBuilder(spark, tool_dir, n_shards=32, block_size=4096).build(
            tr.select("conv_id", "turn_idx", F.col("tool").alias("text"))
        )
        out["multimatch_tool_index_build_sec"] = round(time.time() - t0, 3)
        fidx = {"text": idx, "tool": BM25Index(spark, tool_dir)}
        mm_qs = [
            f"{p.split()[0]} search" for p in phrases
        ]  # real text term + a real tool value per query
        for mm_mode, field in (
            ("driver", "multimatch_qps_driver"),
            ("distributed", "multimatch_qps_distributed"),
        ):
            multi_match_index_topk(
                fidx, mm_qs[0], ["text", "tool^2.0"],
                match_type="most_fields", k=10, mode=mm_mode,
            ).collect()  # warm
            t0 = time.time()
            for mq in mm_qs:
                multi_match_index_topk(
                    fidx, mq, ["text", "tool^2.0"],
                    match_type="most_fields", k=10, mode=mm_mode,
                ).collect()
            out[field] = round(len(mm_qs) / (time.time() - t0), 2)
        # batched form: the whole set through the same kernel in ONE job
        from neural_search_spark.query.multimatch import (
            multi_match_topk_batch,
        )

        mm_pairs = [(f"q{i}", mq) for i, mq in enumerate(mm_qs)]
        multi_match_topk_batch(
            fidx, mm_pairs, ["text", "tool^2.0"],
            match_type="most_fields", k=10,
        ).collect()  # warm
        t0 = time.time()
        multi_match_topk_batch(
            fidx, mm_pairs, ["text", "tool^2.0"],
            match_type="most_fields", k=10,
        ).collect()
        out["multimatch_qps_batch"] = round(
            len(mm_pairs) / (time.time() - t0), 2
        )

        # completion suggester (round-5c, outside the headline): build
        # the entries + prefix-tops sidecars from the turns' first-4-token
        # phrases, then serve the short-prefix point-read path and the
        # fuzzy walk — both pure pyarrow, no Spark job per call
        from neural_search_spark.index.completion import (
            CompletionIndex,
            CompletionIndexBuilder,
        )
        from neural_search_spark.tokenizer import tokenize_expr

        comp_dir = f"/tmp/nss_bench_comp_{cpus}"
        t0 = time.time()
        CompletionIndexBuilder(
            spark, comp_dir, prefix_depth=3, prefix_top=50, n_files=8
        ).build(
            tr.select(
                F.xxhash64("conv_id", "turn_idx").alias("doc_id"),
                F.array_join(
                    F.slice(tokenize_expr("text"), 1, 4), " "
                ).alias("inp"),
                F.length("text").alias("w"),
            ).filter(F.col("inp") != ""),
            input_col="inp",
            weight_col="w",
        )
        out["completion_build_sec"] = round(time.time() - t0, 3)
        cidx = CompletionIndex(spark, comp_dir)
        pfx = [p.split()[0][:2] for p in phrases] + ["th", "mo", "da"]
        cidx.complete(pfx[0], 10)  # warm the dataset handles
        t0 = time.time()
        for pq_ in pfx:
            cidx.complete(pq_, 10)
        out["completion_qps"] = round(len(pfx) / (time.time() - t0), 2)
        fz = [p.split()[0][:-1] + "x" for p in phrases]
        cidx.complete(fz[0], 10, fuzzy={})  # warm the seed bucket cache
        t0 = time.time()
        for pq_ in fz:
            cidx.complete(pq_, 10, fuzzy={})
        out["completion_fuzzy_qps"] = round(
            len(fz) / (time.time() - t0), 2
        )

        # search_as_you_type (round-5c): 2gram/3gram shingle subfield
        # index builds via the pre-analyzed tokens_col path, then the
        # canonical bool_prefix dis-max across root + subfields
        from neural_search_spark.query.sayt import (
            build_sayt_indexes,
            search_as_you_type_topk,
        )

        # one persisted tokenize feeds both subfield builds, and the two
        # builds run CONCURRENTLY (each field's driver-side phases overlap
        # the other's executor-bound stages) — see build_sayt_indexes
        t0 = time.time()
        sayt_idx = build_sayt_indexes(
            spark, f"/tmp/nss_bench_sayt_{cpus}", tr, grams=(2, 3),
            n_shards=32, block_size=4096,
        )
        sayt_idx[1] = idx
        out["sayt_gram_build_sec"] = round(time.time() - t0, 3)
        sayt_qs = [" ".join(p.split()[:2])[:-2] for p in phrases]
        search_as_you_type_topk(sayt_idx, sayt_qs[0], k=10).collect()
        t0 = time.time()
        for sq_ in sayt_qs:
            search_as_you_type_topk(sayt_idx, sq_, k=10).collect()
        out["sayt_qps"] = round(len(sayt_qs) / (time.time() - t0), 2)
        # batched SAYT: the whole keystroke batch in one job per subfield
        # (shared decode cache) — the autocomplete msearch shape
        from neural_search_spark.query.sayt import search_as_you_type_batch

        sayt_batch_qs = list(enumerate(sayt_qs))
        sayt_batch_qs = [(f"q{i}", s) for i, s in sayt_batch_qs]
        search_as_you_type_batch(sayt_idx, sayt_batch_qs, k=10).collect()
        t0 = time.time()
        search_as_you_type_batch(sayt_idx, sayt_batch_qs, k=10).collect()
        out["sayt_qps_batch"] = round(
            len(sayt_batch_qs) / (time.time() - t0), 2
        )

    # --- sf-table operator queries ----------------------------------------
    extra_ops = [] if mode == "scaling" else [
        ("hybrid_minmax_arith", gate.q_hybrid_minmax_arith),
        ("minhash_lsh_pairs", gate.q_minhash_lsh_pairs),
        ("simhash", gate.q_simhash),
        ("cosine_topk", gate.q_cosine_topk),
        ("lsh_ann_topk", gate.q_lsh_ann_topk),
        ("quality", gate.q_quality),
        ("events_rollup", gate.q_events_rollup),
    ]
    for name, fn in extra_ops:
        t1 = time.time()
        fn(spark, SF_DIR).collect()
        q[name] = round(time.time() - t1, 3)

    if mode == "full":
        # end-to-end curation funnel over the documents table (one corpus
        # pass + one fingerprint shuffle): docs/sec through ALL gates —
        # reported as a separate field, like the other round-N measures
        from neural_search_spark.extras.curate import (
            CurateConfig,
            annotate,
            funnel,
        )

        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        cfg = CurateConfig(sample_rate=0.5, redact_pii=True)
        funnel(annotate(docs, cfg)).collect()  # warm
        t1 = time.time()
        rep = funnel(annotate(docs, cfg)).collect()[0]
        dt = time.time() - t1
        out["curate_docs_per_sec"] = round(rep["n_input"] / dt, 1)
        out["curate_kept_frac"] = round(rep["n_kept"] / rep["n_input"], 4)

    if mode == "full":
        # round-3 measures — reported as separate fields (NOT inside the
        # headline `queries` total) so the headline stays round-over-round
        # comparable, like the sparse-index lines.

        # hybrid over the SERVING block index — the flagship plan (depth-
        # bounded bm25_topk branches → numpy normalize → combine)
        from neural_search_spark.query.hybrid import hybrid_topk

        qa, qb = queries[0]["query_text"], queries[1]["query_text"]
        t1 = time.time()
        hybrid_topk(
            [
                bm25_topk(idx, qa, k=50).drop("rank"),
                bm25_topk(idx, qb, k=50).drop("rank"),
            ],
            k=10,
        ).collect()
        out["hybrid_index_sec"] = round(time.time() - t1, 3)

        # Engine ANN route: serving cost tracks the probed LSH buckets,
        # not corpus rows (sf0.1 embeddings table)
        t1 = time.time()
        gate.q_engine_ann_topk(spark, SF_DIR).collect()
        out["engine_ann_topk_sec"] = round(time.time() - t1, 3)

        # search-time aggregations (round-5 field, outside the headline):
        # the full hybrid-scoped 16-variant agg matrix — terms+metrics /
        # histogram+cumulative_sum / range / extended_stats (+bucket) /
        # percentiles / significant_terms / significant_text / composite
        # page / multi_terms / rare_terms / weighted_avg / top_metrics /
        # boxplot / MAD / string_stats — over the sf documents table
        t1 = time.time()
        gate.q_hybrid_agg(spark, SF_DIR).collect()
        out["aggs_matrix_sec"] = round(time.time() - t1, 3)

        # on-disk bucket-partitioned LSH store: build once, then probe
        # queries read ONLY their probed partitions (PartitionFilters) —
        # reported outside the headline total like the sparse index
        from neural_search_spark.extras.similarity import (
            LshAnnIndex,
            brute_force_topk,
            ivf_assign,
            ivf_topk,
        )

        emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))

        # recall probe set: 4 corpus vectors + their EXACT cosine top-10.
        # Every approximate tier below reports recall@10 against these —
        # the tier-choice guidance in BENCH.md is evidence-backed, like the
        # reference k-NN plugin's published recall/latency tradeoffs.
        qrows = emb.orderBy("vec_id").limit(4).collect()
        qvecs = {
            int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in qrows
        }
        exact_ids = {
            qid: {r["vec_id"] for r in brute_force_topk(emb, v, k=10).collect()}
            for qid, v in qvecs.items()
        }

        def _recall(topk_ids_by_q: dict[int, set]) -> float:
            return round(
                sum(
                    len(ids & exact_ids[qid]) / 10.0
                    for qid, ids in topk_ids_by_q.items()
                )
                / len(topk_ids_by_q),
                3,
            )

        recall: dict[str, float] = {}
        out["recall_at_10"] = recall

        store = "/tmp/nss_bench_lsh_store"
        t1 = time.time()
        LshAnnIndex.write(emb, store, n_planes=8)
        out["ann_store_build_sec"] = round(time.time() - t1, 3)
        disk = LshAnnIndex.load(spark, store, probe_hamming=1)
        qv = qvecs[min(qvecs)]
        disk.topk(qv, k=10).collect()  # warm (codegen)
        t1 = time.time()
        disk.topk(qv, k=10).collect()
        out["ann_disk_query_sec"] = round(time.time() - t1, 3)
        # cheap default AND a tuned config per tier — the synthetic
        # embeddings are uniform random (no cluster structure), which is
        # the worst case for locality pruning, so these are recall FLOORS
        disk2 = LshAnnIndex.load(spark, store, probe_hamming=2)
        for tag, d in (("lsh_probe1", disk), ("lsh_probe2", disk2)):
            recall[tag] = _recall(
                {
                    qid: {r["vec_id"] for r in d.topk(v, k=10).collect()}
                    for qid, v in qvecs.items()
                }
            )

        # IVF-flat recall at the gate default (nprobe 4) and tuned (8)
        assigned, cents = ivf_assign(emb, n_lists=16)
        for tag, nprobe in (("ivf_nprobe4", 4), ("ivf_nprobe8", 8)):
            recall[tag] = _recall(
                {
                    qid: {
                        r["vec_id"]
                        for r in ivf_topk(
                            assigned, cents, v, k=10, nprobe=nprobe
                        ).collect()
                    }
                    for qid, v in qvecs.items()
                }
            )

        # filtered-ANN ('efficient filtering') recall: the Engine's
        # over-fetch + semi-join route (forced past the exact threshold)
        # vs the exact FILTERED scan, doc_id%2 filter, same probe set.
        # The exact backstop can only raise this (an under-filled page
        # falls back to exact), so it measures the shipped system's
        # recall, not just the raw over-fetch's.
        from neural_search_spark.engine import Engine
        from neural_search_spark.extras.similarity import cosine_expr
        from neural_search_spark.query.neural import QuerySpec

        corpus_f = emb.select(F.col("vec_id").alias("doc_id"), "embedding")
        engf = Engine(spark, corpus=corpus_f, ann_index=disk2)
        engf.ann_filtered_exact_threshold = 0  # always take the ANN route
        hits = 0
        for qid, v in qvecs.items():
            spec = QuerySpec(
                query_type="neural_knn", field="embedding", vector=v,
                filter=F.col("doc_id") % 2 == 0,
            )
            got = {r["doc_id"] for r in engf.search(spec, k=10).collect()}
            qcol = F.array(*[F.lit(float(x)).cast("float") for x in v])
            want = {
                r["doc_id"]
                for r in corpus_f.filter(F.col("doc_id") % 2 == 0)
                .select(
                    "doc_id",
                    cosine_expr(F.col("embedding"), qcol).alias("c"),
                )
                .orderBy(F.desc("c"), F.asc("doc_id"))
                .limit(10)
                .collect()
            }
            hits += len(got & want)
        recall["filtered_overfetch"] = round(hits / (10.0 * len(qvecs)), 3)

        # per-partition HNSW graphs (the Lucene-segment model): build is
        # one applyInPandas task per graph; the 8-query batch amortizes
        # the graph scan the way the segment searcher amortizes it
        from neural_search_spark.extras.hnsw import build_graphs, hnsw_topk_batch

        t1 = time.time()
        g = build_graphs(emb, n_graphs=8, M=16, ef_construction=64).persist()
        g.count()
        out["hnsw_build_sec"] = round(time.time() - t1, 3)
        qbatch = {
            str(r["vec_id"]): [float(x) for x in r["embedding"]]
            for r in emb.limit(8).collect()
        }
        hnsw_topk_batch(g, dict(list(qbatch.items())[:1]), k=10).collect()  # warm
        t1 = time.time()
        hnsw_topk_batch(g, qbatch, k=10, ef_search=64).collect()
        out["hnsw_batch8_sec"] = round(time.time() - t1, 3)
        hrows = hnsw_topk_batch(
            g, {str(qid): v for qid, v in qvecs.items()}, k=10, ef_search=64
        ).collect()
        hids: dict[int, set] = {qid: set() for qid in qvecs}
        for r in hrows:
            hids[int(r["query_id"])].add(r["vec_id"])
        recall["hnsw_ef64"] = _recall(hids)
        g.unpersist()

        # PQ tier: train + encode once (the ~21× compressed serving table),
        # then an ADC+refine query — the memory-bound path whose scan cost
        # tracks 8-byte codes, not raw vectors
        from neural_search_spark.extras import pq as pqmod

        t1 = time.time()
        books = pqmod.train_codebooks(emb, m=8, ksub=64, n_sample=512, n_iter=10)
        pcodes = pqmod.pq_encode(emb, books).persist()
        pcodes.count()
        out["pq_encode_sec"] = round(time.time() - t1, 3)
        pqmod.pq_topk(pcodes, books, qv, k=10, refine=50, emb=emb).collect()  # warm
        t1 = time.time()
        pqmod.pq_topk(pcodes, books, qv, k=10, refine=50, emb=emb).collect()
        out["pq_query_sec"] = round(time.time() - t1, 3)
        for tag, rf in (
            ("pq_refine0", None),
            ("pq_refine50", 50),
            ("pq_refine200", 200),
        ):
            recall[tag] = _recall(
                {
                    qid: {
                        r["vec_id"]
                        for r in pqmod.pq_topk(
                            pcodes, books, v, k=10, refine=rf, emb=emb
                        ).collect()
                    }
                    for qid, v in qvecs.items()
                }
            )
        pcodes.unpersist()

        # --- hot-term split demo: the salt plan firing on REAL skew ------
        # The north rule names hot-term splitting; at headline scale the
        # production threshold (target·n_shards postings) never trips, so
        # this demo lowers the per-task target over a 3k-conv corpus until
        # real terms split, then asserts rank identity vs the unsalted
        # build (salting relocates postings; scores must not move).
        demo_tr = spark.read.parquet(_transcripts_path(3000))
        base = IndexBuilder(
            spark, "/tmp/nss_bench_hot_base", n_shards=8, block_size=1024
        ).build(demo_tr)
        t1 = time.time()
        info_s = IndexBuilder(
            spark,
            "/tmp/nss_bench_hot_salted",
            n_shards=8,
            block_size=1024,
            target_postings_per_task=400,
        ).build(demo_tr)
        out["hot_split_build_sec"] = round(time.time() - t1, 3)
        out["hot_terms_split_demo"] = info_s["hot_terms_split"]
        bidx = BM25Index(spark, "/tmp/nss_bench_hot_base")
        sidx = BM25Index(spark, "/tmp/nss_bench_hot_salted")
        identical = True
        for rec in queries[:5]:
            a = [
                (r["doc_id"], r["rank"])
                for r in bm25_topk(bidx, rec["query_text"], k=10).collect()
            ]
            b = [
                (r["doc_id"], r["rank"])
                for r in bm25_topk(sidx, rec["query_text"], k=10).collect()
            ]
            identical = identical and a == b
        out["hot_split_rank_identical"] = identical
        assert base["hot_terms_split"] == 0  # the demo contrast is real

        # --- segment merge: two disjoint half-builds recombined WITHOUT
        # re-tokenizing; must be rank-identical to the full build above
        from neural_search_spark.index.build import doc_id_col
        from neural_search_spark.index.merge import merge_indexes

        half = F.pmod(doc_id_col(), F.lit(2))
        for i in (0, 1):
            IndexBuilder(
                spark, f"/tmp/nss_bench_half{i}", n_shards=8, block_size=1024
            ).build(demo_tr.filter(half == i))
        t1 = time.time()
        merge_indexes(
            spark,
            ["/tmp/nss_bench_half0", "/tmp/nss_bench_half1"],
            "/tmp/nss_bench_merged",
        )
        out["index_merge_sec"] = round(time.time() - t1, 3)
        midx = BM25Index(spark, "/tmp/nss_bench_merged")
        m_ident = True
        for rec in queries[:3]:
            a = [
                (r["doc_id"], r["rank"])
                for r in bm25_topk(bidx, rec["query_text"], k=10).collect()
            ]
            b = [
                (r["doc_id"], r["rank"])
                for r in bm25_topk(midx, rec["query_text"], k=10).collect()
            ]
            m_ident = m_ident and a == b
        out["merge_rank_identical"] = m_ident

    if mode == "scaling":
        # control: the DRIVER serving path (pyarrow pruned read + numpy
        # kernel, zero Spark jobs) is single-threaded by design — its qps
        # should be ~flat across core counts, isolating any sub-par 8→32
        # number to the coordinator kernel rather than the distributed path
        drv = queries[: min(50, len(queries))]
        for rec in drv[:2]:
            bm25_topk(idx, rec["query_text"], k=10, mode="driver").collect()
        t0 = time.time()
        for rec in drv:
            bm25_topk(idx, rec["query_text"], k=10, mode="driver").collect()
        out["bm25_driver_qps"] = round(len(drv) / (time.time() - t0), 2)

    out["total_sec"] = round(sum(q.values()), 3)
    spark.stop()
    return out


def main():
    if "--scaling" in sys.argv:
        # run the identical workload at two parallelism levels, fresh JVMs
        lo, hi = (
            int(x)
            for x in os.environ.get("SPARK_GRAFT_SCALING_LEVELS", "8,32").split(",")
        )
        results = {}
        for cpus in (lo, hi):
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
            env["SPARK_GRAFT_BENCH_MODE"] = "scaling"
            r = subprocess.run(
                [sys.executable, __file__, "--single"],
                env=env, capture_output=True, text=True,
            )
            line = [ln for ln in r.stdout.splitlines() if ln.startswith("{")][-1]
            results[cpus] = json.loads(line)
        ratio = hi / lo
        tl, th = results[lo]["value"], results[hi]["value"]
        bl, bh = results[lo]["build_turns_per_sec"], results[hi]["build_turns_per_sec"]
        ql, qh = results[lo]["bm25_batched_qps"], results[hi]["bm25_batched_qps"]
        eff = {
            # throughput scaling efficiency from N to (hi/lo)·N cores:
            # (rate_hi / rate_lo) / (hi/lo)
            "build": round(bh / bl / ratio, 3),
            "query": round(qh / ql / ratio, 3),
            "total": round(tl / th / ratio, 3),
        }
        print(
            json.dumps(
                {
                    f"local{lo}": results[lo],
                    f"local{hi}": results[hi],
                    "efficiency": eff,
                }
            )
        )
        return

    out = run_workload(CPUS, os.environ.get("SPARK_GRAFT_BENCH_MODE", "full"))
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    print(
        json.dumps(
            {
                "metric": "headline workload wall-clock (index build + 40-query "
                "BM25 batch + hybrid/dedup/ann/text operators)",
                "value": out.pop("total_sec"),
                "unit": "sec",
                "queries": out.pop("queries"),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                **out,
            }
        )
    )


if __name__ == "__main__":
    if "--single" in sys.argv:
        sys.argv.remove("--single")
    main()
