"""Physical-plan audit: prints `.explain("formatted")` for the engine's
key plans and greps the properties that matter at 100 TB — partition
pruning, predicate pushdown, broadcast joins, whole-stage codegen spans.

Usage: python scripts/explain_audit.py [sf_dir]   (writes PLANS.md)
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CHECKS = {
    "PartitionFilters": "partition pruning reaches the scan",
    "PushedFilters": "predicate pushdown reaches parquet row groups",
    "BroadcastHashJoin": "small side broadcast, no shuffle join",
    "codegen id": "whole-stage codegen spans fused",
}


def cap(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from neural_search_spark import gate
    from neural_search_spark.index.build import IndexBuilder
    from neural_search_spark.query.bm25 import BM25Index
    from neural_search_spark.session import get_spark

    spark = get_spark(cpus=8, shuffle_partitions=8, app_name="explain-audit",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})

    idx_dir = "/tmp/nss_audit_index"
    IndexBuilder(spark, idx_dir, n_shards=8, block_size=256).build(
        gate.derived_transcripts(spark, sf)
    )
    idx = BM25Index(spark, idx_dir)

    from neural_search_spark.index.sparse import SparseIndex

    sp_idx = SparseIndex(spark, gate._gate_sparse_index(spark, sf))

    plans = {
        "postings scan (query-term partition pruning + tid pushdown)":
            idx.postings_for(["spark", "join"]),
        "sparse postings scan (token-bucket pruning + tid pushdown)":
            sp_idx.postings_for(["spark", "join"]),
        "BM25 join scorer (broadcast query terms + dfreq)":
            gate.bm25_scored(gate._docs(spark, sf), ["doc_id"], gate.QUERY_A),
        "hybrid min_max + arithmetic (one fusion call over the persisted tall)":
            gate.q_hybrid_minmax_arith(spark, sf),
        "hybrid over the block index (bounded branches)":
            gate.q_hybrid_index_minmax(spark, sf),
        "MinHash LSH candidate pairs (bucket-keyed self-join)":
            gate.q_minhash_lsh_pairs(spark, sf),
        "embedding near-dups (LSH region-keyed join, no cross join)":
            gate.q_embedding_near_dups(spark, sf),
        "cosine top-k (TakeOrderedAndProject)":
            gate.q_cosine_topk(spark, sf),
        "hybrid rrf (one fusion call over the persisted tall)":
            gate.q_hybrid_rrf(spark, sf),
        "hybrid post_filter (semi-join between scoring and depth bound)":
            gate.q_hybrid_post_filter(spark, sf),
        "rescore window (TakeOrdered window + broadcast combine join)":
            gate.q_rescore_window(spark, sf),
        "inner hits (broadcast parents into child table)":
            gate.q_inner_hits(spark, sf),
        "engine ANN route (bucket filter ahead of scoring)":
            gate.q_engine_ann_topk(spark, sf),
    }
    # the build's posting stream must plan ZERO Exchange nodes (row-local
    # Arrow tf kernel): the salted repartition-by-term is the build's only
    # full-data shuffle — same for the positions sidecar stream
    from neural_search_spark.index.build import (
        postings_from_tokens,
        tokenized_turns,
    )
    from neural_search_spark.index.positions import positions_table

    tr_audit = gate.derived_transcripts(spark, sf)
    plans["posting stream (row-local Arrow tf kernel — MUST show zero Exchange)"] = (
        postings_from_tokens(tokenized_turns(tr_audit))
    )
    plans["positions stream (row-local kernel — MUST show zero Exchange)"] = (
        positions_table(tr_audit)
    )
    # on-disk LSH store: the probe scan must be PARTITION-pruned
    from neural_search_spark.extras.similarity import LshAnnIndex

    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    LshAnnIndex.write(emb, "/tmp/nss_audit_lsh", n_planes=8)
    disk = LshAnnIndex.load(spark, "/tmp/nss_audit_lsh", probe_hamming=1)
    qv = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    plans["on-disk LSH ANN probe (bucket partition pruning)"] = disk.topk(
        qv, k=10
    )
    # PQ serving: candidate generation must be TakeOrdered (never a full
    # sort) and the exact refine must broadcast the <=refine candidate side
    from neural_search_spark.extras import pq as pqmod

    books = pqmod.train_codebooks(emb, m=8, ksub=64, n_sample=512, n_iter=10)
    pq_plan = pqmod.pq_topk(
        pqmod.pq_encode(emb, books), books, qv, k=10, refine=50, emb=emb
    )
    # segment merge: block decode must stay map-side (MapInPandas straight
    # off the scan), the hot-plan join broadcast, and the whole rebuild
    # ride ONE hash shuffle — the (tid, shard, salt) regroup
    from neural_search_spark.index import merge as mergemod
    from neural_search_spark.index.build import _range_salt, build_blocks_jvm

    src_blocks = spark.read.parquet(os.path.join(idx_dir, "postings")).select(
        "tid", "shard_id", "docs", "tfs", "dls"
    )
    from pyspark.sql import functions as F  # noqa: F811 (local alias)

    hot_plan = (
        spark.read.parquet(os.path.join(idx_dir, "terms"))
        .filter(F.col("df") > 500)
        .select("tid", F.lit(2).alias("n_salts"))
    )
    m_salted = (
        mergemod.decoded_postings(src_blocks)
        .join(F.broadcast(hot_plan), "tid", "left")
        .withColumn("n_salts", F.coalesce("n_salts", F.lit(1)))
        .withColumn("salt", _range_salt(F.col("doc_id"), F.col("n_salts")))
    )
    m_plan = build_blocks_jvm(m_salted, 100.0, 1.2, 0.75, 256)
    plans["segment merge (map-side block decode → one salted shuffle → JVM rebuild)"] = m_plan
    m_text = cap(m_plan)
    assert m_text.count("hashpartitioning") == 1, (
        "merge plans more than the single (tid,shard,salt) shuffle"
    )
    assert "BroadcastHashJoin" in m_text, "merge hot-plan join not broadcast"
    assert "CartesianProduct" not in m_text
    print("segment merge: one shuffle, broadcast salt plan — ok")

    # phrase serving: the positions-sidecar scan must prune to the query
    # terms' buckets (PartitionFilters) and push the tid predicate; the
    # corpus-scan fallback must stay equi-join (never cartesian)
    from neural_search_spark.index.positions import build_positions
    from neural_search_spark.query.phrase import (
        phrase_scored_scan,
        phrase_topk,
    )

    build_positions(spark, idx_dir, gate.derived_transcripts(spark, sf))
    ph_plan = phrase_topk(idx, gate.PHRASE_Q, k=10, mode="distributed")
    plans[
        "match_phrase distributed (positions bucket pruning, leading-term semi-join)"
    ] = ph_plan
    ph_text = cap(ph_plan)
    assert "PartitionFilters" in ph_text, (
        "phrase positions scan not partition-pruned on term_bucket"
    )
    assert "LeftSemi" in ph_text, "phrase leading-term bound not a semi-join"
    scan_plan = phrase_scored_scan(
        gate.derived_transcripts(spark, sf).withColumn(
            "doc_id", F.monotonically_increasing_id()
        ),
        gate.PHRASE_Q,
    )
    plans["match_phrase corpus scan (positional equi-join chain)"] = scan_plan
    scan_text = cap(scan_plan)
    assert "CartesianProduct" not in scan_text
    assert "BroadcastNestedLoop" not in scan_text
    print("phrase plans: bucket-pruned sidecar probe, equi-join scan — ok")

    # spans / intervals ride the same sidecar kernels: the distributed
    # route must keep the bucket-pruned scan, and below the local top-k
    # the only exchange is the shards·k merge (no per-posting shuffle)
    from neural_search_spark.query.intervals import intervals_topk
    from neural_search_spark.query.spans import SpanNear, SpanTerm, span_topk

    sp_plan = span_topk(
        idx,
        SpanNear((SpanTerm("merge"), SpanTerm("data")), slop=2),
        k=10,
        mode="distributed",
    )
    plans["span_near distributed (sidecar kernels, shard-local top-k)"] = sp_plan
    sp_text = cap(sp_plan)
    assert "PartitionFilters" in sp_text, "span positions scan not pruned"
    assert "CartesianProduct" not in sp_text
    iv_plan = intervals_topk(
        idx,
        {"match": {"query": gate.PHRASE_Q, "ordered": True}},
        k=10,
        mode="distributed",
    )
    plans["intervals distributed (adapter over the span kernels)"] = iv_plan
    iv_text = cap(iv_plan)
    assert "PartitionFilters" in iv_text, "intervals scan not pruned"
    assert "CartesianProduct" not in iv_text
    # batched distributed route: the whole batch answers from ONE pruned
    # scan — exactly one Arrow kernel (FlatMapGroupsInPandas) and no join
    # of any kind; the only exchanges are the doc_shard group and the
    # query_id rank window. Forced: a batch this small takes the driver
    # route (a local page, no plan to audit) under mode="auto"
    from neural_search_spark.query.spans import span_topk_batch

    batch_plan = span_topk_batch(
        idx,
        [
            ("a", SpanNear((SpanTerm("merge"), SpanTerm("data")), slop=2)),
            ("b", SpanNear((SpanTerm("tool"), SpanTerm("call")), slop=1)),
        ],
        k=10,
        mode="distributed",
    )
    plans["span batch (one positions pass per msearch batch)"] = batch_plan
    bt_text = cap(batch_plan)
    assert "PartitionFilters" in bt_text, "span batch scan not pruned"
    # formatted mode prints each node twice (tree + detail): count the
    # tree lines, "FlatMapGroupsInPandas (<id>)"
    assert bt_text.count("FlatMapGroupsInPandas (") == 1, (
        "span batch must run ONE shared Arrow kernel"
    )
    assert "Join" not in bt_text, "span batch must not join"
    print(
        "span/intervals plans: pruned sidecar scans, local top-k, "
        "one-pass batch — ok"
    )

    # bool / multi_match composition: one doc-keyed aggregation decides
    # required/optional counts and the combine — never a cartesian join,
    # and gates ride hash anti-/semi-joins
    bool_plan = gate.q_bool_topk(spark, sf)
    plans["bool query (tall clause union → one count/sum aggregation)"] = bool_plan
    b_text = cap(bool_plan)
    assert "CartesianProduct" not in b_text
    assert "BroadcastNestedLoop" not in b_text
    assert "LeftAnti" in b_text, "bool must_not gate not an anti-join"
    mm_plan = gate.q_multi_match(spark, sf)
    plans["multi_match (per-field scans → one max/sum aggregation)"] = mm_plan
    mm_text = cap(mm_plan)
    assert "CartesianProduct" not in mm_text
    print("bool/multi_match plans: single-aggregation combine, join gates — ok")

    # index-backed multi_match: every type runs ONE kernel — the
    # shard-keyed batch kernel with one spec. Its plan is one grouped
    # Arrow stage over the unioned per-field postings: no join, and below
    # the per-query window the only exchanges are the window's own
    # query_id input and the shard regroup under the kernel
    from neural_search_spark.query.multimatch import multi_match_index_topk

    fidx = {
        "text": idx,
        "tool": BM25Index(spark, gate._gate_tool_index(spark, sf)),
    }
    for mt, tb in (
        ("best_fields", 0.0), ("most_fields", 0.0), ("cross_fields", 0.3)
    ):
        mmx = multi_match_index_topk(
            fidx, "merge src1 src2", ["text", "tool^2.0"],
            match_type=mt, tie_breaker=tb, k=10, mode="distributed",
        )
        plans[f"multi_match index-served {mt} (shard-keyed kernel)"] = mmx
        mm_tree = cap(mmx).split("\n\n")[0]
        assert "FlatMapGroupsInPandas" in mm_tree, (
            f"multi_match {mt} should run the shard-keyed kernel"
        )
        assert "Join" not in mm_tree and "CartesianProduct" not in mm_tree, (
            f"multi_match {mt} must not join"
        )
        window_in, kernel_in = mm_tree.split("Window", 1)[-1].split(
            "FlatMapGroupsInPandas", 1
        )
        assert (window_in.count("Exchange"), kernel_in.count("Exchange")) == (
            1, 1
        ), (
            f"multi_match {mt}: below the per-query window one Exchange "
            "should feed the window (query_id) and one regroup the shards"
        )
    print("multi_match index routes: one shard-keyed kernel — ok")

    # round-4 text-query family: fuzzy rides the SAME pruned postings scan
    # as plain BM25 (weights replace idf — no new plan shape), multiterm's
    # doc-set union is partition-pruned, and the sqs fold is keyed
    # aggregation + anti-join only
    from neural_search_spark.query.fuzzy import fuzzy_match_topk
    from neural_search_spark.query.multiterm import multiterm_topk
    from neural_search_spark.query.sqs import sqs_scored

    fz_plan = fuzzy_match_topk(
        idx, "spakr", k=10, fuzziness=1, mode="distributed"
    )
    plans[
        "fuzzy match distributed (blended weights over the pruned postings scan)"
    ] = fz_plan
    fz_text = cap(fz_plan)
    assert "PartitionFilters" in fz_text, "fuzzy postings scan not pruned"
    assert "CartesianProduct" not in fz_text
    mt_plan = multiterm_topk(
        idx, "spa", kind="prefix", k=10, mode="distributed"
    )
    plans[
        "prefix/wildcard (pruned postings union → distinct constant-score set)"
    ] = mt_plan
    mt_text = cap(mt_plan)
    assert "PartitionFilters" in mt_text, "multiterm postings scan not pruned"
    from neural_search_spark.query.multiterm import match_bool_prefix_topk

    mbp_plan = match_bool_prefix_topk(idx, "spark wi", k=10, mode="distributed")
    plans[
        "match_bool_prefix (weighted postings + dictionary prefix expansion,"
        " one doc-keyed shard combine)"
    ] = mbp_plan
    mbp_text = cap(mbp_plan)
    assert "PartitionFilters" in mbp_text, "mbp postings scan not pruned"
    assert "CartesianProduct" not in mbp_text
    sq_plan = sqs_scored(
        gate.derived_transcripts(spark, sf).withColumn(
            "doc_id", F.monotonically_increasing_id()
        ),
        '"spark join" | window -merge',
    )
    plans[
        "simple_query_string fold (keyed union-sum, anti-join exclusion)"
    ] = sq_plan
    sq_text = cap(sq_plan)
    assert "CartesianProduct" not in sq_text
    assert "BroadcastNestedLoop" not in sq_text
    assert "LeftAnti" in sq_text, "sqs exclusion not an anti-join"
    print("fuzzy/multiterm/mbp/sqs plans: pruned scans, keyed folds — ok")

    plans["PQ ADC top-k + exact refine (broadcast candidate join)"] = pq_plan
    pq_text = cap(pq_plan)
    assert "TakeOrderedAndProject" in pq_text, "PQ candidate gen plans a full sort"
    assert "BroadcastHashJoin" in pq_text, "PQ refine join not broadcast"
    assert "CartesianProduct" not in pq_text and "BroadcastNestedLoop" not in pq_text
    print("PQ refine: TakeOrdered candidates, broadcast refine join — ok")
    # bucketed dedup plans must not contain a cartesian/nested-loop join
    for name in (
        "MinHash LSH candidate pairs (bucket-keyed self-join)",
        "embedding near-dups (LSH region-keyed join, no cross join)",
    ):
        text = cap(plans[name])
        assert "CartesianProduct" not in text and "BroadcastNestedLoop" not in text, (
            f"{name}: quadratic join in the checked plan"
        )
    print("dedup plans: no cartesian/nested-loop joins — ok")

    # hard assert: the hybrid fusion (query/hybrid.normalize → combine,
    # numpy on the driver or one applyInPandas call) only ever sees
    # depth-bounded input. (a) Every engine branch page is a driver
    # LocalPage or a TakeOrderedAndProject, on both routes:
    from pyspark.sql import functions as F

    import neural_search_spark.query.bm25 as bm25_mod
    from neural_search_spark.engine import _TOPK, Engine, spec_from_json
    from neural_search_spark.ranking import LocalPage

    eng = Engine(spark, bm25_index=idx)
    hybrid = spec_from_json({"hybrid": {"queries": [
        {"match": {"query_text": q}} for q in (gate.QUERY_A, gate.QUERY_B)
    ]}})
    driver_limit = bm25_mod.DRIVER_MAX_POSTINGS
    for limit in (driver_limit, -1):
        bm25_mod.DRIVER_MAX_POSTINGS = limit
        for b in eng._plan(hybrid, _TOPK).children["branches"]:
            page = b.run(gate._HYBRID_DEPTH, None)
            assert isinstance(page, LocalPage) or (
                "TakeOrderedAndProject" in cap(page)
            ), f"hybrid branch {b.reason!r} is not depth-bounded"
    bm25_mod.DRIVER_MAX_POSTINGS = driver_limit
    # the gates' bound CONSTRUCTION (single-scan tall scoring → per-subq
    # TakeOrderedAndProject) shows one TakeOrdered per branch:
    tall_plan = cap(
        gate.bm25_scored_tall(
            gate._docs(spark, sf), ["doc_id"], [gate.QUERY_A, gate.QUERY_B]
        )
        .filter(F.col("subq") == 0)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(gate._HYBRID_DEPTH)
    )
    assert "TakeOrderedAndProject" in tall_plan, (
        "per-subq depth bound does not plan as TakeOrderedAndProject"
    )
    # and every matrix entry fuses the PERSISTED ≤2·depth-row tall
    # (InMemoryTableScan under the FlatMapGroupsInPandas fusion call):
    for name, fn, _sql in gate._NORM_MATRIX:
        text = cap(fn(spark, sf))
        assert "FlatMapGroupsInPandas" in text, f"hybrid {name}: no fusion call"
        assert "InMemoryTableScan" in text.split("FlatMapGroupsInPandas", 1)[1], (
            f"hybrid {name}: not fusing the shared bounded tall cache"
        )
    # (b) the batched hybrid fuses one group per query_id — no other key
    # (its weighted rider is one whole-tall group):
    batch = cap(gate.q_hybrid_batch(spark, sf))
    keys = [
        re.findall(r"(\w+)#\d+", args.split("fuse(")[0])
        for args in re.findall(
            r"FlatMapGroupsInPandas\nInput[^\n]*\nArguments: ([^\n]*)", batch
        )
    ]
    assert ["query_id"] in keys and all(
        k in ([], ["query_id"]) for k in keys
    ), f"hybrid_batch fusion groups by {keys}"
    print("hybrid fusion: depth-bounded input, batch grouped by query_id — ok")

    # serving-cache contract: with cache() (pre-partitioned by shard_id),
    # the per-query batch plan must not add an Exchange ABOVE the cached
    # relation (the one-time repartition inside InMemoryRelation is fine)
    from neural_search_spark.query.bm25 import bm25_topk_batch

    idx_cached = BM25Index(spark, idx_dir).cache()
    bplan = cap(
        bm25_topk_batch(
            idx_cached, [("q0", "spark join")], k=5, mode="distributed"
        )
    )
    # without the kernel in the plan the split below would find no scan
    # path, and the Exchange check would pass on nothing
    assert "FlatMapGroupsInPandas" in bplan, "batch plan has no Arrow kernel"
    # the segment between the kernel and the cached relation is the scan
    # path; the only Exchange allowed in the whole plan is the final
    # per-query-id window merge ABOVE the kernel
    seg = bplan.split("FlatMapGroupsInPandas", 1)[-1].split(
        "InMemoryRelation"
    )[0]
    assert "Exchange" not in seg, (
        "serving batch plan re-shuffles between the cache and the kernel"
    )
    print("serving cache: no exchange between cache and kernel — ok")

    # a distributed single query is the batch shard function with one
    # spec: each operator's plan holds exactly one Arrow kernel over a
    # partition-pruned postings scan, the batch plan's shape
    from neural_search_spark.query.bm25 import bm25_topk

    shapes = {
        "batch": bm25_topk_batch(
            idx, [("q0", "spark join")], k=5, mode="distributed"
        ),
        **{
            op: bm25_topk(
                idx, "spark join", k=5, mode="distributed", operator=op
            )
            for op in ("or", "and")
        },
    }
    for name, plan in shapes.items():
        if name != "batch":
            plans[
                f"bm25_topk distributed, operator={name} (the batch shard "
                "function with one spec)"
            ] = plan
        text = cap(plan)
        assert text.split("\n\n")[0].count("FlatMapGroupsInPandas") == 1, (
            f"bm25 {name}: expected exactly one shard kernel"
        )
        assert "PartitionFilters" in text, f"bm25 {name}: scan not pruned"
    print("bm25_topk or/and: one shard kernel over a pruned scan — ok")

    # _termvectors frame: the doc fetch is a BROADCAST semi-join point
    # read and the corpus df pass joins exploded terms against the
    # BROADCAST doc vocabulary — the shuffle carries matching terms only,
    # never corpus-keyed rows; no quadratic joins anywhere
    from neural_search_spark.query.termvectors import termvectors_frame

    tvd = gate._docs(spark, sf)
    tv_ids = [
        int(r["doc_id"])
        for r in tvd.select("doc_id").orderBy("doc_id").limit(3).collect()
    ]
    tv_plan = termvectors_frame(tvd, tv_ids)
    plans[
        "_termvectors frame (broadcast id fetch + broadcast-vocab df pass)"
    ] = tv_plan
    tv_text = cap(tv_plan)
    assert "CartesianProduct" not in tv_text
    assert "BroadcastNestedLoop" not in tv_text
    assert tv_text.count("BroadcastHashJoin") >= 2, (
        "termvectors: id fetch / vocab joins must both broadcast"
    )
    print("termvectors frame: broadcast fetch + vocab joins — ok")

    # _update_by_query corpus transform: ONE matched-flag left join feeding
    # a single Project of conditional columns — no Window, no extra
    # exchange per updated column
    from neural_search_spark.index.update import apply_update

    upd_plan = apply_update(
        tvd.select("doc_id", "text"),
        tvd.filter(F.col("text").contains("spark")).select("doc_id"),
        {"text": "concat(text, ' z')", "extra": "length(text)"},
    )
    plans[
        "_update_by_query transform (one flag join, one conditional Project)"
    ] = upd_plan
    upd_text = cap(upd_plan)
    assert "Window" not in upd_text
    assert "CartesianProduct" not in upd_text
    print("update_by_query transform: flag join + single project — ok")

    # aggregations: a bucket + its metric sub-aggs must be ONE hash
    # aggregate (single exchange, map-side partials), and a composite
    # after-cursor must reach the parquet scan as a pushed filter
    from neural_search_spark.query.aggs import compute_aggs

    docs = gate._docs(spark, sf).withColumn("score", F.lit(1.0))
    agg_terms = compute_aggs(
        docs,
        {"by_src": {"terms": {"field": "source", "size": 10},
                    "aggs": {"mean_len": {"avg": {"field": "n_chars"}},
                             "mx": {"max": {"field": "n_chars"}}}}},
    )["by_src"]
    plans["aggs terms bucket + metric sub-aggs (one hash aggregate)"] = (
        agg_terms
    )
    at_tree = cap(agg_terms).split("\n\n")[0]
    assert at_tree.count("Exchange") == 1, (
        "terms+metrics should be ONE groupBy exchange, found "
        f"{at_tree.count('Exchange')}"
    )
    assert "TakeOrderedAndProject" in at_tree, (
        "terms size-truncation should plan as TakeOrdered, not full sort"
    )
    agg_cmp = compute_aggs(
        docs,
        {"c": {"composite": {
            "size": 5,
            "sources": [{"lg": {"terms": {"field": "lang"}}}],
            "after": {"lg": "de"}}}},
    )["c"]
    plans["aggs composite after-cursor (filter pushed to the scan)"] = agg_cmp
    ac_text = cap(agg_cmp)
    assert "PushedFilters: [" in ac_text and "GreaterThan(lang,de)" in ac_text, (
        "composite after-cursor not pushed into the parquet scan"
    )
    print("aggs plans: one-exchange buckets, cursor pushdown — ok")

    # round-5c: the SAYT shingle posting stream rides the pre-analyzed
    # tokens_col path — the shingle transform is per-row Catalyst, so the
    # stream must keep the root stream's zero-Exchange contract; the MAD
    # metric's second pass must broadcast the per-bucket medians; the
    # string_stats entropy side must stay two hash aggregates (no extra
    # exchange beyond the char regroup)
    from neural_search_spark.query.sayt import _shingle_expr
    from neural_search_spark.tokenizer import tokenize_expr

    sayt_src = tr_audit.withColumn(
        "__sayt_base", tokenize_expr("text")
    ).withColumn(
        "__sayt_toks", _shingle_expr(F.col("__sayt_base"), 2)
    ).drop("__sayt_base")
    sayt_stream = postings_from_tokens(
        tokenized_turns(sayt_src, "__sayt_toks")
    )
    plans[
        "SAYT 2gram posting stream (pre-analyzed tokens_col — MUST show "
        "zero Exchange)"
    ] = sayt_stream
    ss_text = cap(sayt_stream)
    assert "Exchange" not in ss_text, (
        "SAYT shingle posting stream plans an Exchange — the shingle "
        "transform must stay row-local"
    )
    mad_plan = compute_aggs(
        docs,
        {"by": {"terms": {"field": "lang", "size": 10},
                "aggs": {"m": {"median_absolute_deviation":
                               {"field": "n_chars"}}}}},
    )["by>m"]
    plans["aggs MAD two-pass (per-bucket medians broadcast back)"] = mad_plan
    md_text = cap(mad_plan)
    assert "BroadcastHashJoin" in md_text, (
        "MAD second pass must broadcast the 1-row-per-bucket medians"
    )
    assert "CartesianProduct" not in md_text
    print("SAYT stream zero-exchange, MAD broadcast two-pass — ok")

    # round-5d: the batched bool_prefix kernel (SAYT msearch shape) must
    # keep the per-query kernels' contracts while serving the WHOLE
    # batch: pruned postings scan, ONE shard-keyed Arrow kernel, no
    # join anywhere — the only post-kernel step is the per-query window
    # over ≤ k·|batch| rows
    from neural_search_spark.query.multiterm import (
        match_bool_prefix_topk_batch,
    )

    mbpb = match_bool_prefix_topk_batch(
        idx,
        [("q0", "the spark jo"), ("q1", "merge wind")],
        k=10,
        mode="distributed",
    )
    plans[
        "SAYT/bool_prefix batch (one shard-keyed kernel for the whole "
        "batch)"
    ] = mbpb
    mb_text = cap(mbpb)
    assert "PartitionFilters" in mb_text, (
        "bool_prefix batch postings scan not partition-pruned"
    )
    assert mb_text.split("\n\n")[0].count("FlatMapGroupsInPandas") == 1, (
        "bool_prefix batch must run ONE shard-keyed Arrow kernel"
    )
    assert "Join" not in mb_text, "bool_prefix batch must not join"
    print("bool_prefix batch: pruned scan, one kernel, no join — ok")

    out = ["# PLANS — physical-plan audit (auto-generated)\n"]
    out.append(
        "Generated by `scripts/explain_audit.py`; greps each plan for the "
        "scale-critical properties.\n"
    )
    for name, df in plans.items():
        text = cap(df)
        out.append(f"\n## {name}\n")
        found = [
            f"- ✅ {k}: {v}" for k, v in CHECKS.items() if k in text
        ]
        out.append("\n".join(found) or "- (none of the audited markers)")
        # keep only the summary tree (before the per-node detail) to stay
        # readable; full plans reproducible via the script
        head = text.split("\n\n")[0]
        out.append(f"\n\n```\n{head}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
