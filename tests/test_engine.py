"""Engine.search() dispatcher (HybridQueryPhaseSearcher analog) + the JSON
query-spec surface + CLI `search` subcommand."""

import json

import pytest
from pyspark.sql import functions as F

from neural_search_spark.engine import Engine, HybridSpec, spec_from_json
from neural_search_spark.index.build import IndexBuilder, doc_id_col
from neural_search_spark.query.neural import QuerySpec


@pytest.fixture(scope="module")
def eng(spark, transcripts_df, tmp_path_factory):
    base = tmp_path_factory.mktemp("engine")
    idx_dir = str(base / "bm25")
    IndexBuilder(spark, idx_dir, n_shards=4, block_size=64).build(
        transcripts_df
    )
    corpus = transcripts_df.withColumn("doc_id", doc_id_col())
    # sparse features: tf map over the same corpus
    from neural_search_spark.index.sparse import (
        SparseIndex,
        SparseIndexBuilder,
    )
    from neural_search_spark.tokenizer import tokenize_expr

    tall = (
        corpus.select("doc_id", F.explode(tokenize_expr("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("float").alias("weight"))
    )
    sp_dir = str(base / "sparse")
    SparseIndexBuilder(spark, sp_dir, n_shards=4, block_size=64).build(tall)
    from neural_search_spark.processors import text_embedding, to_feature_map
    from neural_search_spark.query.bm25 import BM25Index

    feats = to_feature_map(tall)
    dense = text_embedding(corpus, out_col="embedding")
    full = dense.join(feats, "doc_id")
    return Engine(
        spark,
        corpus=full,
        bm25_index=BM25Index(spark, idx_dir),
        sparse_index=SparseIndex(spark, sp_dir),
    )


def test_match_routes_to_index(spark, eng):
    from neural_search_spark.query.bm25 import bm25_topk

    got = eng.search(QuerySpec(query_type="match", query_text="the tool"), k=5)
    want = bm25_topk(eng.bm25_index, "the tool", k=5)
    assert got.toPandas().doc_id.tolist() == want.toPandas().doc_id.tolist()


def test_sparse_routes_to_index(spark, eng):
    from neural_search_spark.index.sparse import sparse_index_topk

    q = {"the": 1.0, "tool": 2.0}
    got = eng.search(
        QuerySpec(query_type="neural_sparse", query_tokens=q), k=5
    ).toPandas()
    want = sparse_index_topk(eng.sparse_index, q, k=5).toPandas()
    assert got.doc_id.tolist() == want.doc_id.tolist()


def test_neural_dense_path(spark, eng):
    got = eng.search(
        QuerySpec(query_type="neural", field="embedding", query_text="the tool"),
        k=5,
    ).toPandas()
    assert len(got) == 5 and got["rank"].tolist() == [1, 2, 3, 4, 5]


def test_hybrid_json_roundtrip_and_search(spark, eng):
    spec = spec_from_json(
        json.dumps(
            {
                "hybrid": {
                    "queries": [
                        {"match": {"query_text": "the tool"}},
                        {"neural_sparse": {"query_tokens": {"the": 1.0}}},
                    ],
                    "normalization": "min_max",
                    "combination": "arithmetic_mean",
                    "pagination_depth": 30,
                }
            }
        )
    )
    assert isinstance(spec, HybridSpec) and spec.pagination_depth == 30
    out = eng.search(spec, k=5).toPandas()
    assert len(out) == 5
    assert out["score"].is_monotonic_decreasing


def test_bad_specs():
    with pytest.raises(ValueError, match="exactly one"):
        spec_from_json({"match": {}, "neural": {}})
    with pytest.raises(ValueError, match="unknown query type"):
        spec_from_json({"frobnicate": {}})
    with pytest.raises(ValueError, match="cannot nest"):
        spec_from_json(
            {"hybrid": {"queries": [{"hybrid": {"queries": []}}]}}
        )


def test_hybrid_body_rejects_unknown_keys():
    """Hybrid body options are never dropped silently: HybridSpec has no
    lower_bounds, and a misspelt key is as unknown."""
    m = {"match": {"query_text": "a"}}
    for key in ("lower_bounds", "normalisation"):
        with pytest.raises(
            ValueError, match=f"invalid hybrid query body: .*{key}"
        ):
            spec_from_json({"hybrid": {"queries": [m], key: []}})
    spec = spec_from_json(
        {"hybrid": {"queries": [m], "combination": "rrf", "rank_constant": 5}}
    )
    assert (spec.combination, spec.rank_constant) == ("rrf", 5)


@pytest.mark.parametrize("bad", [-1.0, float("inf"), float("nan")])
def test_neural_sparse_rejects_bad_query_weights(eng, bad):
    """A raw query_tokens weight that is negative or non-finite raises
    ValueError on the index route and the corpus route alike."""
    q = {"the": 1.0, "tool": bad}
    for route, extra in (("index", {}), ("corpus", {"filter": "role = 'user'"})):
        ok = {"neural_sparse": {"query_tokens": {"the": 1.0}, **extra}}
        assert eng.explain_route(ok)["route"] == route
        with pytest.raises(ValueError, match="query_tokens weights"):
            eng.search(
                {"neural_sparse": {"query_tokens": q, **extra}}, k=5
            ).collect()


def test_corpus_required_error(spark):
    eng2 = Engine(spark)
    with pytest.raises(ValueError, match="needs a corpus"):
        eng2.search(QuerySpec(query_type="neural", query_text="x"), k=3)


def test_cli_search(spark, eng, tmp_path, capsys):
    from neural_search_spark import cli

    spec = {"match": {"query_text": "the tool"}}
    p = tmp_path / "spec.json"
    p.write_text(json.dumps(spec))
    cli.main(
        ["search", "--spec", str(p), "--index", eng.bm25_index.path, "--k", "3"]
    )
    out = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(out) == 3 and out[0]["rank"] == 1


def test_hybrid_collapse_and_rerank(spark, eng):
    base = {
        "queries": [
            {"match": {"query_text": "the tool"}},
            {"match": {"query_text": "the user"}},
        ],
        "pagination_depth": 40,
    }
    col = eng.search({"hybrid": {**base, "collapse_field": "role"}}, k=3).toPandas()
    # one row per role value, ranked
    assert len(col) == 3 and col["rank"].tolist() == [1, 2, 3]
    rr = eng.search(
        {"hybrid": {**base, "rerank_by_field": "turn_idx"}}, k=5
    ).toPandas()
    assert len(rr) == 5
    assert rr["score"].is_monotonic_decreasing  # re-sorted by turn_idx


def test_spec_reuse_reinfers(spark, eng):
    """rewrite() must not mutate the caller's spec — a reused spec whose
    query_text changed re-infers instead of serving stale results."""
    from neural_search_spark.query.neural import QuerySpec, rewrite

    spec = QuerySpec(query_type="neural", query_text="cats and dogs")
    r1 = rewrite(spec)
    assert spec.vector is None and r1.vector is not None
    spec.query_text = "submarines"
    r2 = rewrite(spec)
    assert r2.vector != r1.vector


def test_bad_body_key_is_value_error():
    with pytest.raises(ValueError, match="invalid match query body"):
        spec_from_json({"match": {"text": "typo for query_text"}})


def test_empty_hybrid_with_collapse_raises(spark, eng):
    with pytest.raises(ValueError, match="1..5 sub-queries"):
        eng.search({"hybrid": {"queries": [], "collapse_field": "role"}}, k=3)


def test_collapse_then_rerank_applies_both(spark, eng):
    out = eng.search(
        {
            "hybrid": {
                "queries": [{"match": {"query_text": "the tool"}}],
                "collapse_field": "role",
                "rerank_by_field": "turn_idx",
            }
        },
        k=3,
    ).toPandas()
    assert len(out) <= 3 and out["score"].is_monotonic_decreasing


def test_msearch_batches_match_specs(spark, eng):
    from neural_search_spark.query.bm25 import bm25_topk

    res = eng.msearch(
        {
            "q1": {"match": {"query_text": "the tool"}},
            "q2": {"match": {"query_text": "the user"}},
            "q3": {"neural_sparse": {"query_tokens": {"the": 1.0}}},
        },
        k=4,
    ).toPandas()
    assert set(res.query_id) == {"q1", "q2", "q3"}
    for qid, text in (("q1", "the tool"), ("q2", "the user")):
        got = res[res.query_id == qid].sort_values("rank")
        want = bm25_topk(eng.bm25_index, text, k=4).toPandas()
        assert got.doc_id.tolist() == want.doc_id.tolist(), qid


def test_msearch_empty_specs_raises(spark, eng):
    with pytest.raises(ValueError, match="at least one spec"):
        eng.msearch({})


def test_post_filter_single_query(spark, eng):
    """post_filter: scores identical to the unfiltered query; failing docs
    simply never occupy a top-k slot (FilteredCollector semantics)."""
    # corpus-scan baseline: the post_filter branch routes corpus-scan (the
    # index kernel returns an already-truncated set), so compare
    # like-for-like in f64
    scan_eng = Engine(spark, corpus=eng.corpus)
    base = scan_eng.search(
        QuerySpec(query_type="match", query_text="the tool"), k=50
    ).toPandas()
    got = eng.search(
        QuerySpec(
            query_type="match", query_text="the tool",
            post_filter="role = 'user'",
        ),
        k=5,
    ).toPandas()
    allowed = set(
        r.doc_id
        for r in eng.corpus.filter("role = 'user'").select("doc_id").collect()
    )
    assert all(d in allowed for d in got.doc_id)
    # scores equal the unfiltered scores for the same docs
    base_scores = dict(zip(base.doc_id, base.score))
    for d, s in zip(got.doc_id, got.score):
        if d in base_scores:
            assert s == pytest.approx(base_scores[d], rel=0, abs=0)
    # and equal the expected "filter the unfiltered ranking" prefix
    want = [d for d in base.doc_id if d in allowed][:5]
    assert got.doc_id.tolist() == want


def test_post_filter_hybrid(spark, eng):
    spec = HybridSpec(
        sub_queries=[
            QuerySpec(query_type="match", query_text="the tool"),
            QuerySpec(query_type="match", query_text="w0001 w0250"),
        ],
        pagination_depth=30,
        post_filter="role = 'user'",
    )
    got = eng.search(spec, k=5).toPandas()
    allowed = set(
        r.doc_id
        for r in eng.corpus.filter("role = 'user'").select("doc_id").collect()
    )
    assert len(got) > 0 and all(d in allowed for d in got.doc_id)


def test_rescore_window_total(spark, eng):
    """rescore: top-W primary hits re-scored, combined qw·p + rqw·s;
    docs missed by the rescore query keep qw·p."""
    from neural_search_spark.query.neural import execute

    primary = eng.search(
        QuerySpec(query_type="match", query_text="the tool"), k=20
    ).toPandas()
    rq = QuerySpec(query_type="match", query_text="w0001")
    sec = execute(rq, eng.corpus).toPandas()
    sec_scores = dict(zip(sec.doc_id, sec.score))
    got = eng.search(
        QuerySpec(query_type="match", query_text="the tool"),
        k=10,
        rescore={
            "window_size": 20,
            "query": {"match": {"query_text": "w0001"}},
            "query_weight": 0.7,
            "rescore_query_weight": 2.0,
        },
    ).toPandas()
    want = sorted(
        (
            (0.7 * s + 2.0 * sec_scores.get(d, 0.0), d)
            for d, s in zip(primary.doc_id, primary.score)
        ),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    assert got.doc_id.tolist() == [d for _, d in want]
    for (ws, _), gs in zip(want, got.score):
        assert gs == pytest.approx(ws, rel=1e-12)
    assert got["rank"].tolist() == list(range(1, 11))


def test_rescore_score_modes(spark, eng):
    for mode in ("avg", "max", "min", "multiply"):
        got = eng.search(
            QuerySpec(query_type="match", query_text="the tool"),
            k=5,
            rescore={
                "window_size": 10,
                "query": {"match": {"query_text": "w0001"}},
                "score_mode": mode,
            },
        ).toPandas()
        assert len(got) == 5 and got["rank"].tolist() == [1, 2, 3, 4, 5]
    with pytest.raises(ValueError, match="score_mode"):
        eng.search(
            QuerySpec(query_type="match", query_text="the"),
            k=5,
            rescore={
                "window_size": 10,
                "query": {"match": {"query_text": "w0001"}},
                "score_mode": "bogus",
            },
        )


def test_engine_ann_routing(spark, eng):
    """neural_knn delegates to an attached LSH ANN asset; result equals the
    direct lsh_topk call on the same embeddings."""
    from neural_search_spark.extras.similarity import LshAnnIndex, lsh_topk

    emb = eng.corpus.select(
        F.col("doc_id").alias("vec_id"), F.col("embedding")
    )
    qv = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    eng2 = Engine(
        spark,
        corpus=eng.corpus,
        ann_index=LshAnnIndex(emb, n_planes=6, probe_hamming=1),
    )
    got = eng2.search(
        QuerySpec(query_type="neural_knn", field="embedding", vector=qv), k=5
    ).toPandas()
    want = lsh_topk(emb, qv, k=5, n_planes=6, probe_hamming=1).toPandas()
    assert got.doc_id.tolist() == want.vec_id.tolist()
    assert got.score.tolist() == pytest.approx(want.cosine.tolist())


def test_inner_hits(spark, eng):
    """Per-parent top child chunks attached to the top-k parent hits."""
    from neural_search_spark.chunking import chunk_table
    from neural_search_spark.query.hybrid import inner_hits
    from neural_search_spark.tokenizer import tokenize_expr

    parents = eng.search(
        QuerySpec(query_type="match", query_text="the tool"), k=5
    )
    chunks = chunk_table(
        eng.corpus.select("doc_id", "text"),
        algorithm="fixed_char_length",
        char_limit=80,
        overlap_rate=0.0,
        max_chunk_limit=-1,
    )
    scored = chunks.withColumn(
        "chunk_score",
        F.size(
            F.filter(
                tokenize_expr("chunk"), lambda t: t.isin("the", "tool")
            )
        ).cast("double"),
    )
    got = inner_hits(parents, scored, k_children=2).toPandas()
    assert set(got.doc_id) <= set(
        parents.toPandas().doc_id
    ) and len(got) > 0
    for _, grp in got.groupby("doc_id"):
        assert sorted(grp.child_rank) == list(range(1, len(grp) + 1))
        assert len(grp) <= 2
        # children ordered by score desc within parent
        sgrp = grp.sort_values("child_rank")
        assert list(sgrp.chunk_score) == sorted(grp.chunk_score, reverse=True)


def test_ann_route_skipped_for_radius_queries(spark, eng):
    """min_score/max_distance queries bypass the ANN asset (its top-k has
    no radius hook) and use the exact corpus-scan scorer."""
    from neural_search_spark.extras.similarity import LshAnnIndex

    emb = eng.corpus.select(
        F.col("doc_id").alias("vec_id"), F.col("embedding")
    )
    qv = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    eng2 = Engine(
        spark,
        corpus=eng.corpus,
        ann_index=LshAnnIndex(emb, n_planes=6, probe_hamming=0),
    )
    got = eng2.search(
        QuerySpec(
            query_type="neural", field="embedding", vector=qv, min_score=0.2
        ),
        k=1000,
    ).toPandas()
    # exact radius semantics: every returned score clears the bound, and
    # the result is NOT truncated to the probed bucket
    assert (got.score >= 0.2).all()
    brute = Engine(spark, corpus=eng.corpus).search(
        QuerySpec(
            query_type="neural", field="embedding", vector=qv, min_score=0.2
        ),
        k=1000,
    ).toPandas()
    assert got.doc_id.tolist() == brute.doc_id.tolist()


def test_msearch_respects_post_filter(spark, eng):
    """A match spec carrying post_filter must NOT take the batched
    fast path (which has no collect-time filter hook)."""
    res = eng.msearch(
        {
            "qf": QuerySpec(
                query_type="match", query_text="the tool",
                post_filter="role = 'user'",
            ),
            "q0": {"match": {"query_text": "the tool"}},
        },
        k=5,
    ).toPandas()
    allowed = set(
        r.doc_id
        for r in eng.corpus.filter("role = 'user'").select("doc_id").collect()
    )
    got = res[res.query_id == "qf"]
    assert len(got) == 5 and all(d in allowed for d in got.doc_id)


def test_rescore_small_window_keeps_tail(spark, eng):
    """window_size < k: hits beyond the window keep their ORIGINAL score
    and order, ranked strictly below the rescored block (Lucene
    QueryRescorer contract) — never truncated."""
    scan_eng = Engine(spark, corpus=eng.corpus)
    primary = scan_eng.search(
        QuerySpec(query_type="match", query_text="the tool"), k=10
    ).toPandas()
    got = eng.search(
        QuerySpec(query_type="match", query_text="the tool"),
        k=10,
        rescore={
            "window_size": 4,
            "query": {"match": {"query_text": "w0001"}},
            "rescore_query_weight": 5.0,
        },
    ).toPandas()
    assert len(got) == 10 and got["rank"].tolist() == list(range(1, 11))
    # rows 5..10 are the primary tail in original order with original score
    # NOTE: primary here is the corpus-scan engine for f64 comparison; the
    # rescore path also fetched via the index — doc order identical
    tail_docs = got.doc_id.tolist()[4:]
    prim_order = primary.doc_id.tolist()
    assert tail_docs == [d for d in prim_order if d not in got.doc_id.tolist()[:4]][:6]


def test_hybrid_leaf_post_filter_rejected(spark, eng):
    with pytest.raises(ValueError, match="belongs on the hybrid spec"):
        eng.search(
            {
                "hybrid": {
                    "queries": [
                        {"match": {"query_text": "x", "post_filter": "1=1"}}
                    ]
                }
            },
            k=3,
        )


def test_ann_route_requires_matching_field(spark, eng):
    """A neural query against a DIFFERENT vector field than the attached
    asset's must corpus-scan that field, not answer from the asset."""
    from neural_search_spark.extras.similarity import LshAnnIndex

    emb = eng.corpus.select(
        F.col("doc_id").alias("vec_id"), F.col("embedding")
    )
    corpus2 = eng.corpus.withColumn(
        "embedding2", F.reverse(F.col("embedding"))
    )
    qv = [float(x) for x in corpus2.limit(1).collect()[0]["embedding2"]]
    eng2 = Engine(
        spark,
        corpus=corpus2,
        ann_index=LshAnnIndex(emb, n_planes=6),  # built over 'embedding'
    )
    got = eng2.search(
        QuerySpec(query_type="neural_knn", field="embedding2", vector=qv), k=5
    ).toPandas()
    brute = Engine(spark, corpus=corpus2).search(
        QuerySpec(query_type="neural_knn", field="embedding2", vector=qv), k=5
    ).toPandas()
    assert got.doc_id.tolist() == brute.doc_id.tolist()


def test_ann_route_field_guard_hnsw(spark, eng):
    """HnswAnnIndex now declares vec_col (persisted in hnsw_config.json),
    so the Engine guard is exercised for graphs too: a query against a
    different vector field corpus-scans instead of being answered from a
    graph built over 'embedding'. Also: an asset with NO vec_col fails
    CLOSED (never delegated)."""
    from neural_search_spark.extras.hnsw import HnswAnnIndex, build_graphs

    emb = eng.corpus.select(
        F.col("doc_id").alias("vec_id"), F.col("embedding")
    )
    corpus2 = eng.corpus.withColumn(
        "embedding2", F.reverse(F.col("embedding"))
    )
    qv = [float(x) for x in corpus2.limit(1).collect()[0]["embedding2"]]
    graphs = build_graphs(emb, n_graphs=2, M=8, ef_construction=32)
    eng2 = Engine(
        spark,
        corpus=corpus2,
        ann_index=HnswAnnIndex(graphs),  # vec_col='embedding'
    )
    assert eng2.ann_index.vec_col == "embedding"
    got = eng2.search(
        QuerySpec(query_type="neural_knn", field="embedding2", vector=qv), k=5
    ).toPandas()
    brute = Engine(spark, corpus=corpus2).search(
        QuerySpec(query_type="neural_knn", field="embedding2", vector=qv), k=5
    ).toPandas()
    assert got.doc_id.tolist() == brute.doc_id.tolist()

    class NoVecCol:
        def topk(self, q, k):  # pragma: no cover — must never be called
            raise AssertionError("fail-closed guard delegated to a "
                                 "vec_col-less asset")

    eng3 = Engine(spark, corpus=eng.corpus, ann_index=NoVecCol())
    qv2 = [float(x) for x in eng.corpus.limit(1).collect()[0]["embedding"]]
    out = eng3.search(
        QuerySpec(query_type="neural_knn", field="embedding", vector=qv2), k=5
    ).toPandas()
    assert len(out) == 5  # served by the corpus scan


def test_hnsw_store_persists_vec_col(spark, eng, tmp_path):
    from neural_search_spark.extras.hnsw import HnswAnnIndex

    emb = eng.corpus.select(
        F.col("doc_id").alias("vec_id"), F.col("embedding")
    )
    path = str(tmp_path / "hnsw_store")
    HnswAnnIndex.write(emb, path, n_graphs=2, M=8, ef_construction=32)
    loaded = HnswAnnIndex.load(spark, path)
    assert loaded.vec_col == "embedding"


def test_ann_filtered_efficient_filtering(spark, eng):
    """Filtered neural queries with an attached ANN asset route by filter
    cardinality (the k-NN plugin's 'efficient filtering'): a small
    allowed set takes the exact filtered scan; a large one over-fetches
    from the ANN asset and keeps survivors; an under-filled over-fetch
    falls back to exact."""
    import numpy as np

    from neural_search_spark.extras.similarity import LshAnnIndex

    emb = eng.corpus.select(F.col("doc_id").alias("vec_id"), "embedding")
    qv = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    eng2 = Engine(
        spark,
        corpus=eng.corpus,
        ann_index=LshAnnIndex(emb, n_planes=4, probe_hamming=2),
    )
    pdf = emb.toPandas()
    V = np.array([np.asarray(v, dtype=np.float64) for v in pdf.embedding])
    q = np.asarray(qv, dtype=np.float64)
    cos = (V @ q) / (np.linalg.norm(V, axis=1) * np.linalg.norm(q) + 1e-12)
    ids = pdf.vec_id.to_numpy()
    keep = ids % 2 == 0
    order = np.lexsort((ids[keep], -cos[keep]))
    exact_ids = ids[keep][order][:5].tolist()
    exact_cos = cos[keep][order][:5]

    def fspec():
        return QuerySpec(
            query_type="neural_knn",
            field="embedding",
            vector=qv,
            filter=F.col("doc_id") % 2 == 0,
        )

    # 1) small allowed set (fixture << default threshold) -> exact scan
    got = eng2.search(fspec(), k=5).toPandas()
    assert got.doc_id.tolist() == exact_ids
    assert np.allclose(got.score.to_numpy(), exact_cos, atol=1e-6)

    # 2) force the over-fetch branch: every hit passes the filter, scores
    # are true cosines, page is full
    eng2.ann_filtered_exact_threshold = 0
    got2 = eng2.search(fspec(), k=5).toPandas()
    assert len(got2) == 5
    assert (got2.doc_id.to_numpy() % 2 == 0).all()
    by_id = dict(zip(ids.tolist(), cos.tolist()))
    for did, sc in zip(got2.doc_id, got2.score):
        assert sc == pytest.approx(by_id[int(did)], abs=1e-6)
    # survivors are ordered by score desc
    assert (np.diff(got2.score.to_numpy()) <= 1e-12).all()

    # 3) under-fill backstop: overfetch=1 fetches only k candidates and a
    # filter that excludes the top unfiltered hit guarantees < k survive,
    # so the engine must return the EXACT filtered top-k
    top1 = int(
        eng2.ann_index.topk(qv, k=1).toPandas().vec_id.iloc[0]
    )
    eng2.ann_filtered_overfetch = 1
    spec3 = QuerySpec(
        query_type="neural_knn",
        field="embedding",
        vector=qv,
        filter=F.col("doc_id") != top1,
    )
    keep3 = ids != top1
    o3 = np.lexsort((ids[keep3], -cos[keep3]))
    exact3 = ids[keep3][o3][:5].tolist()
    got3 = eng2.search(spec3, k=5).toPandas()
    assert got3.doc_id.tolist() == exact3


def test_explain_route(spark, eng):
    """Route explanation mirrors the dispatcher's guards."""
    r = eng.explain_route({"match": {"query_text": "the tool"}})
    assert r["route"] == "index"
    r = eng.explain_route(
        {"match": {"query_text": "tol", "fuzziness": 1}}
    )
    assert r["route"] == "index" and "fuzzy" in r["reason"]
    # phrase without a sidecar -> corpus
    r = eng.explain_route({"match_phrase": {"query_text": "the tool"}})
    assert r["route"] == "corpus" and "sidecar" in r["reason"]
    # radius neural query -> exact corpus scan even with an ANN asset
    from neural_search_spark.extras.similarity import LshAnnIndex

    emb = eng.corpus.select(F.col("doc_id").alias("vec_id"), "embedding")
    qv = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    eng2 = Engine(
        spark, corpus=eng.corpus, ann_index=LshAnnIndex(emb, n_planes=4)
    )
    assert eng2.explain_route(
        QuerySpec(query_type="neural_knn", field="embedding", vector=qv)
    )["route"] == "ann"
    assert eng2.explain_route(
        QuerySpec(
            query_type="neural_knn", field="embedding", vector=qv,
            min_score=0.5,
        )
    )["route"] == "corpus"
    assert eng2.explain_route(
        QuerySpec(
            query_type="neural_knn", field="embedding", vector=qv,
            filter=F.col("doc_id") > 0,
        )
    )["route"] == "ann_filtered"
    # flat vs non-flat sqs
    assert eng.explain_route(
        {"simple_query_string": {"query": "tool call"}}
    )["route"] == "index"
    assert eng.explain_route(
        {"simple_query_string": {"query": "tool -call"}}
    )["route"] == "corpus"
    # hybrid explains per branch
    h = eng.explain_route(
        {"hybrid": {"queries": [{"match": {"query_text": "a"}},
                                 {"match_phrase": {"query_text": "a b"}}]}}
    )
    assert h["route"] == "composite" and len(h["branches"]) == 2


def test_rescore_per_branch_placement(spark, eng):
    """placement='per_branch' reproduces the reference's pre-normalization
    rescore (HybridCollectorManager.java:241-268): each branch's top-W is
    rescored BEFORE min_max normalization — asserted equal to the manual
    composition rescore_window(branch) → hybrid_topk, and different from
    the default post_combination placement."""
    import numpy as np

    from neural_search_spark.query.hybrid import hybrid_topk
    from neural_search_spark.query.neural import execute
    from neural_search_spark.query.rerank import rescore_window

    spec = HybridSpec(
        sub_queries=[
            QuerySpec(query_type="match", query_text="the tool"),
            QuerySpec(query_type="match", query_text="the user"),
        ],
        pagination_depth=50,
    )
    rescore = {
        "window_size": 20,
        "query": {"match": {"query_text": "w0001"}},
        "rescore_query_weight": 2.0,
        "placement": "per_branch",
    }
    got = eng.search(spec, k=10, rescore=rescore).toPandas()
    sec = execute(
        QuerySpec(query_type="match", query_text="w0001"), eng.corpus
    )
    branches = [
        eng._branch_topk(s, 50, allowed=None) for s in spec.sub_queries
    ]
    branches = [
        rescore_window(
            b, sec, window_size=20, rescore_query_weight=2.0
        ).drop("rank")
        for b in branches
    ]
    want = hybrid_topk(branches, k=10, pagination_depth=50).toPandas()
    assert got.doc_id.tolist() == want.doc_id.tolist()
    assert np.allclose(got.score, want.score, atol=1e-12)
    post = eng.search(
        spec, k=10, rescore={**rescore, "placement": "post_combination"}
    ).toPandas()
    assert got.score.tolist() != post.score.tolist()
    with pytest.raises(ValueError, match="placement"):
        eng.search(spec, k=10, rescore={**rescore, "placement": "mid"})


def test_search_highlight_block(spark, eng):
    """The host-shaped highlight block rides search(): fetch-phase tags
    over the final top-k, fields/options parsed, must_not never
    highlighted."""
    res = eng.search(
        {"match": {"query_text": "tool run"}}, k=5,
        highlight={"fields": {"text": {
            "pre_tags": ["<b>"], "post_tags": ["</b>"],
            "fragment_size": 60, "number_of_fragments": 2,
        }}},
    ).collect()
    assert len(res) == 5
    assert [r["rank"] for r in res] == [1, 2, 3, 4, 5]
    for r in res:
        assert "<b>" in r["highlighted"]
        assert r["fragments"] and len(r["fragments"]) <= 2
        assert all("<b>" in f for f in r["fragments"])
        assert r["highlights"]  # span structs present
    # bool: must_not text must NOT be tagged
    res2 = eng.search(
        {"bool": {"must": [{"match": {"query_text": "tool"}}],
                  "must_not": [{"match": {"query_text": "run"}}]}},
        k=3, highlight={},
    ).collect()
    assert res2
    for r in res2:
        assert "<em>run</em>" not in r["highlighted"]
        assert "<em>tool</em>" in r["highlighted"]


def test_search_highlight_rejects_several_fields(eng):
    """Only one highlight field is served; a second is refused, not
    silently dropped."""
    with pytest.raises(ValueError, match="one field"):
        eng.search(
            {"match": {"query_text": "tool"}}, k=3,
            highlight={"fields": {"text": {}, "tool": {}}},
        )
