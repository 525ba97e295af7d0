"""Stats API, highlighter stub, hybrid explain mode."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from neural_search_spark import stats as stats_api
from neural_search_spark.extras import highlight
from neural_search_spark.index.build import IndexBuilder
from neural_search_spark.query.hybrid import hybrid_explain


@pytest.fixture(scope="module")
def small_index(spark, transcripts_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "stats_idx")
    IndexBuilder(spark, out, n_shards=4, block_size=64).build(transcripts_df)
    return out


def test_event_stats(spark, small_index):
    ev = stats_api.event_stats(spark, small_index).toPandas()
    names = set(ev["name"])
    assert {"doc_count", "elapsed_ms", "turns_per_sec", "hot_terms_split"} <= names
    win = stats_api.event_stats_windowed(spark, small_index).toPandas()
    assert len(win) >= 1 and "total" in win.columns


def test_info_stats(spark, small_index, transcripts_df):
    info = stats_api.info_stats(spark, small_index)
    assert info["n_docs"] == transcripts_df.count()
    assert info["vocab_size"] > 0
    assert info["n_blocks"] > 0 and info["index_bytes"] > 0
    assert info["complete_buckets"] >= 1


def test_highlighter_spans_and_tags(spark):
    df = spark.createDataFrame(
        [(1, "The quick fox; a QUICK brown fox.")], "doc_id long, text string"
    )
    out = highlight.highlight_topk(df, "quick fox").toPandas().iloc[0]
    spans = [(s["start"], s["end"]) for s in out["highlights"]]
    assert spans == [(4, 9), (10, 13), (17, 22), (29, 32)]
    assert (
        out["highlighted"]
        == "The <em>quick</em> <em>fox</em>; a <em>QUICK</em> brown <em>fox</em>."
    )


def test_hybrid_explain(spark):
    b0 = spark.createDataFrame(
        [(1, 10.0), (2, 5.0), (3, 1.0)], "doc_id long, score double"
    )
    b1 = spark.createDataFrame(
        [(2, 4.0), (3, 8.0)], "doc_id long, score double"
    )
    out = hybrid_explain([b0, b1], k=2, weights=[1.0, 3.0]).toPandas()
    # doc 3: b0 norm=(1-1)/(10-1)→0→0.001, b1 norm=(8-4)/(8-4)... max=8,min=4 →1.0
    d3 = out[out.doc_id == 3].set_index("subq")
    assert d3.loc[0, "raw_score"] == 1.0
    assert d3.loc[0, "norm_score"] == pytest.approx(0.001)
    assert d3.loc[1, "norm_score"] == pytest.approx(1.0)
    assert d3.loc[1, "weight"] == 3.0
    # combined for doc3 = (1*0.001 + 3*1.0)/4
    assert d3.loc[0, "combined_score"] == pytest.approx((0.001 + 3.0) / 4.0, rel=1e-5)
    assert set(out.normalization_technique) == {"min_max"}


def test_ml_rerank(spark):
    from neural_search_spark.query.rerank import ml_rerank, stub_cross_encoder

    df = spark.createDataFrame(
        [
            (1, 0.9, "alpha beta gamma"),
            (2, 0.8, "alpha alpha alpha"),
            (3, 0.7, "unrelated words here"),
        ],
        "doc_id long, score double, text string",
    )
    out = ml_rerank(df, "alpha beta", keep_previous_score=True).toPandas()
    assert list(out.doc_id) == [1, 2, 3]
    assert out.iloc[0]["score"] == pytest.approx(
        stub_cross_encoder("alpha beta", "alpha beta gamma")
    )
    assert "previous_score" in out.columns
    # doc 3 has zero overlap → score 0
    assert out.iloc[2]["score"] == 0.0


def test_track_total_hits(spark):
    from neural_search_spark.query.rerank import track_total_hits

    df = spark.range(100).withColumnRenamed("id", "doc_id")
    assert track_total_hits(df, up_to=10) == {"value": 10, "relation": "gte"}
    assert track_total_hits(df, up_to=1000) == {"value": 100, "relation": "eq"}
    assert track_total_hits(df, up_to=None) == {"value": 100, "relation": "eq"}


def test_sources_parquet_and_schema(spark, transcripts_path):
    from neural_search_spark import sources

    df = sources.load_transcripts(spark, transcripts_path)
    assert df.columns == sources.TRANSCRIPT_COLUMNS
    assert df.count() > 0


def test_sources_missing_columns(spark):
    from neural_search_spark import sources

    bad = spark.createDataFrame([(1,)], "x int")
    bad.createOrReplaceTempView("bad_table")
    with pytest.raises(ValueError, match="missing columns"):
        sources.load_transcripts(spark, "bad_table")


def test_sources_iceberg_unavailable(spark):
    from neural_search_spark import sources

    assert sources.iceberg_available(spark) is False
    with pytest.raises(RuntimeError, match="Iceberg runtime"):
        sources.load_table(spark, "iceberg:db.transcripts")


def test_index_cache_serving(spark, small_index):
    from neural_search_spark.query.bm25 import BM25Index, bm25_topk

    idx = BM25Index(spark, small_index).cache()
    a = bm25_topk(idx, "the tool", k=5).toPandas()
    b = bm25_topk(idx, "the tool", k=5).toPandas()
    assert a.doc_id.tolist() == b.doc_id.tolist()
    assert idx._postings_df.is_cached


def test_tid_py_matches_tid_expr(spark):
    """Parity between the driver-side tid (hashlib md5-prefix) and the
    Spark-side tid_expr/h60 used by the index writer — a silent desync
    would disconnect query-side tids from the on-disk postings."""
    from pyspark.sql import functions as F

    from neural_search_spark.index.build import tid_expr, tid_py

    vocab = ["spark", "the", "naïve", "日本語", "a b", "", "x" * 200, "ÅÄÖ"]
    df = spark.createDataFrame([(t,) for t in vocab], "term string")
    got = {
        r["term"]: r["tid"]
        for r in df.select("term", tid_expr("term").alias("tid")).collect()
    }
    for t in vocab:
        assert got[t] == tid_py(t), t


def test_neural_radius_filters(spark):
    from pyspark.sql import functions as F

    from neural_search_spark import processors
    from neural_search_spark.query import neural as nq

    docs = spark.createDataFrame(
        [(i, f"doc number {i} about spark") for i in range(20)],
        "doc_id long, text string",
    )
    emb = processors.text_embedding(docs, out_col="vec")
    spec = nq.QuerySpec(query_type="neural", field="vec", query_text="spark", min_score=0.0)
    out = nq.execute(spec, emb).toPandas()
    assert (out["score"] >= 0.0).all()
    spec2 = nq.QuerySpec(query_type="neural", field="vec", query_text="spark", max_distance=0.9)
    out2 = nq.execute(spec2, emb).toPandas()
    assert ((1.0 - out2["score"]) <= 0.9).all()
    with pytest.raises(ValueError, match="cannot both"):
        nq.execute(
            nq.QuerySpec(query_type="neural", field="vec", query_text="x",
                         min_score=0.1, max_distance=0.5),
            emb,
        )


def test_driver_postings_cache_eviction_correct(spark, small_index):
    """A 1-term cache forces eviction on every multi-term query; results
    must stay identical to the uncached path (eviction must never drop an
    entry the current query still needs)."""
    from neural_search_spark.query.bm25 import BM25Index, bm25_topk

    plain = BM25Index(spark, small_index)
    plain.driver_cache_terms = 0
    tiny = BM25Index(spark, small_index)
    tiny.driver_cache_terms = 1
    for q in ["the tool w0001", "w0001 w0250", "the user w0250 w0100"]:
        a = bm25_topk(plain, q, k=8, mode="driver").toPandas()
        b = bm25_topk(tiny, q, k=8, mode="driver").toPandas()
        c = bm25_topk(tiny, q, k=8, mode="driver").toPandas()  # re-run, warm/evicted mix
        assert a.doc_id.tolist() == b.doc_id.tolist() == c.doc_id.tolist(), q
        assert a.score.tolist() == b.score.tolist() == c.score.tolist(), q


def test_driver_cache_byte_bound_evicts_oldest():
    """The running byte total follows every set, overwrite and eviction,
    and the byte bound (like the term bound) evicts oldest-first."""
    from neural_search_spark.index.cache import DriverCache, evict_fifo

    cache = DriverCache()
    for tid in range(4):  # 1,200 bytes each
        cache[tid] = (np.zeros(100, np.int64), np.zeros(100, np.float32))
    cache[9] = None  # an absent term holds no bytes
    assert cache.nbytes == 4800
    cache[0] = (np.zeros(50, np.int64),)  # overwrite keeps FIFO position
    assert cache.nbytes == 4000
    evict_fifo(cache, max_terms=100, max_bytes=2500)
    assert list(cache) == [2, 3, 9] and cache.nbytes == 2400
    evict_fifo(cache, max_terms=100, max_bytes=2500)  # nothing to evict
    assert list(cache) == [2, 3, 9]
    evict_fifo(cache, max_terms=2, max_bytes=2500)
    assert list(cache) == [3, 9] and cache.nbytes == 1200


def test_match_all_and_ids_queries(spark, transcripts_df):
    """Host basics: MatchAllDocsQuery (constant boost, doc_id-asc order)
    and IdsQuery (verbatim id membership)."""
    from neural_search_spark.engine import Engine, spec_from_json
    from neural_search_spark.index.build import doc_id_col

    docs = transcripts_df.withColumn("doc_id", doc_id_col())
    eng = Engine(spark, corpus=docs)
    all5 = eng.search(
        spec_from_json({"match_all": {"boost": 2.0}}), k=5
    ).toPandas()
    exp = sorted(docs.select("doc_id").toPandas().doc_id)[:5]
    assert all5.doc_id.tolist() == exp
    assert (all5.score == 2.0).all()
    ids = [int(exp[0]), int(exp[3]), 12345]  # one absent id
    got = eng.search(
        spec_from_json({"ids": {"values": ids}}), k=10
    ).toPandas()
    assert sorted(got.doc_id) == sorted([exp[0], exp[3]])
    assert (got.score == 1.0).all()
    assert eng.explain_route(spec_from_json({"match_all": {}}))[
        "route"
    ] == "corpus"
    # composes inside bool as a filter-style clause
    out = eng.search(
        spec_from_json(
            {
                "bool": {
                    "must": [{"match": {"query_text": "tool"}}],
                    "filter": [{"ids": {"values": ids}}],
                }
            }
        ),
        k=10,
    ).toPandas()
    assert set(out.doc_id) <= {exp[0], exp[3]}


def test_dis_max_and_boosting_queries(spark, transcripts_df):
    """Host composite leaves: dis_max (explicit DisjunctionMaxQuery with
    tie_breaker) and boosting (negative-membership demotion, never
    exclusion) — checked against manual pandas compositions."""
    import numpy as np

    from neural_search_spark.engine import Engine, spec_from_json
    from neural_search_spark.index.build import doc_id_col
    from neural_search_spark.query.neural import QuerySpec, execute

    docs = transcripts_df.withColumn("doc_id", doc_id_col())
    eng = Engine(spark, corpus=docs)
    qa, qb = "tool call", "model"
    sa = (
        execute(QuerySpec(query_type="match", query_text=qa), docs)
        .toPandas().set_index("doc_id")["score"]
    )
    sb = (
        execute(QuerySpec(query_type="match", query_text=qb), docs)
        .toPandas().set_index("doc_id")["score"]
    )
    tb = 0.3
    import pandas as pd

    both = pd.concat([sa.rename("a"), sb.rename("b")], axis=1)
    mx, sm = both.max(axis=1), both.sum(axis=1)
    exp = (
        (mx + tb * (sm - mx))
        .rename("score").reset_index()
        .sort_values(["score", "doc_id"], ascending=[False, True])
        .head(10).reset_index(drop=True)
    )
    got = eng.search(
        spec_from_json(
            {
                "dis_max": {
                    "queries": [
                        {"match": {"query_text": qa}},
                        {"match": {"query_text": qb}},
                    ],
                    "tie_breaker": tb,
                }
            }
        ),
        k=10,
    ).toPandas()
    assert got.doc_id.tolist() == exp.doc_id.tolist()
    assert np.allclose(got.score, exp.score, rtol=1e-9)

    nb = 0.25
    exp_b = sa.copy()
    exp_b[exp_b.index.isin(sb.index)] *= nb
    exp_b = (
        exp_b.rename("score").reset_index()
        .sort_values(["score", "doc_id"], ascending=[False, True])
        .head(10).reset_index(drop=True)
    )
    got_b = eng.search(
        spec_from_json(
            {
                "boosting": {
                    "positive": {"match": {"query_text": qa}},
                    "negative": {"match": {"query_text": qb}},
                    "negative_boost": nb,
                }
            }
        ),
        k=10,
    ).toPandas()
    assert got_b.doc_id.tolist() == exp_b.doc_id.tolist()
    assert np.allclose(got_b.score, exp_b.score, rtol=1e-9)
    # demoted docs are present (never excluded) when k is large enough
    all_b = eng.search(
        spec_from_json(
            {
                "boosting": {
                    "positive": {"match": {"query_text": qa}},
                    "negative": {"match": {"query_text": qb}},
                    "negative_boost": nb,
                }
            }
        ),
        k=10_000,
    ).toPandas()
    assert set(all_b.doc_id) == set(sa.index)
    # nesting guards
    import pytest as _pytest

    with _pytest.raises(ValueError, match="nest"):
        spec_from_json(
            {"dis_max": {"queries": [{"bool": {"must": []}}]}}
        )


def test_best_fragments_passage_scoring():
    from neural_search_spark.extras.highlight import best_fragments

    text = ("alpha beta gamma. " + "filler " * 30
            + "alpha rare. " + "filler " * 30 + "beta only here.")
    # unweighted: the two-term passage wins over one-term passages
    frags = best_fragments(
        text, {"alpha", "beta", "rare"}, fragment_size=40,
        number_of_fragments=2,
    )
    assert len(frags) == 2
    assert frags[0].startswith("<em>alpha</em> <em>beta</em>")
    # weighted: rare-term passage outranks the two-common-term one
    frags_w = best_fragments(
        text, {"alpha", "beta", "rare"}, fragment_size=40,
        number_of_fragments=1,
        term_weights={"alpha": 0.1, "beta": 0.1, "rare": 5.0},
    )
    assert "<em>rare</em>" in frags_w[0]
    # no matches → no fragments
    assert best_fragments("nothing here", {"zz"}, 40, 3) == []


def test_highlight_topk_fragments(spark):
    from neural_search_spark.extras.highlight import highlight_topk

    df = spark.createDataFrame(
        [(1, "alpha beta " + "x " * 50 + "alpha end")],
        "doc_id long, text string",
    )
    out = highlight_topk(
        df, "alpha beta", fragment_size=30, number_of_fragments=2
    ).collect()[0]
    assert out["highlighted"].count("<em>") == 3
    assert len(out["fragments"]) == 2
    assert out["fragments"][0].startswith("<em>alpha</em> <em>beta</em>")


def test_terms_enum(spark, small_index):
    from neural_search_spark.engine import Engine
    from neural_search_spark.query.bm25 import BM25Index

    idx = BM25Index(spark, small_index)
    eng = Engine(spark, bm25_index=idx)
    vocab = [t for t, _ in idx.dictionary()]
    # pick a prefix with at least 6 terms so the pagination is exercised
    from collections import Counter

    pfx = Counter(t[0] for t in vocab).most_common(1)[0][0]
    exp = sorted(t for t in vocab if t.startswith(pfx))
    assert len(exp) >= 6
    got = eng.terms_enum(pfx, size=5)
    assert got == exp[:5]
    # resumable: search_after is exclusive and continues the walk
    more = eng.terms_enum(pfx, size=5, search_after=got[-1])
    assert more == exp[5:10]
    # empty prefix refuses (the unguarded full walk)
    import pytest as _pt

    with _pt.raises(ValueError, match="non-empty prefix"):
        eng.terms_enum("")
    with _pt.raises(ValueError, match="bm25_index"):
        Engine(spark).terms_enum("s")


def test_small_host_apis(spark, transcripts_df, small_index):
    """_analyze / _count / _mget / _delete_by_query."""
    import numpy as np

    from neural_search_spark.engine import Engine
    from neural_search_spark.index.build import doc_id_col
    from neural_search_spark.query.bm25 import BM25Index, bm25_topk

    docs = transcripts_df.withColumn("doc_id", doc_id_col())
    idx = BM25Index(spark, small_index)
    eng = Engine(spark, corpus=docs, bm25_index=idx)

    assert eng.analyze("The QUICK-fox's 2nd run!") == [
        "the", "quick", "fox", "s", "2nd", "run"
    ]

    spec = {"match": {"query_text": "tool"}}
    c = eng.count(spec)
    brute = docs.filter(
        F.array_contains(F.split(F.lower("text"), "[^0-9a-z]+"), "tool")
    ).count()
    assert c["relation"] == "eq" and c["count"] == brute > 0
    # bool composition counts through the same full-frame path
    cb = eng.count({"bool": {"must": [spec], "must_not": [
        {"match": {"query_text": "zzzznope"}}]}})
    assert cb["count"] == c["count"]

    ids = [r["doc_id"] for r in docs.select("doc_id").limit(3).collect()]
    got = eng.mget(ids + [123456789]).toPandas()
    assert sorted(got["doc_id"]) == sorted(ids)  # missing id absent

    # delete_by_query: matched docs vanish from results, stats unchanged
    top_before = bm25_topk(idx, "tool", k=5).toPandas()
    assert len(top_before) > 0
    rep = eng.delete_by_query(spec, dry_run=True)
    assert rep["total"] == c["count"] and rep["deleted"] == c["count"]
    assert idx.deletes is None  # dry run attached nothing
    rep2 = eng.delete_by_query(spec)
    assert rep2["deleted"] == c["count"]
    assert idx.deletes is not None and len(idx.deletes) == c["count"]
    assert bm25_topk(idx, "tool", k=5).count() == 0
    # idempotent: second pass deletes nothing new
    rep3 = eng.delete_by_query(spec)
    assert rep3["deleted"] == 0 and rep3["total"] == c["count"]
    idx.with_deletes(None)


def test_field_caps_and_reindex(spark, transcripts_df, small_index, tmp_path):
    from neural_search_spark.engine import Engine
    from neural_search_spark.index.build import doc_id_col
    from neural_search_spark.query.bm25 import BM25Index, bm25_topk

    docs = transcripts_df.withColumn("doc_id", doc_id_col())
    eng = Engine(spark, corpus=docs, bm25_index=BM25Index(spark, small_index))

    caps = eng.field_caps()
    assert caps["text"] == {
        "type": "text", "searchable": True, "aggregatable": False
    }
    assert caps["doc_id"]["type"] == "long" and caps["doc_id"]["aggregatable"]
    assert caps["ts"]["type"] == "date"

    # reindex a query's matched set into a fresh index: only matched docs
    # are searchable there, and layout params inherit from the attached
    out_dir = str(tmp_path / "reindexed")
    spec = {"match": {"query_text": "tool"}}
    info = eng.reindex(out_dir, spec=spec)
    sub = BM25Index(spark, out_dir)
    assert info["n_docs"] == eng.count(spec)["count"] == sub.n_docs
    assert sub.n_shards == eng.bm25_index.n_shards
    full_ids = {
        int(r["doc_id"])
        for r in eng._matched_scored(spec).select("doc_id").collect()
    }
    hits = {int(r["doc_id"]) for r in bm25_topk(sub, "tool", k=10_000).collect()}
    assert hits and hits <= full_ids

    # reindex with a transform: the new index serves the rewritten text
    out2 = str(tmp_path / "reindexed2")
    eng.reindex(out2, spec=spec, set_exprs={"text": "concat(text, ' zzrx')"})
    assert bm25_topk(BM25Index(spark, out2), "zzrx", k=5).count() > 0
