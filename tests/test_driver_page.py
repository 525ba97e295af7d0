"""The index kernel's page is the search result: Engine.search returns an
index-route kernel's (doc_id, score, rank) page as is, with no re-sort.

Two guards follow from that. Interactive match queries on the driver
route run no Spark job at all, and every index-route family must hand
back a page that is already final: score descending, doc_id ascending
on ties, rank 1..n, n ≤ k — on the driver route and on the distributed
one."""

import uuid

import pytest
from pyspark.sql import functions as F

import neural_search_spark.query.bm25 as bm25_mod
from neural_search_spark.engine import Engine
from neural_search_spark.index.build import IndexBuilder, doc_id_col

K = 7


@pytest.fixture(scope="module")
def page_eng(spark, transcripts_df, tmp_path_factory):
    """A BM25 index with the positions sidecar, a sparse index and a
    second per-field index, so every index route is open."""
    from neural_search_spark.index.positions import build_positions
    from neural_search_spark.index.sparse import SparseIndex, SparseIndexBuilder
    from neural_search_spark.query.bm25 import BM25Index
    from neural_search_spark.tokenizer import tokenize_expr

    base = tmp_path_factory.mktemp("pages")
    text_dir, tag_dir = str(base / "text"), str(base / "tag")
    sparse_dir = str(base / "sparse")
    IndexBuilder(spark, text_dir, n_shards=4, block_size=64).build(
        transcripts_df
    )
    build_positions(spark, text_dir, transcripts_df)
    IndexBuilder(spark, tag_dir, n_shards=4, block_size=64).build(
        transcripts_df.select(
            "conv_id", "turn_idx", F.col("conv_id").alias("text")
        )
    )
    corpus = transcripts_df.withColumn("doc_id", doc_id_col())
    tall = (
        corpus.select("doc_id", F.explode(tokenize_expr("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("float").alias("weight"))
    )
    SparseIndexBuilder(spark, sparse_dir, n_shards=4, block_size=64).build(tall)
    text = BM25Index(spark, text_dir)
    return Engine(
        spark,
        corpus=corpus,
        bm25_index=text,
        sparse_index=SparseIndex(spark, sparse_dir),
        field_indexes={"text": text, "tag": BM25Index(spark, tag_dir)},
    )


def _jobs(spark, fn):
    """(Spark jobs fn launched, fn's result), counted under a fresh
    job group through the status tracker."""
    sc = spark.sparkContext
    tag = f"page-{uuid.uuid4().hex}"
    sc.setJobGroup(tag, tag)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus; drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(tag)), out


def test_job_counter_sees_jobs(spark):
    n, _ = _jobs(spark, lambda: spark.range(10).filter("id > 3").collect())
    assert n >= 1


@pytest.mark.parametrize(
    "body",
    [
        {"match": {"query_text": "tool"}},
        {"match": {"query_text": "zzznotaterm"}},
        {"match": {"query_text": "tool call w0005"}},
        {"match": {"query_text": "tool call", "operator": "and"}},
    ],
    ids=["in_vocabulary", "absent", "multi_term", "operator_and"],
)
def test_driver_match_runs_no_spark_job(spark, page_eng, body):
    n, rows = _jobs(spark, lambda: page_eng.search(body, k=K).collect())
    assert n == 0
    if body["match"]["query_text"] == "zzznotaterm":
        assert rows == []
    else:
        assert rows


FAMILIES = {
    "match_or": {"match": {"query_text": "tool call w0005"}},
    "match_and": {"match": {"query_text": "tool call", "operator": "and"}},
    "match_msm": {
        "match": {"query_text": "tool call w0005", "minimum_should_match": 2}
    },
    "match_fuzzy": {"match": {"query_text": "tol", "fuzziness": 1}},
    "fuzzy": {"fuzzy": {"value": "cal"}},
    "prefix": {"prefix": {"value": "w00"}},
    "wildcard": {"wildcard": {"value": "w00?1"}},
    "terms": {"terms": {"values": ["tool", "call", "w0005"]}},
    "match_phrase": {"match_phrase": {"query_text": "the call"}},
    "neural_sparse": {"neural_sparse": {"query_text": "tool call w0005"}},
    "multi_match_best": {
        "multi_match": {
            "query_text": "tool conv00000001", "fields": ["text", "tag^2.5"],
        }
    },
    "multi_match_most": {
        "multi_match": {
            "query_text": "tool conv00000001", "fields": ["text", "tag"],
            "match_type": "most_fields",
        }
    },
    "multi_match_cross": {
        "multi_match": {
            "query_text": "tool conv00000001", "fields": ["text", "tag"],
            "match_type": "cross_fields",
        }
    },
    "span": {
        "span_near": {
            "clauses": [
                {"span_term": {"value": "tool"}},
                {"span_term": {"value": "call"}},
            ],
            "slop": 2,
        }
    },
}


@pytest.mark.parametrize("route", ["driver", "distributed"])
@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_index_page_is_final(page_eng, monkeypatch, family, route):
    body = FAMILIES[family]
    assert page_eng.explain_route(body)["route"] == "index"
    if route == "distributed":
        # no query's Σdf fits the driver budget: every kernel distributes
        monkeypatch.setattr(bm25_mod, "DRIVER_MAX_POSTINGS", -1)
    rows = [
        (r["doc_id"], r["score"], r["rank"])
        for r in page_eng.search(body, k=K).collect()
    ]
    assert 0 < len(rows) <= K
    assert rows == sorted(rows, key=lambda r: (-r[1], r[0]))
    assert [r[2] for r in rows] == list(range(1, len(rows) + 1))
