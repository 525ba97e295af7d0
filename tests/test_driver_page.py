"""The index kernel's page is the search result: Engine.search returns an
index-route kernel's (doc_id, score, rank) page as is, with no re-sort.

Three guards follow from that. Interactive match queries on the driver
route run no Spark job at all (nor do the per-field page unions of
multi_match phrase / bool_prefix and search_as_you_type); a driver page
is a ``LocalPage`` that is read without a single py4j round trip and
behaves as the eager local relation of its Arrow table would; and every
index-route family must hand back a page that is already final: score
descending, doc_id ascending on ties, rank 1..n, n ≤ k — on the driver
route and on the distributed one."""

import gc
import threading
import uuid

import numpy as np
import pandas.testing as pdt
import pytest
from py4j.java_gateway import GatewayClient
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import neural_search_spark.query.bm25 as bm25_mod
from neural_search_spark.engine import Engine
from neural_search_spark.index.build import IndexBuilder, doc_id_col
from neural_search_spark.ranking import (
    LocalPage,
    empty_batch_page,
    local_batch_page,
    local_page,
)

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
    tag_src = transcripts_df.select(
        "conv_id", "turn_idx", F.col("conv_id").alias("text")
    )
    IndexBuilder(spark, tag_dir, n_shards=4, block_size=64).build(tag_src)
    build_positions(spark, tag_dir, tag_src)
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


def _trips(fn):
    """(py4j round trips fn made, fn's result). Only the calling thread's
    commands count, and cyclic GC is held off in the window: releases of
    earlier Java objects, which py4j's finalizer thread sends, are not
    fn's round trips."""
    sent = []
    send = GatewayClient.send_command
    caller = threading.get_ident()

    def counted(self, command, *args, **kwargs):
        if threading.get_ident() == caller:
            sent.append(command)
        return send(self, command, *args, **kwargs)

    gc.collect()
    gc.disable()
    GatewayClient.send_command = counted
    try:
        out = fn()
    finally:
        GatewayClient.send_command = send
        gc.enable()
    return len(sent), out


def test_job_counter_sees_jobs(spark):
    n, _ = _jobs(spark, lambda: spark.range(10).filter("id > 3").collect())
    assert n >= 1


def test_trip_counter_sees_trips(spark):
    n, _ = _trips(lambda: spark.range(3).count())
    assert n >= 1


def test_driver_match_page_makes_no_py4j_round_trip(page_eng):
    """A driver-route match and every read of its page stay in Python:
    the page is a LocalPage, and collect/toPandas/count never cross
    into the JVM."""
    body = {"match": {"query_text": "tool call w0005"}}
    page_eng.search(body, k=K).collect()  # warm the driver cache

    def serve():
        page = page_eng.search(body, k=K)
        return page, page.collect(), page.toPandas(), page.count()

    n, (page, rows, pdf, count) = _trips(serve)
    assert n == 0
    assert isinstance(page, LocalPage)
    assert rows and count == len(rows) == len(pdf)
    assert list(pdf["doc_id"]) == [r["doc_id"] for r in rows]


def test_driver_msearch_page_makes_no_py4j_round_trip(page_eng):
    """An msearch of match and match_bool_prefix specs below the driver
    gate is one LocalPage — its batch pages joined in Arrow — and never
    crosses into the JVM."""
    specs = {
        "or": {"match": {"query_text": "tool call w0005"}},
        "and": {"match": {"query_text": "tool call", "operator": "and"}},
        "bp": {"match_bool_prefix": {"query_text": "the tool ca"}},
    }
    page_eng.msearch(specs, k=K).collect()

    def serve():
        page = page_eng.msearch(specs, k=K)
        return page, page.collect()

    n, (page, rows) = _trips(serve)
    assert n == 0
    assert isinstance(page, LocalPage)
    assert {r["query_id"] for r in rows} == set(specs)
    assert all(isinstance(r["score"], float) for r in rows)
    assert page.schema["score"].dataType.simpleString() == "double"


PAGES = {
    "empty_float": lambda s: local_page(s, [], np.float32([])),
    "double": lambda s: local_page(s, [5, 3, 9], [2.5, 1.25, 1.25]),
    "batch": lambda s: local_batch_page(
        s, ["a", "a", "b"], [4, 2, 4], np.float32([3.5, 2.0, 1.5])
    ),
    "empty_batch": empty_batch_page,
}


@pytest.mark.parametrize("case", sorted(PAGES))
def test_local_page_matches_eager_relation(spark, monkeypatch, case):
    """A LocalPage answers every read as the eager relation of its table
    does, Spark operators applied to it see that same relation, and the
    relation is built once per page."""
    page = PAGES[case](spark)
    eager = spark.createDataFrame(page.toArrow())
    other = spark.createDataFrame([(4, "x"), (5, "y")], ["doc_id", "tag"])
    built = []
    create = SparkSession.createDataFrame

    def counted(self, data, *args, **kwargs):
        built.append(data)
        return create(self, data, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", counted)
    rows = page.collect()
    assert rows == eager.collect()
    assert [r.asDict() for r in rows] == [r.asDict() for r in eager.collect()]
    pdt.assert_frame_equal(page.toPandas(), eager.toPandas())
    assert page.toArrow().equals(eager.toArrow())
    assert page.schema == eager.schema
    assert page.columns == eager.columns and page.dtypes == eager.dtypes
    assert page.count() == eager.count()
    assert page.isEmpty() == eager.isEmpty()
    assert page.isLocal() and eager.isLocal()
    assert page.take(2) == eager.take(2)
    assert page.first() == eager.first()
    assert page.head(5) == eager.head(5)
    assert built == []  # reads alone build no relation

    for op in (
        lambda df: df.join(other, "doc_id"),
        lambda df: df.unionAll(df),
        lambda df: df.filter(F.col("score") > 1.3),
    ):
        assert sorted(op(page).collect()) == sorted(op(eager).collect())
    assert len(built) == 1 and built[0] is page.toArrow()


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
    "multi_match_phrase": {
        "multi_match": {
            "query_text": "the call", "fields": ["text", "tag^2"],
            "match_type": "phrase",
        }
    },
    "multi_match_bool_prefix": {
        "multi_match": {
            "query_text": "tool ca", "fields": ["text", "tag^2"],
            "match_type": "bool_prefix",
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


def test_driver_msearch_of_match_specs_runs_no_spark_job(spark, page_eng):
    """A batch of plain match specs whose union of terms fits the driver
    gate is scored on the driver into one local page, and msearch's
    cast-select folds into that relation: no Spark job."""
    texts = {"a": "tool call", "b": "w0005 the", "c": "zzznotaterm"}
    specs = {q: {"match": {"query_text": t}} for q, t in texts.items()}
    n, rows = _jobs(spark, lambda: page_eng.msearch(specs, k=K).collect())
    assert n == 0
    for qid in ("a", "b"):
        got = [
            (r["doc_id"], r["score"], r["rank"])
            for r in rows
            if r["query_id"] == qid
        ]
        want = [
            (r["doc_id"], r["score"], r["rank"])
            for r in page_eng.search(specs[qid], k=K).collect()
        ]
        assert got == want
    assert not [r for r in rows if r["query_id"] == "c"]


@pytest.mark.parametrize("route", ["driver", "distributed"])
def test_msearch_of_mixed_match_specs_equals_search(
    spark, page_eng, monkeypatch, route
):
    """or / and / msm / match_bool_prefix specs in one msearch each run
    as a batch and equal their own search() page, on both routes; on the
    driver route the whole msearch runs no Spark job."""
    if route == "distributed":
        monkeypatch.setattr(bm25_mod, "DRIVER_MAX_POSTINGS", -1)
    specs = {
        "or": {"match": {"query_text": "tool call w0005"}},
        "or2": {"match": {"query_text": "the user"}},
        "and": {"match": {"query_text": "tool call", "operator": "and"}},
        "msm": {"match": {"query_text": "the tool call w0005",
                          "minimum_should_match": 2}},
        "bp": {"match_bool_prefix": {"query_text": "the tool ca"}},
        "bp2": {"match_bool_prefix": {"query_text": "w00"}},
    }
    n, rows = _jobs(spark, lambda: page_eng.msearch(specs, k=K).collect())
    if route == "driver":
        assert n == 0
    for qid, body in specs.items():
        got = [
            (r["doc_id"], r["score"], r["rank"])
            for r in rows
            if r["query_id"] == qid
        ]
        want = [
            (r["doc_id"], r["score"], r["rank"])
            for r in page_eng.search(body, k=K).collect()
        ]
        assert got and got == want, qid


@pytest.mark.parametrize("family", ["multi_match_phrase", "multi_match_bool_prefix"])
def test_driver_multi_match_union_runs_no_spark_job(spark, page_eng, family):
    """The field-centric multi_match types combine their per-field driver
    pages on the driver: no union/groupBy job."""
    body = FAMILIES[family]
    n, rows = _jobs(spark, lambda: page_eng.search(body, k=K).collect())
    assert n == 0
    assert rows


@pytest.mark.parametrize(
    "family", ["multi_match_phrase", "multi_match_bool_prefix"]
)
def test_driver_multi_match_union_makes_no_py4j_round_trip(page_eng, family):
    """The dis-max union reads its per-field driver pages' Arrow tables:
    no page builds its JVM relation."""
    body = FAMILIES[family]
    page_eng.search(body, k=K).collect()  # warm the driver caches
    n, rows = _trips(lambda: page_eng.search(body, k=K).collect())
    assert n == 0
    assert rows


def test_driver_msearch_of_multi_match_specs_runs_no_spark_job(
    spark, page_eng
):
    """Below the Σdf gate a multi_match batch is scored on the driver
    like a match batch: the msearch is one LocalPage and no Spark job,
    each query's rows equal to its own search."""
    specs = {
        f"{qid}_{i}": {"multi_match": {**FAMILIES[qid]["multi_match"]}}
        for i, qid in enumerate(
            ["multi_match_best", "multi_match_most", "multi_match_best"]
        )
    }
    specs["multi_match_best_2"]["multi_match"]["query_text"] = "call w0005"
    page_eng.msearch(specs, k=K).collect()
    n, page = _jobs(spark, lambda: page_eng.msearch(specs, k=K))
    assert n == 0
    assert isinstance(page, LocalPage)
    rows = page.collect()
    assert {r["query_id"] for r in rows} == set(specs)
    for qid, body in specs.items():
        got = [
            (r["doc_id"], r["score"], r["rank"])
            for r in rows if r["query_id"] == qid
        ]
        want = [
            (r["doc_id"], r["score"], r["rank"])
            for r in page_eng.search(body, k=K).collect()
        ]
        assert got == want, qid


def test_driver_search_as_you_type_runs_no_spark_job(
    spark, page_eng, transcripts_df, tmp_path_factory
):
    from neural_search_spark.query.sayt import (
        build_sayt_indexes,
        search_as_you_type_topk,
    )

    sayt = build_sayt_indexes(
        spark, str(tmp_path_factory.mktemp("sayt_pages")), transcripts_df,
        grams=(2,), n_shards=4, block_size=64,
    )
    sayt[1] = page_eng.field_indexes["text"]
    n, rows = _jobs(
        spark,
        lambda: search_as_you_type_topk(sayt, "tool ca", k=K).collect(),
    )
    assert n == 0
    assert rows
    assert rows == sorted(rows, key=lambda r: (-r["score"], r["doc_id"]))
    # and, warm, not one py4j round trip
    n, again = _trips(
        lambda: search_as_you_type_topk(sayt, "tool ca", k=K).collect()
    )
    assert n == 0
    assert again == rows
