"""End-to-end rank-identity: block-max engine vs numpy oracle vs Catalyst
join scorer, on deterministic synthetic transcripts (FIXTURES.md §2)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from neural_search_spark.index.build import IndexBuilder, doc_id_col
from neural_search_spark.oracle import BM25Oracle
from neural_search_spark.query.bm25 import (
    BM25Index,
    bm25_score_all_join,
    bm25_topk,
    driver_route,
    weighted_term_topk,
)
from neural_search_spark.query.multiterm import multiterm_topk
from neural_search_spark.transcripts import generate_queries


@pytest.fixture(scope="module")
def oracle(spark, transcripts_df):
    docs = (
        transcripts_df.select(doc_id_col().alias("doc_id"), "text")
        .toPandas()
    )
    return BM25Oracle(docs)


@pytest.fixture(scope="module")
def index(spark, transcripts_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "bm25_index")
    builder = IndexBuilder(spark, out, n_shards=8, block_size=64)
    res = builder.build(transcripts_df)
    assert res["n_docs"] == transcripts_df.count()
    return BM25Index(spark, out)


QUERIES = generate_queries(20)


@pytest.mark.parametrize("qid", QUERIES["query_id"].tolist())
def test_rank_identity_blockmax(spark, index, oracle, qid):
    row = QUERIES[QUERIES["query_id"] == qid].iloc[0]
    expected = oracle.topk(row["query_text"], k=int(row["k"]))
    got = bm25_topk(
        index, row["query_text"], k=int(row["k"]), mode="distributed"
    ).toPandas()
    assert got["doc_id"].tolist() == expected["doc_id"].tolist(), (
        f"docID mismatch for {qid} ({row['query_text']!r})"
    )
    np.testing.assert_allclose(
        got["score"].to_numpy(),
        expected["score"].to_numpy(),
        rtol=1e-6,
        err_msg=f"score mismatch for {qid}",
    )


def test_rank_identity_treeaggregate(spark, index, oracle):
    row = QUERIES.iloc[2]
    expected = oracle.topk(row["query_text"], k=10)
    got = bm25_topk(index, row["query_text"], k=10, merge="treeAggregate").toPandas()
    assert got["doc_id"].tolist() == expected["doc_id"].tolist()
    np.testing.assert_allclose(
        got["score"].to_numpy(), expected["score"].to_numpy(), rtol=1e-6
    )


def test_join_scorer_matches_oracle(spark, transcripts_df, oracle):
    q = QUERIES.iloc[4]["query_text"]
    ids, scores = oracle.score_all(q)
    exp = pd.DataFrame({"doc_id": ids, "score": scores}).sort_values("doc_id")
    got = (
        bm25_score_all_join(spark, transcripts_df, q)
        .orderBy("doc_id")
        .toPandas()
    )
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    np.testing.assert_allclose(
        got["score"].to_numpy(), exp["score"].to_numpy(), rtol=1e-5
    )


def test_empty_query_and_absent_term(spark, index):
    assert bm25_topk(index, "", k=10).count() == 0
    assert bm25_topk(index, "zzabsent9999", k=10).count() == 0


def test_hot_term_query_hits_many_docs(spark, index, oracle):
    # 'the' is a deliberate hot term (>30% of turns)
    expected = oracle.topk("the", k=10)
    got = bm25_topk(index, "the", k=10).toPandas()
    assert got["doc_id"].tolist() == expected["doc_id"].tolist()


@pytest.mark.parametrize("mode", ["driver", "distributed"])
def test_batch_matches_single(spark, index, mode):
    """bm25_topk_batch is rank-identical to per-query bm25_topk on the
    driver route and on the Spark kernel."""
    from neural_search_spark.query.bm25 import bm25_topk_batch

    idx = index
    qs = generate_queries(10).to_dict("records")
    pairs = [(r["query_id"], r["query_text"]) for r in qs]
    batch = bm25_topk_batch(idx, pairs, k=10, mode=mode).toPandas()
    for rec in qs:
        single = bm25_topk(idx, rec["query_text"], k=10).toPandas()
        got = (
            batch[batch.query_id == rec["query_id"]]
            .sort_values("rank")
            .reset_index(drop=True)
        )
        assert list(got.doc_id) == list(single.doc_id), rec["query_text"]
        assert list(got.score) == list(single.score)


def test_driver_batch_union_larger_than_cache(spark, index):
    """A batch whose union of terms exceeds the driver cache's term
    bound, scored over a pre-filled cache: every query still equals its
    own bm25_topk. Evicting before the last query is scored would drop
    terms the later queries need; the cache ends within its bound."""
    from neural_search_spark.query.bm25 import bm25_topk_batch

    idx = BM25Index(spark, index.path)
    idx.driver_cache_terms = 4
    bm25_topk(idx, "the tool call w0001", k=10, mode="driver").collect()
    assert len(idx._driver_cache) == 4
    texts = {
        "a": "the tool w0001",
        "b": "w0250 w0100 model",
        "c": "call w0005 the user",
        "d": "w0010 w0020 w0030 w0040",
    }
    got = bm25_topk_batch(
        idx, list(texts.items()), k=10, mode="driver"
    ).toPandas()
    assert len(idx._driver_cache) <= 4
    for qid, text in texts.items():
        want = bm25_topk(index, text, k=10, mode="driver").toPandas()
        g = got[got.query_id == qid].sort_values("rank")
        assert list(g.doc_id) == list(want.doc_id), text
        assert list(g.score) == list(want.score), text
        assert list(g["rank"]) == list(range(1, len(g) + 1))


def test_salted_hot_term_build_rank_identity(
    spark, transcripts_df, oracle, tmp_path_factory
):
    """Force hot-term salting (tiny per-task target) and verify the salted
    index is still rank-identical — blocks of a split term stay globally
    doc-ordered because salts are doc_id-RANGE based."""
    out = str(tmp_path_factory.mktemp("idx") / "salted")
    res = IndexBuilder(
        spark, out, n_shards=4, block_size=64, target_postings_per_task=20
    ).build(transcripts_df)
    assert res["hot_terms_split"] > 0
    idx = BM25Index(spark, out)
    for qt in ["the", "the tool call", "w0001 the model"]:
        expected = oracle.topk(qt, k=10)
        got = bm25_topk(idx, qt, k=10).toPandas()
        assert got["doc_id"].tolist() == expected["doc_id"].tolist(), qt
        np.testing.assert_allclose(
            got["score"].to_numpy(), expected["score"].to_numpy(), rtol=1e-6
        )


@pytest.mark.parametrize("qid", QUERIES["query_id"].tolist()[:8])
def test_rank_identity_driver_mode(spark, index, oracle, qid):
    """Coordinator-side execution path (pyarrow, zero Spark jobs) is
    rank-identical to the oracle and to the distributed path."""
    from neural_search_spark.query.bm25 import bm25_topk

    row = QUERIES[QUERIES["query_id"] == qid].iloc[0]
    expected = oracle.topk(row["query_text"], k=10)
    got = bm25_topk(index, row["query_text"], k=10, mode="driver").toPandas()
    assert got["doc_id"].tolist() == expected["doc_id"].tolist(), qid
    np.testing.assert_allclose(
        got["score"].to_numpy(), expected["score"].to_numpy(), rtol=1e-6
    )


# ---------------------------------------------------------------------------
# operator=and / minimum_should_match (term-coverage gating)
# ---------------------------------------------------------------------------
def test_parse_min_match():
    from neural_search_spark.query.bm25 import parse_min_match

    assert parse_min_match("and", None, 4) == 4
    assert parse_min_match("or", None, 4) == 1
    assert parse_min_match("or", 2, 4) == 2
    assert parse_min_match("or", -1, 4) == 3        # n - |m|
    assert parse_min_match("or", "75%", 4) == 3     # floor(4 * .75)
    assert parse_min_match("or", "50%", 3) == 1     # floor(1.5)
    assert parse_min_match("or", "-25%", 4) == 3    # n - trunc(n*.25)
    # Java int cast truncates toward zero: '-25%' of 10 is 10 - 2 = 8,
    # NOT 10 + floor(-2.5) = 7 (Queries.calculateMinShouldMatch)
    assert parse_min_match("or", "-25%", 10) == 8
    assert parse_min_match("or", "-75%", 10) == 3   # 10 - trunc(7.5)
    # msm above the clause count stays unclamped — Lucene treats it as
    # unmatchable and callers return empty (see test_and_with_oov_term)
    assert parse_min_match("or", 9, 4) == 9
    with pytest.raises(ValueError):
        parse_min_match("xor", None, 4)


def test_min_match_above_clause_count_is_empty(spark, index):
    """msm greater than the clause count is unmatchable (Lucene
    BooleanQuery), not clamped down to an AND."""
    # 'the tool' has 2 clauses; msm=3 must match nothing even though
    # docs containing both terms exist
    assert (
        bm25_topk(index, "the tool", k=10, minimum_should_match=3).count()
        == 0
    )


@pytest.mark.parametrize("mode", ["driver", "distributed"])
def test_min_match_rank_identity(spark, index, oracle, mode):
    """Coverage-gated match vs the numpy oracle: the gate changes WHICH
    docs rank, never how survivors score."""
    qt = "the tool call w0001"
    n = len(set(qt.split()))
    for mm in (2, 3, n):
        expected = oracle.topk(qt, k=10, min_match=mm)
        got = bm25_topk(
            index, qt, k=10, mode=mode, minimum_should_match=mm
        ).toPandas()
        assert got["doc_id"].tolist() == expected["doc_id"].tolist(), (mode, mm)
        np.testing.assert_allclose(
            got["score"].to_numpy(), expected["score"].to_numpy(), rtol=1e-6
        )
    # operator=and == msm=n
    got_and = bm25_topk(index, qt, k=10, mode=mode, operator="and").toPandas()
    exp_and = oracle.topk(qt, k=10, min_match=n)
    assert got_and["doc_id"].tolist() == exp_and["doc_id"].tolist()


@pytest.fixture(scope="module")
def coverage_corpus(spark, tmp_path_factory):
    """A one-shard index where a rare term's high partial scores fail
    coverage. Ten docs hold only 'alpha' (tf 6): each outscores any doc
    of the common terms bravo/charlie/delta, so a MaxScore theta taken
    over candidates that may still fail coverage would shut out the
    bravo/charlie/delta docs that do rank under msm 2 or 3."""
    rng = np.random.default_rng(11)
    texts = ["alpha " * 6] * 10 + ["alpha bravo charlie delta"] * 2
    for i in range(388):
        common = [t for t in ("bravo", "charlie", "delta") if rng.random() < 0.5]
        texts.append(" ".join(common + [f"w{i % 37}"] * int(rng.integers(1, 4))))
    df = spark.createDataFrame(
        [(f"c{i}", 0, "user", t.strip(), "", None) for i, t in enumerate(texts)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = str(tmp_path_factory.mktemp("coverage") / "idx")
    IndexBuilder(spark, out, n_shards=1, block_size=16).build(df)
    docs = df.select(doc_id_col().alias("doc_id"), "text").toPandas()
    return BM25Index(spark, out), BM25Oracle(docs)


@pytest.mark.parametrize("tombstones", [False, True])
def test_distributed_coverage_matches_oracle(coverage_corpus, tombstones):
    """Forced-distributed and / msm 2 / msm '-25%' equal the oracle's
    min_match top-k, with and without tombstones (deleted docs vanish,
    live scores are unchanged)."""
    idx, orc = coverage_corpus
    qt, k = "alpha bravo charlie delta", 5
    dels = []
    if tombstones:
        full = orc.topk(qt, k=40, min_match=2)
        dels = full.doc_id.tolist()[:3:2]
    idx.with_deletes(dels or None)
    try:
        for kw, m in (
            ({"operator": "and"}, 4),
            ({"minimum_should_match": 2}, 2),
            ({"minimum_should_match": "-25%"}, 3),
        ):
            exp = orc.topk(qt, k=k + len(dels), min_match=m)
            exp = exp[~exp.doc_id.isin(dels)].head(k)
            for merge in ("takeOrdered", "treeAggregate"):
                got = bm25_topk(
                    idx, qt, k=k, mode="distributed", merge=merge, **kw
                ).toPandas()
                assert got.doc_id.tolist() == exp.doc_id.tolist(), (kw, merge)
                np.testing.assert_allclose(
                    got.score.to_numpy(), exp.score.to_numpy(), rtol=1e-6
                )
    finally:
        idx.with_deletes(None)


def test_min_match_subset_of_or(spark, index, oracle):
    """Every AND result is an OR result with identical score."""
    qt = "the tool call"
    or_all = dict(
        zip(*oracle.score_all(qt))
    )
    got = bm25_topk(index, qt, k=50, operator="and").toPandas()
    assert len(got) > 0, "fixture corpus should have all-three-term docs"
    for did, sc in zip(got.doc_id, got.score):
        assert did in or_all
        np.testing.assert_allclose(sc, or_all[did], rtol=1e-6)


def test_and_with_oov_term_is_empty(spark, index):
    assert bm25_topk(index, "the zz9qx", k=10, operator="and").count() == 0
    # msm counting OOV clauses: 2 required but only 1 satisfiable -> empty
    assert (
        bm25_topk(index, "the zz9qx", k=10, minimum_should_match=2).count()
        == 0
    )


def test_min_match_engine_scan_matches_index(spark, index, transcripts_df, oracle):
    """The corpus-scan route (Engine with a filter) applies the same gate."""
    from neural_search_spark.engine import Engine, spec_from_json

    docs = transcripts_df.withColumn("doc_id", doc_id_col())
    eng = Engine(spark, corpus=docs, bm25_index=index)
    spec = spec_from_json(
        {"match": {"query_text": "the tool call", "operator": "and"}}
    )
    via_index = eng.search(spec, k=10).toPandas()
    spec2 = spec_from_json(
        {"match": {"query_text": "the tool call", "operator": "and"}}
    )
    spec2.filter = F.lit(True)
    via_scan = eng.search(spec2, k=10).toPandas()

    # the index kernels rank on the float32 cast while corpus scans rank
    # on raw doubles — canonicalize both to (f32 score desc, doc_id asc)
    # before comparing, the same tie convention the oracle uses
    def canon(df):
        f32 = df.score.to_numpy().astype(np.float32)
        order = np.lexsort((df.doc_id.to_numpy(), -f32.astype(np.float64)))
        return df.doc_id.to_numpy()[order].tolist(), f32[order]

    ids_i, sc_i = canon(via_index)
    ids_s, sc_s = canon(via_scan)
    assert ids_i == ids_s
    np.testing.assert_allclose(sc_i, sc_s, rtol=1e-5)


def test_msearch_batches_option_carrying_match(spark, index, oracle, transcripts_df):
    """msearch batches match specs per (operator, minimum_should_match):
    an AND spec beside a plain one returns the AND results, not the OR
    results."""
    from neural_search_spark.engine import Engine

    docs = transcripts_df.withColumn("doc_id", doc_id_col())
    eng = Engine(spark, corpus=docs, bm25_index=index)
    out = eng.msearch(
        {
            "plain": {"match": {"query_text": "the tool call"}},
            "anded": {"match": {"query_text": "the tool call",
                                 "operator": "and"}},
        },
        k=10,
    ).toPandas()
    got_and = out[out.query_id == "anded"].sort_values("rank")
    exp_and = oracle.topk("the tool call", k=10, min_match=3)
    assert got_and.doc_id.tolist() == exp_and.doc_id.tolist()
    got_or = out[out.query_id == "plain"].sort_values("rank")
    exp_or = oracle.topk("the tool call", k=10)
    assert got_or.doc_id.tolist() == exp_or.doc_id.tolist()


def test_arrow_tf_kernel_matches_catalyst_groupby(spark, transcripts_df):
    """The exchange-free Arrow tf kernel (postings_from_tokens) is
    row-for-row identical to the Catalyst explode→groupBy twin — the
    builder's posting stream, term stats and salt plan all hang off it.
    Covers empty-token docs (no postings either way) and repeated terms
    (tf > 1)."""
    from neural_search_spark.index.build import (
        postings_from_tokens,
        postings_from_tokens_catalyst,
        tokenized_turns,
    )

    toks = tokenized_turns(transcripts_df)
    a = postings_from_tokens(toks)
    b = postings_from_tokens_catalyst(toks)
    # symmetric difference must be empty: every (doc, dl, tid, tf) row
    # appears exactly once on each side
    bad = (
        a.unionAll(b)
        .groupBy("doc_id", "dl", "tid", "tf")
        .count()
        .filter(F.col("count") != 2)
        .count()
    )
    assert bad == 0
    assert a.count() == b.count() > 0


def test_postings_plan_has_no_exchange(spark, transcripts_df):
    """The posting stream must reach the salted repartition WITHOUT a
    doc-keyed exchange: tf is computed row-locally by the Arrow kernel,
    so postings_from_tokens plans zero Exchange nodes — the structural
    guarantee that the salted repartition-by-term stays the build's only
    full-data shuffle."""
    import contextlib
    import io

    from neural_search_spark.index.build import (
        postings_from_tokens,
        tokenized_turns,
    )

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        postings_from_tokens(tokenized_turns(transcripts_df)).explain(
            "formatted"
        )
    tree = buf.getvalue().split("\n\n")[0]
    assert tree.count("Exchange") == 0


def test_null_text_docs_produce_no_postings(spark):
    """A null-text turn tokenizes to a null token cell; both tf kernels
    and the positions kernel must drop it (the Lucene analog: a document
    with no tokens simply has no postings)."""
    from neural_search_spark.index.build import (
        postings_from_tokens,
        postings_from_tokens_catalyst,
        tokenized_turns,
    )
    from neural_search_spark.index.positions import positions_table

    df = spark.createDataFrame(
        [("c1", 0, "user", "hello world hello", "", None),
         ("c1", 1, "assistant", None, "", None),
         ("c2", 0, "user", None, "", None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    toks = tokenized_turns(df)
    a = postings_from_tokens(toks).toPandas()
    b = postings_from_tokens_catalyst(toks).toPandas()
    assert len(a) == len(b) == 2  # hello(tf2) + world, from the one live doc
    assert sorted(a.tf.tolist()) == sorted(b.tf.tolist()) == [1, 2]
    p = positions_table(df).toPandas()
    assert len(p) == 2
    assert sorted(map(tuple, p.positions)) == [(0, 2), (1,)]


@pytest.mark.parametrize("mode", ["Driver", "distrib", ""])
@pytest.mark.parametrize(
    "kernel",
    [
        lambda idx, mode: bm25_topk(idx, "the tool", k=5, mode=mode),
        lambda idx, mode: weighted_term_topk(idx, {"the": 1.0}, k=5, mode=mode),
        lambda idx, mode: multiterm_topk(idx, "th", kind="prefix", k=5, mode=mode),
        lambda idx, mode: driver_route(mode, 0),
    ],
    ids=["bm25_topk", "weighted_term_topk", "multiterm_topk", "driver_route"],
)
def test_unknown_mode_raises(index, kernel, mode):
    """A typo'd mode raises instead of silently running distributed."""
    with pytest.raises(ValueError, match="mode must be"):
        kernel(index, mode)
