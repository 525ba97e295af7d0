"""Lucene liveDocs semantics, both halves of the lifecycle:

* query-time tombstones (``BM25Index.with_deletes``) exclude docs from
  every query path WITHOUT changing live docs' scores — n_docs/df/avgdl
  stay stale exactly like Lucene's idf until segments merge;
* merge-time expunge (``merge_indexes(..., deletes=...)``) makes the
  deletion permanent AND re-derives the stats, so the expunged index is
  query-identical to a from-scratch rebuild over the live corpus.

Reference analog: Lucene liveDocs bitsets + IndexWriter.forceMergeDeletes
(the host behavior OpenSearch gives the reference plugin for free).
"""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from neural_search_spark.index.build import IndexBuilder, doc_id_col
from neural_search_spark.index.merge import merge_indexes
from neural_search_spark.query.bm25 import (
    BM25Index,
    _live_mask,
    bm25_topk,
    bm25_topk_batch,
)

QUERIES = ["the", "w0001 w0250", "tool call model", "w0100"]


@pytest.fixture(scope="module")
def del_setup(spark, transcripts_df, tmp_path_factory):
    """Full index + a tombstone set chosen to visibly change results:
    the top-5 docs of the densest query."""
    root = str(tmp_path_factory.mktemp("deletes"))
    full_dir = os.path.join(root, "full")
    IndexBuilder(spark, full_dir, n_shards=4, block_size=64).build(
        transcripts_df
    )
    idx = BM25Index(spark, full_dir)
    dels = [
        int(d) for d in bm25_topk(idx, "the", k=5).toPandas().doc_id
    ]
    return root, full_dir, sorted(dels)


def _expected(index, q, dels, k, **kw):
    """Ground truth for tombstones: the UNDELETED ranking minus the
    tombstoned rows (stale stats ⇒ live docs' scores must not move)."""
    base = bm25_topk(index, q, k=200, **kw).toPandas()
    live = base[~base.doc_id.isin(dels)].head(k).reset_index(drop=True)
    return live


@pytest.mark.parametrize(
    "kw",
    [
        {"mode": "distributed"},
        {"mode": "driver"},
        {"merge": "treeAggregate"},
    ],
    ids=["distributed", "driver", "treeagg"],
)
def test_tombstones_every_query_path(spark, del_setup, kw):
    _, full_dir, dels = del_setup
    clean = BM25Index(spark, full_dir)
    tomb = BM25Index(spark, full_dir).with_deletes(
        spark.createDataFrame([(d,) for d in dels], "doc_id long")
    )
    for q in QUERIES:
        want = _expected(clean, q, dels, k=10, **kw)
        got = bm25_topk(tomb, q, k=10, **kw).toPandas()
        assert list(got.doc_id) == list(want.doc_id), (q, kw)
        # float32-exact: stale stats mean live scores are untouched
        assert list(got.score) == list(want.score), (q, kw)
        assert list(got["rank"]) == list(range(1, len(got) + 1))


@pytest.mark.parametrize("mode", ["driver", "distributed"])
def test_tombstones_batch_path(spark, del_setup, mode):
    _, full_dir, dels = del_setup
    clean = BM25Index(spark, full_dir)
    tomb = BM25Index(spark, full_dir).with_deletes(dels)
    got = (
        bm25_topk_batch(tomb, [(q, q) for q in QUERIES], k=10, mode=mode)
        .toPandas()
        .sort_values(["query_id", "rank"])
    )
    for q in QUERIES:
        want = _expected(clean, q, dels, k=10)
        g = got[got.query_id == q]
        assert list(g.doc_id) == list(want.doc_id), q
        assert list(g.score) == list(want.score), q


def test_tombstones_clear_and_noop(spark, del_setup):
    _, full_dir, dels = del_setup
    idx = BM25Index(spark, full_dir)
    base = bm25_topk(idx, "the", k=10).toPandas()
    # deleting absent ids is a no-op (fast path returns None mask)
    idx.with_deletes([10**18 + 7, 10**18 + 9])
    same = bm25_topk(idx, "the", k=10).toPandas()
    assert list(same.doc_id) == list(base.doc_id)
    idx.with_deletes(dels)
    changed = bm25_topk(idx, "the", k=10).toPandas()
    assert not set(dels) & set(changed.doc_id)
    idx.with_deletes(None)  # clear restores the original ranking
    back = bm25_topk(idx, "the", k=10).toPandas()
    assert list(back.doc_id) == list(base.doc_id)
    assert list(back.score) == list(base.score)


def test_live_mask_kernel():
    dels = np.array([3, 7, 11], dtype=np.int64)
    ids = np.array([1, 3, 5, 7, 12], dtype=np.int64)
    m = _live_mask(ids, dels)
    assert list(ids[m]) == [1, 5, 12]
    assert _live_mask(ids, None) is None
    assert _live_mask(ids, np.array([], dtype=np.int64)) is None
    # no hits → None (zero-cost path), including ids past the last tombstone
    assert _live_mask(np.array([2, 13], dtype=np.int64), dels) is None


def test_merge_expunge_matches_live_rebuild(
    spark, transcripts_df, del_setup
):
    """Expunge during merge == from-scratch build over corpus minus the
    deleted docs: n_docs, avgdl, per-term df/cf, and query results."""
    root, _, dels = del_setup
    a_dir, b_dir = os.path.join(root, "a"), os.path.join(root, "b")
    half = F.pmod(doc_id_col(), F.lit(2))
    for out, i in ((a_dir, 0), (b_dir, 1)):
        IndexBuilder(spark, out, n_shards=4, block_size=64).build(
            transcripts_df.filter(half == i)
        )
    dels_df = spark.createDataFrame([(d,) for d in dels], "doc_id long")
    merged_dir = os.path.join(root, "expunged")
    info = merge_indexes(spark, [a_dir, b_dir], merged_dir, deletes=dels_df)
    assert info["docs_expunged"] == len(dels)

    live_dir = os.path.join(root, "live_rebuild")
    live_df = transcripts_df.withColumn("_did", doc_id_col()).filter(
        ~F.col("_did").isin(dels)
    ).drop("_did")
    IndexBuilder(spark, live_dir, n_shards=4, block_size=64).build(live_df)

    merged = BM25Index(spark, merged_dir)
    rebuilt = BM25Index(spark, live_dir)
    assert merged.n_docs == rebuilt.n_docs == info["n_docs"]
    assert abs(merged.avgdl - rebuilt.avgdl) < 1e-9 * rebuilt.avgdl
    tm = pd.read_parquet(os.path.join(merged_dir, "terms")).sort_values("term")
    tr = pd.read_parquet(os.path.join(live_dir, "terms")).sort_values("term")
    assert list(tm.term) == list(tr.term)
    assert list(tm.df) == list(tr.df)
    assert list(tm.cf) == list(tr.cf)
    for q in QUERIES:
        a = bm25_topk(merged, q, k=10).toPandas()
        b = bm25_topk(rebuilt, q, k=10).toPandas()
        assert list(a.doc_id) == list(b.doc_id), q
        assert np.allclose(a.score, b.score, rtol=1e-6), q
        assert not set(dels) & set(a.doc_id)
