"""_update_by_query: corpus transform semantics, incremental reindex via
source-scoped merge deletes, rank-identity to a from-scratch rebuild."""

import pytest
from pyspark.sql import functions as F

from neural_search_spark.engine import Engine
from neural_search_spark.index.build import IndexBuilder, doc_id_col
from neural_search_spark.index.update import apply_update, update_and_reindex
from neural_search_spark.query.bm25 import BM25Index, bm25_topk


@pytest.fixture(scope="module")
def upd_env(spark, transcripts_df, tmp_path_factory):
    root = tmp_path_factory.mktemp("upd")
    main_dir = str(root / "main")
    IndexBuilder(spark, main_dir, n_shards=4, block_size=64).build(
        transcripts_df
    )
    corpus = transcripts_df.withColumn("doc_id", doc_id_col())
    matched = (
        corpus.filter(F.col("text").rlike(r"(?i)\bw0005\b"))
        .select("doc_id")
        .distinct()
    )
    return {
        "root": root,
        "main": BM25Index(spark, main_dir),
        "corpus": corpus,
        "matched": matched,
    }


def test_apply_update_semantics(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta", 10), (2, "gamma", 20)], "doc_id long, text string, n long"
    )
    matched = spark.createDataFrame([(1,)], "doc_id long")
    out = apply_update(
        df, matched,
        # 'n' reads the PRE-update text length; text changes in the same pass
        {"text": "concat(text, ' zz')", "n": "length(text)", "extra": "n * 2"},
    ).orderBy("doc_id").collect()
    assert out[0]["text"] == "alpha beta zz"
    assert out[0]["n"] == 10  # length of OLD text, not the updated one
    assert out[0]["extra"] == 20  # old n * 2
    # unmatched row untouched; new column NULL
    assert out[1]["text"] == "gamma" and out[1]["n"] == 20
    assert out[1]["extra"] is None


def test_reindex_rank_identical_to_rebuild(spark, upd_env, tmp_path_factory):
    corpus, matched = upd_env["corpus"], upd_env["matched"]
    new_corpus = apply_update(
        corpus, matched, {"text": "concat(text, ' zzzupdated zzzupdated')"}
    )
    out_dir = str(upd_env["root"] / "merged")
    info = update_and_reindex(
        spark, upd_env["main"], new_corpus, matched, out_dir
    )
    assert info["docs_expunged"] == matched.count()
    merged = BM25Index(spark, out_dir)

    fresh_dir = str(upd_env["root"] / "fresh")
    IndexBuilder(spark, fresh_dir, n_shards=4, block_size=64).build(
        new_corpus.drop("doc_id")
    )
    fresh = BM25Index(spark, fresh_dir)
    assert merged.n_docs == fresh.n_docs
    assert abs(merged.avgdl - fresh.avgdl) < 1e-6
    for q in ("zzzupdated", "w0005 w0250", "w0001"):
        a = bm25_topk(merged, q, k=10).collect()
        b = bm25_topk(fresh, q, k=10).collect()
        assert [(r["doc_id"], round(r["score"], 5)) for r in a] == [
            (r["doc_id"], round(r["score"], 5)) for r in b
        ], q
    # the updated docs now match the new term; old copies are gone
    upd_ids = {int(r["doc_id"]) for r in matched.collect()}
    hits = {int(r["doc_id"]) for r in bm25_topk(merged, "zzzupdated", k=50).collect()}
    assert hits and hits <= upd_ids


def test_engine_update_by_query(spark, upd_env):
    eng = Engine(
        spark, corpus=upd_env["corpus"], bm25_index=upd_env["main"]
    )
    spec = {"match": {"query_text": "w0005"}}
    dry = eng.update_by_query(spec, {"text": "concat(text, ' qqq')"}, dry_run=True)
    assert dry["total"] > 0 and dry["updated"] == 0
    out_dir = str(upd_env["root"] / "eng_merged")
    rep = eng.update_by_query(
        spec, {"text": "concat(text, ' zzzengupd')"}, out_dir=out_dir
    )
    assert rep["updated"] == rep["total"] > 0
    assert rep["reindex"]["docs_expunged"] >= 1
    # the swapped-in index serves the new term
    res = eng.search({"match": {"query_text": "zzzengupd"}}, k=5).collect()
    assert len(res) > 0
    # and the swapped-in corpus carries the updated text
    n = eng.corpus.filter(F.col("text").contains("zzzengupd")).count()
    assert n == rep["updated"]


def test_reindex_merges_positions_scoped(spark, transcripts_df, tmp_path_factory):
    from neural_search_spark.index.positions import build_positions, has_positions
    from neural_search_spark.query.phrase import phrase_topk

    root = tmp_path_factory.mktemp("updpos")
    main_dir = str(root / "main")
    IndexBuilder(spark, main_dir, n_shards=4, block_size=64).build(
        transcripts_df
    )
    build_positions(spark, main_dir, transcripts_df)
    main = BM25Index(spark, main_dir)
    corpus = transcripts_df.withColumn("doc_id", doc_id_col())
    matched = (
        corpus.filter(F.col("text").rlike(r"(?i)\bw0007\b"))
        .select("doc_id").distinct()
    )
    new_corpus = apply_update(
        corpus, matched, {"text": "concat('zzp qqp ', text)"}
    )
    out_dir = str(root / "merged")
    update_and_reindex(spark, main, new_corpus, matched, out_dir)
    assert has_positions(out_dir)
    merged = BM25Index(spark, out_dir)

    fresh_dir = str(root / "fresh")
    IndexBuilder(spark, fresh_dir, n_shards=4, block_size=64).build(
        new_corpus.drop("doc_id")
    )
    build_positions(spark, fresh_dir, new_corpus.drop("doc_id"))
    fresh = BM25Index(spark, fresh_dir)
    for q in ("zzp qqp", "w0001 w0002"):
        a = phrase_topk(merged, q, k=10).collect()
        b = phrase_topk(fresh, q, k=10).collect()
        assert [(r["doc_id"], round(r["score"], 5)) for r in a] == [
            (r["doc_id"], round(r["score"], 5)) for r in b
        ], q


def test_update_after_delete_does_not_resurrect(
    spark, transcripts_df, tmp_path_factory
):
    """Tombstoned docs are invisible to update_by_query: they are not
    updated, and the incremental reindex expunges them durably instead of
    resurrecting their postings from the merged sources."""
    from neural_search_spark.engine import Engine

    root = tmp_path_factory.mktemp("updtomb")
    main_dir = str(root / "main")
    IndexBuilder(spark, main_dir, n_shards=4, block_size=64).build(
        transcripts_df
    )
    corpus = transcripts_df.withColumn("doc_id", doc_id_col())
    eng = Engine(spark, corpus=corpus, bm25_index=BM25Index(spark, main_dir))

    # tombstone the w0009 docs, then update the (overlapping) w0009|w0011 set
    del_spec = {"match": {"query_text": "w0009"}}
    n_del = eng.delete_by_query(del_spec)["deleted"]
    assert n_del > 0
    tomb_ids = {int(x) for x in eng.bm25_index.deletes}

    out_dir = str(root / "merged")
    rep = eng.update_by_query(
        {"bool": {"should": [
            {"match": {"query_text": "w0009"}},
            {"match": {"query_text": "w0011"}},
        ]}},
        {"text": "concat(text, ' zztomb')"},
        out_dir=out_dir,
    )
    # matched excludes every tombstoned id
    assert rep["total"] > 0
    merged = eng.bm25_index
    # durably gone: the merged index never returns a tombstoned id ...
    got = {
        int(r["doc_id"]) for r in bm25_topk(merged, "w0009", k=10_000).collect()
    }
    assert not (got & tomb_ids)
    # ... including via the update's new term (no resurrection-as-updated)
    upd_hits = {
        int(r["doc_id"])
        for r in bm25_topk(merged, "zztomb", k=10_000).collect()
    }
    assert upd_hits and not (upd_hits & tomb_ids)
    # and the corpus rows of tombstoned docs were not rewritten
    n_tomb_updated = eng.corpus.filter(
        F.col("doc_id").isin([int(x) for x in tomb_ids])
        & F.col("text").contains("zztomb")
    ).count()
    assert n_tomb_updated == 0


def test_update_guards(spark, upd_env, tmp_path):
    from neural_search_spark.engine import Engine
    from neural_search_spark.index.merge import merge_indexes

    # deletes_sources without deletes raises instead of silently ignoring
    with pytest.raises(ValueError, match="deletes_sources without deletes"):
        merge_indexes(
            spark, [upd_env["main"].path, upd_env["main"].path],
            str(tmp_path / "x"), deletes_sources=[upd_env["main"].path],
        )
    # zero-match update: no reindex job, index handle unchanged
    eng = Engine(spark, corpus=upd_env["corpus"], bm25_index=upd_env["main"])
    before = eng.bm25_index
    rep = eng.update_by_query(
        {"match": {"query_text": "zzznothingmatches"}},
        {"text": "concat(text, ' x')"},
        out_dir=str(tmp_path / "never_built"),
    )
    assert rep == {"total": 0, "updated": 0}
    assert eng.bm25_index is before
    import os

    assert not os.path.exists(str(tmp_path / "never_built"))


def test_merge_into_a_source_raises_before_deleting(spark, upd_env):
    """An out_dir that resolves to one of the sources is refused before
    anything is deleted: the source index still answers queries."""
    from neural_search_spark.index.merge import merge_indexes

    main = upd_env["main"].path
    before = bm25_topk(BM25Index(spark, main), "w0005", k=5).collect()
    assert before
    with pytest.raises(ValueError, match="one of the source indexes"):
        merge_indexes(spark, [main, main], main.rstrip("/") + "/")
    after = bm25_topk(BM25Index(spark, main), "w0005", k=5).collect()
    assert after == before


def test_update_and_reindex_with_custom_id_col(spark, upd_env, transcripts_df):
    """update_by_query and reindex key their matched set on the engine's
    id column, not on doc_id."""
    corpus = transcripts_df.withColumn("uid", doc_id_col())
    eng = Engine(
        spark, corpus=corpus, bm25_index=upd_env["main"], id_col="uid"
    )
    spec = {"match": {"query_text": "w0005"}}
    out_dir = str(upd_env["root"] / "uid_merged")
    rep = eng.update_by_query(
        spec, {"text": "concat(text, ' zzzuid')"}, out_dir=out_dir
    )
    assert rep["updated"] == rep["total"] > 0
    hits = eng.search({"match": {"query_text": "zzzuid"}}, k=10_000)
    assert hits.count() == rep["updated"]
    assert eng.corpus.filter(
        F.col("text").contains("zzzuid")
    ).count() == rep["updated"]

    info = eng.reindex(
        str(upd_env["root"] / "uid_reindexed"),
        spec={"match": {"query_text": "zzzuid"}},
        set_exprs={"text": "concat(text, ' zzzcopy')"},
    )
    assert info["n_docs"] == rep["updated"]
    copy = BM25Index(spark, str(upd_env["root"] / "uid_reindexed"))
    assert bm25_topk(copy, "zzzcopy", k=10_000).count() == rep["updated"]


def test_update_without_out_dir_refused_with_index(spark, upd_env):
    """With an attached bm25_index, a real update needs out_dir: without
    it the index would keep answering from stale postings, so the call
    raises before the corpus or the index handle changes. A dry run
    still counts."""
    eng = Engine(spark, corpus=upd_env["corpus"], bm25_index=upd_env["main"])
    corpus, index = eng.corpus, eng.bm25_index
    spec = {"match": {"query_text": "w0005"}}
    with pytest.raises(ValueError, match="needs out_dir"):
        eng.update_by_query(spec, {"text": "concat(text, ' zzstale')"})
    assert eng.corpus is corpus
    assert eng.bm25_index is index
    assert eng.corpus.filter(F.col("text").contains("zzstale")).count() == 0
    assert eng.update_by_query(spec, {"text": "text"}, dry_run=True)["total"]
