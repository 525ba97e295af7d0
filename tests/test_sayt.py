"""search_as_you_type (query/sayt.py): shingle subfield analysis parity
(Catalyst vs python), the pre-analyzed tokens_col build path, and the
canonical multi_match bool_prefix query against a numpy oracle computed
from each subfield's own stats."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from neural_search_spark.engine import Engine
from neural_search_spark.query.bm25 import lucene_idf
from neural_search_spark.query.sayt import (
    build_sayt_indexes,
    search_as_you_type_topk,
    shingle_col,
    shingles_py,
)
from neural_search_spark.tokenizer import tokenize_py


@pytest.fixture(scope="module")
def sayt(spark, transcripts_df, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("sayt"))
    return build_sayt_indexes(
        spark, p, transcripts_df, max_shingle=3, n_shards=4, block_size=64
    )


@pytest.fixture(scope="module")
def tok_pd(spark, transcripts_df):
    from neural_search_spark.index.build import tokenized_turns

    return tokenized_turns(transcripts_df).toPandas()


def test_build_rejects_non_str_out_dir(spark, transcripts_df, tmp_path):
    # arguments swapped: the DataFrame lands in out_dir
    with pytest.raises(TypeError, match="out_dir must be a str"):
        build_sayt_indexes(spark, transcripts_df, str(tmp_path))
    assert not any(tmp_path.iterdir())


@pytest.mark.parametrize("grams", [(0, 2), (2, 5)])
def test_build_rejects_out_of_range_grams(spark, transcripts_df, tmp_path, grams):
    with pytest.raises(ValueError, match="shingle sizes must be 1..4"):
        build_sayt_indexes(spark, str(tmp_path), transcripts_df, grams=grams)
    assert not any(tmp_path.iterdir())


def test_shingle_col_matches_python(spark):
    rows = [
        ("the quick brown fox",),
        ("one-token",),
        ("",),
        ("a b",),
    ]
    df = spark.createDataFrame(rows, ["text"])
    for n in (2, 3):
        got = [
            r[0]
            for r in df.select(shingle_col("text", n)).collect()
        ]
        exp = [shingles_py(tokenize_py(t), n) for (t,) in rows]
        assert got == exp
    # n=1 is the plain token stream
    got1 = df.select(shingle_col("text", 1)).collect()[0][0]
    assert got1 == tokenize_py(rows[0][0])


def _oracle(tok_pd, idx, shq):
    """match_bool_prefix over one subfield, numpy: Σ idf·tfnorm per term
    clause (duplicates sum) + 1.0·[prefix hit on the last shingle]."""
    n = {1: 1, 2: 2, 3: 3}
    size = len(shq[0].split()) if shq else 1
    docs = [
        (d, shingles_py(list(t), size))
        for d, t in zip(tok_pd["doc_id"], tok_pd["toks"])
    ]
    terms, last = shq[:-1], shq[-1]
    k1, b, avgdl, N = idx.k1, idx.b, idx.avgdl, idx.n_docs
    df_by_t = {}
    for t in set(terms):
        df_by_t[t] = sum(1 for _, sh in docs if t in sh)
    out = {}
    for d, sh in docs:
        s = 0.0
        dl = len(sh)
        for t in terms:
            tf = sh.count(t)
            if tf and df_by_t[t]:
                s += lucene_idf(N, df_by_t[t]) * tf / (
                    tf + k1 * (1 - b + b * dl / avgdl)
                )
        if any(x.startswith(last) for x in sh):
            s += 1.0
        if s > 0:
            out[d] = s
    return out


def _rank(scored: dict, k: int):
    items = sorted(
        ((round(s, 4), d) for d, s in scored.items()),
        key=lambda x: (-x[0], x[1]),
    )
    return items[:k]


def test_sayt_topk_matches_oracle(sayt, tok_pd):
    q = "the model trai"   # trailing partial token
    toks = tokenize_py(q)
    per_field = [
        _oracle(tok_pd, sayt[n], shingles_py(toks, n))
        for n in (1, 2, 3)
        if shingles_py(toks, n)
    ]
    dismax: dict = {}
    for f in per_field:
        for d, s in f.items():
            dismax[d] = max(dismax.get(d, 0.0), s)
    exp = _rank(dismax, 10)
    got = search_as_you_type_topk(sayt, q, k=10).toPandas()
    got_r = sorted(
        zip(got["score"].round(4), got["doc_id"]),
        key=lambda x: (-x[0], x[1]),
    )
    assert [d for _, d in got_r] == [d for _, d in exp]
    assert np.allclose(
        [s for s, _ in got_r], [s for s, _ in exp], atol=2e-3
    )


def test_sayt_short_query_skips_long_shingles(sayt, tok_pd):
    # a 1-token query only the root field can serve
    got = search_as_you_type_topk(sayt, "mod", k=5).toPandas()
    oracle = _oracle(tok_pd, sayt[1], shingles_py(["mod"], 1))
    exp = _rank(oracle, 5)
    assert list(got["doc_id"]) == [d for _, d in exp]
    # empty query → empty frame
    assert search_as_you_type_topk(sayt, "", k=5).count() == 0


def test_sayt_prefix_progression(sayt):
    # growing the query never makes the match vanish mid-word: each
    # prefix of a real bigram keeps matching via the 2gram prefix clause
    full = "model training"
    for cut in (8, 10, 12, len(full)):
        got = search_as_you_type_topk(sayt, full[:cut], k=5).toPandas()
        assert len(got) > 0, full[:cut]


def test_engine_wiring(spark, sayt):
    eng = Engine(spark, sayt_indexes=sayt)
    got = eng.search_as_you_type("the model trai", k=5).toPandas()
    assert list(got["rank"]) == list(range(1, len(got) + 1))
    with pytest.raises(ValueError, match="sayt_indexes"):
        Engine(spark).search_as_you_type("x")


def test_sayt_batch_matches_per_query(sayt):
    from neural_search_spark.query.sayt import search_as_you_type_batch

    qs = [
        ("q0", "the model trai"),
        ("q1", "mod"),            # 1-token: root field only
        ("q2", "model training conv"),  # 3 tokens: all subfields
        ("q3", "zzz nosuchtoken"),      # OOV terms, OOV prefix
    ]
    batch = search_as_you_type_batch(sayt, qs, k=10).toPandas()
    for qid, text in qs:
        solo = search_as_you_type_topk(sayt, text, k=10).toPandas()
        got = batch[batch["query_id"] == qid].sort_values("rank")
        assert list(got["doc_id"]) == list(solo["doc_id"]), qid
        assert np.allclose(
            got["score"].to_numpy(dtype=np.float64),
            solo["score"].to_numpy(dtype=np.float64),
            atol=1e-6,
        ), qid
        assert list(got["rank"]) == list(range(1, len(got) + 1)), qid


def test_mbp_batch_matches_per_query(spark, transcripts_df, tmp_path_factory):
    from neural_search_spark.index.build import IndexBuilder
    from neural_search_spark.query.bm25 import BM25Index
    from neural_search_spark.query.multiterm import (
        match_bool_prefix_topk,
        match_bool_prefix_topk_batch,
    )

    p = str(tmp_path_factory.mktemp("mbp_batch"))
    IndexBuilder(spark, p, n_shards=4, block_size=64).build(transcripts_df)
    idx = BM25Index(spark, p)
    qs = [
        ("a", "the model trai"),
        ("b", "mod"),               # prefix-only (single token)
        ("c", "model model trai"),  # duplicate term clauses sum
        ("d", "qqqq zzzz"),         # everything OOV → no rows
    ]
    for mode in ("driver", "distributed"):
        batch = match_bool_prefix_topk_batch(
            idx, qs, k=8, mode=mode
        ).toPandas()
        for qid, text in qs:
            solo = match_bool_prefix_topk(idx, text, k=8).toPandas()
            got = batch[batch["query_id"] == qid].sort_values("rank")
            assert list(got["doc_id"]) == list(solo["doc_id"]), (mode, qid)
            assert np.allclose(
                got["score"].to_numpy(dtype=np.float64),
                solo["score"].to_numpy(dtype=np.float64),
                atol=1e-6,
            ), (mode, qid)
