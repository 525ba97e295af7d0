"""The resident term dictionary and the one-pass driver decode.

A handle reads its terms table once into sorted arrays; every dictionary
surface (``term_stats``, ``term_stats_full``, ``prefix_stats``,
``dictionary``, ``n_terms``, ``field_stats``, ``SparseIndex.token_stats``)
must answer exactly what a direct pyarrow read of the table says, and a
warm driver-route match must not scan the table again. The driver cache
fill decodes a whole postings read in one pass; its entries must equal
the per-block decode and own their memory, so ``DriverCache.nbytes``
stays the true byte count."""

import os

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from neural_search_spark.engine import Engine
from neural_search_spark.index.build import IndexBuilder, doc_id_col, tid_py
from neural_search_spark.index.cache import entry_nbytes
from neural_search_spark.query.bm25 import (
    BM25Index,
    _decode_tfn,
    _fill_driver_cache,
)


@pytest.fixture(scope="module")
def dict_index(spark, transcripts_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("resident") / "idx")
    IndexBuilder(spark, path, n_shards=4, block_size=16).build(transcripts_df)
    return path


@pytest.fixture(scope="module")
def direct(dict_index):
    """{term: (df, cf)} straight from the terms table."""
    tbl = pq.read_table(
        os.path.join(dict_index, "terms"), columns=["term", "df", "cf"]
    )
    return {
        t: (int(d), int(c))
        for t, d, c in zip(
            tbl["term"].to_pylist(), tbl["df"].to_pylist(), tbl["cf"].to_pylist()
        )
    }


@pytest.fixture(scope="module")
def sparse_dir(spark, transcripts_df, tmp_path_factory):
    from neural_search_spark.index.sparse import SparseIndexBuilder
    from neural_search_spark.tokenizer import tokenize_expr

    path = str(tmp_path_factory.mktemp("resident") / "sparse")
    tall = (
        transcripts_df.withColumn("doc_id", doc_id_col())
        .select("doc_id", F.explode(tokenize_expr("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("float").alias("weight"))
    )
    SparseIndexBuilder(spark, path, n_shards=4, block_size=16).build(tall)
    return path


TERM_LISTS = {
    "present": lambda v: v[:3] + v[-2:],
    "absent": lambda v: ["zzzz-not-a-term", "0000000x"],
    "mixed_duplicates": lambda v: [v[5], "nope", v[5], v[0], "nope"],
    "empty": lambda v: [],
}


@pytest.mark.parametrize("case", sorted(TERM_LISTS))
def test_term_stats_match_terms_table(spark, dict_index, direct, case):
    idx = BM25Index(spark, dict_index)
    terms = TERM_LISTS[case](sorted(direct))
    want = {t: direct[t] for t in terms if t in direct}
    assert idx.term_stats(terms) == {t: df for t, (df, _cf) in want.items()}
    assert idx.term_stats_full(terms) == want


def test_prefix_stats_and_dictionary_match_terms_table(spark, dict_index, direct):
    idx = BM25Index(spark, dict_index)
    vocab = sorted(direct)
    pairs = [(t, direct[t][0]) for t in vocab]
    assert idx.dictionary() == pairs
    assert idx.n_terms() == len(vocab)
    last = vocab[-1]
    prefixes = {
        "th": 50,
        "w00": 7,
        last[:1]: 500,  # the range runs to the end of the vocabulary
        last: 5,
        "zzzzz": 10,  # past the end: matches nothing
        "qqqqq": 10,  # inside the vocabulary: matches nothing
        "t": 0,
    }
    for prefix, limit in prefixes.items():
        want = [(t, df) for t, df in pairs if t.startswith(prefix)]
        assert idx.dictionary(prefix) == want, prefix
        assert idx.prefix_stats(prefix, limit=limit) == want[:limit], prefix
    assert idx.prefix_stats("", limit=5) == []
    assert idx.dictionary("") == pairs


def test_field_stats_match_terms_table(spark, dict_index, direct):
    idx = BM25Index(spark, dict_index)
    assert idx.field_stats() == {
        "sum_doc_freq": sum(df for df, _cf in direct.values()),
        "doc_count": idx.n_docs,
        "sum_ttf": sum(cf for _df, cf in direct.values()),
    }


def test_sparse_token_stats_match_terms_table(spark, sparse_dir):
    from neural_search_spark.index.sparse import SparseIndex

    tbl = pq.read_table(os.path.join(sparse_dir, "terms"), columns=["token", "df"])
    direct = dict(zip(tbl["token"].to_pylist(), tbl["df"].to_pylist()))
    idx = SparseIndex(spark, sparse_dir)
    for case, pick in TERM_LISTS.items():
        tokens = pick(sorted(direct))
        want = {t: direct[t] for t in tokens if t in direct}
        assert idx.token_stats(tokens) == want, case


def _counting_datasets(monkeypatch, path):
    """Wrap ``pyarrow.dataset.dataset`` so every ``to_table`` or
    ``count_rows`` of a dataset over ``path`` is recorded."""
    scans = []
    make = pads.dataset

    class Counted:
        def __init__(self, inner):
            self._inner = inner

        def to_table(self, *args, **kwargs):
            scans.append("to_table")
            return self._inner.to_table(*args, **kwargs)

        def count_rows(self, *args, **kwargs):
            scans.append("count_rows")
            return self._inner.count_rows(*args, **kwargs)

        def __getattr__(self, name):
            return getattr(self._inner, name)

    def dataset(source, *args, **kwargs):
        got = make(source, *args, **kwargs)
        same = os.path.abspath(str(source)) == os.path.abspath(path)
        return Counted(got) if same else got

    monkeypatch.setattr(pads, "dataset", dataset)
    return scans


def test_warm_driver_match_scans_no_terms_table(
    spark, dict_index, monkeypatch
):
    scans = _counting_datasets(monkeypatch, os.path.join(dict_index, "terms"))
    eng = Engine(spark, bm25_index=BM25Index(spark, dict_index))
    body = {"match": {"query_text": "tool call w0005"}}
    first = eng.search(body, k=5).collect()
    assert len(scans) == 1  # the one resident-dictionary load
    second = eng.search(body, k=5).collect()
    other = eng.search({"match": {"query_text": "the w0001"}}, k=5).collect()
    assert len(scans) == 1
    assert first == second and first and other


def test_driver_cache_fill_owns_its_arrays(spark, dict_index, direct):
    """A multi-term fill decodes one read in one pass: every entry is
    (doc ids, tf-norm contributions) equal bit for bit to
    ``_decode_tfn`` of its blocks in read order, owns its memory (no view
    pinning the read's buffers), and ``cache.nbytes`` is the sum of the
    entries' bytes."""
    idx = BM25Index(spark, dict_index)
    terms = sorted(direct, key=lambda t: -direct[t][0])[:6] + ["not-a-term"]
    tids = [tid_py(t) for t in terms]
    _fill_driver_cache(idx, tids)
    cache = idx._driver_cache
    assert cache[tid_py("not-a-term")] is None
    blocks = pads.dataset(
        os.path.join(dict_index, "postings"), format="parquet",
        partitioning="hive",
    ).to_table(columns=["tid", "docs", "tfs", "dls"]).to_pandas()
    for tid in tids[:-1]:
        mine = blocks[blocks["tid"] == tid]
        assert len(mine) > 1  # several blocks per term at block_size=16
        ids, tfn = cache[tid]
        want_ids, want_tfn = _decode_tfn(mine, idx.k1, idx.b, idx.avgdl, None)
        assert np.array_equal(ids, want_ids)
        assert tfn.dtype == np.float64
        assert tfn.tobytes() == want_tfn.tobytes()
        for a in (ids, tfn):
            assert a.base is None and a.flags.owndata
    assert cache.nbytes == sum(entry_nbytes(v) for v in cache.values())
