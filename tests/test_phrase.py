"""match_phrase over the positions sidecar — Lucene PhraseQuery /
ExactPhraseScorer semantics (reference host behavior: OpenSearch core's
match_phrase, which the plugin's hybrid sub-queries can carry):

* phrase freq = count of aligned position chains (duplicate tokens must
  match the SAME term at each of their offsets);
* idf summed per token IN SEQUENCE (duplicates counted per occurrence);
* any OOV token ⇒ zero matches;
* query-time tombstones honored with stale stats, like BM25.

Every path (driver pyarrow read, distributed applyInPandas verify, and
the index-free corpus scan) is asserted against one brute-force pandas
oracle.
"""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from neural_search_spark.index.build import IndexBuilder, tokenized_turns
from neural_search_spark.index.positions import build_positions, has_positions
from neural_search_spark.query.bm25 import BM25Index, lucene_idf
from neural_search_spark.query.phrase import (
    phrase_freq,
    phrase_prefix_scored_scan,
    phrase_prefix_topk,
    phrase_scored_scan,
    phrase_topk,
)
from neural_search_spark.tokenizer import tokenize_py


@pytest.fixture(scope="module")
def ph_setup(spark, transcripts_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("phrase") / "idx")
    IndexBuilder(spark, d, n_shards=4, block_size=64).build(transcripts_df)
    build_positions(spark, d, transcripts_df)
    idx = BM25Index(spark, d)
    tt = tokenized_turns(transcripts_df).toPandas()
    return idx, tt


def oracle(idx, tt, phrase, k=10, deletes=()):
    toks = tokenize_py(phrase)
    dfs = {t: int(sum(t in set(l) for l in tt.toks)) for t in set(toks)}
    if not toks or any(dfs[t] == 0 for t in set(toks)):
        return pd.DataFrame({"doc_id": [], "score": []})
    idf_total = sum(lucene_idf(idx.n_docs, dfs[t]) for t in toks)
    dset = set(deletes)
    rows = []
    for did, dl, l in zip(tt.doc_id, tt.dl, tt.toks):
        if did in dset:
            continue
        pos_by, ok = [], True
        for t in toks:
            p = np.flatnonzero(np.asarray(l, dtype=object) == t).astype(
                np.int64
            )
            if p.size == 0:
                ok = False
                break
            pos_by.append(p)
        if not ok:
            continue
        fr = phrase_freq(pos_by)
        if fr:
            tfn = fr / (
                fr + idx.k1 * (1 - idx.b + idx.b * dl / idx.avgdl)
            )
            rows.append((did, np.float32(idf_total * tfn)))
    out = (
        pd.DataFrame(rows, columns=["doc_id", "score"])
        .sort_values(
            ["score", "doc_id"], ascending=[False, True], kind="mergesort"
        )
        .head(k)
        .reset_index(drop=True)
    )
    return out


PHRASES = [
    "the tool",          # common bigram
    "the the",           # duplicate token (same term, two offsets)
    "zz9qx missing",     # OOV ⇒ empty
    "the",               # single-token phrase == term query
]


@pytest.mark.parametrize("mode", ["driver", "distributed"])
@pytest.mark.parametrize("phrase", PHRASES)
def test_phrase_matches_bruteforce(ph_setup, mode, phrase):
    idx, tt = ph_setup
    got = phrase_topk(idx, phrase, k=10, mode=mode).toPandas()
    exp = oracle(idx, tt, phrase, k=10)
    assert len(got) == len(exp)
    if len(got):
        assert (got.doc_id.to_numpy() == exp.doc_id.to_numpy()).all()
        assert np.allclose(got.score, exp.score, atol=1e-5)
        assert (got["rank"].to_numpy() == np.arange(1, len(got) + 1)).all()


def test_phrase_trigram(ph_setup):
    idx, tt = ph_setup
    # pick a real trigram from the corpus so the chain depth > 2 is hit
    tri = " ".join(tt.toks.iloc[0][:3])
    exp = oracle(idx, tt, tri, k=10)
    assert len(exp) > 0, "fixture trigram should match at least its own doc"
    for mode in ("driver", "distributed"):
        got = phrase_topk(idx, tri, k=10, mode=mode).toPandas()
        assert (got.doc_id.to_numpy() == exp.doc_id.to_numpy()).all()
        assert np.allclose(got.score, exp.score, atol=1e-5)


def test_phrase_tombstones(ph_setup, spark):
    idx, tt = ph_setup
    full = oracle(idx, tt, "the tool", k=10)
    dels = [int(d) for d in full.doc_id.iloc[:3]]
    idx2 = BM25Index(spark, idx.path).with_deletes(dels)
    exp = oracle(idx2, tt, "the tool", k=10, deletes=dels)
    for mode in ("driver", "distributed"):
        got = phrase_topk(idx2, "the tool", k=10, mode=mode).toPandas()
        assert (got.doc_id.to_numpy() == exp.doc_id.to_numpy()).all()
        # stale-stats contract: surviving docs' scores unchanged
        assert np.allclose(got.score, exp.score, atol=1e-5)


def test_phrase_requires_sidecar(spark, transcripts_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("nopos") / "idx")
    IndexBuilder(spark, d, n_shards=2, block_size=64).build(transcripts_df)
    assert not has_positions(d)
    with pytest.raises(ValueError, match="positions sidecar"):
        phrase_topk(BM25Index(spark, d), "the tool")


def test_phrase_scan_matches_index(ph_setup, transcripts_df):
    """The index-free corpus-scan plan (Engine fallback for filtered
    phrase queries) scores identically to the sidecar paths."""
    idx, tt = ph_setup
    from neural_search_spark.index.build import doc_id_col

    docs = transcripts_df.withColumn("doc_id", doc_id_col())
    got = (
        phrase_scored_scan(docs, "the tool")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
        .toPandas()
    )
    exp = oracle(idx, tt, "the tool", k=10)
    assert (got.doc_id.to_numpy() == exp.doc_id.to_numpy()).all()
    assert np.allclose(got.score, exp.score, atol=1e-5)


def test_engine_phrase_routing(ph_setup, transcripts_df, spark):
    """Engine routes match_phrase to the sidecar when attached, to the
    corpus scan when a filter forbids the pre-truncated index kernel —
    both produce the same ranking here (no filter vs trivial filter)."""
    from neural_search_spark.engine import Engine, spec_from_json
    from neural_search_spark.index.build import doc_id_col

    idx, tt = ph_setup
    docs = transcripts_df.withColumn("doc_id", doc_id_col())
    eng = Engine(spark, corpus=docs, bm25_index=idx)
    spec = spec_from_json({"match_phrase": {"query_text": "the tool"}})
    via_index = eng.search(spec, k=10).toPandas()
    exp = oracle(idx, tt, "the tool", k=10)
    assert (via_index.doc_id.to_numpy() == exp.doc_id.to_numpy()).all()
    # corpus-scan route: same spec but with a pushed filter (always true)
    spec2 = spec_from_json({"match_phrase": {"query_text": "the tool"}})
    spec2.filter = F.lit(True)
    via_scan = eng.search(spec2, k=10).toPandas()
    assert (via_scan.doc_id.to_numpy() == exp.doc_id.to_numpy()).all()
    assert np.allclose(via_scan.score, exp.score, atol=1e-5)


# ---------------------------------------------------------------------------
# match_phrase_prefix (MultiPhrasePrefixQuery semantics)
# ---------------------------------------------------------------------------
def prefix_oracle(idx, tt, phrase, k=10, max_expansions=50):
    """Brute force: last token = prefix, expanded over the corpus
    vocabulary in lexicographic order (≤max_expansions); idf sums every
    fixed token per occurrence + every expansion once; the expanded
    offset matches the UNION of the expansions' positions."""
    toks = tokenize_py(phrase)
    fixed, prefix = toks[:-1], toks[-1]
    vocab = sorted({t for l in tt.toks for t in l})
    exps = [t for t in vocab if t.startswith(prefix)][:max_expansions]
    dfs = {
        t: int(sum(t in set(l) for l in tt.toks))
        for t in set(fixed) | set(exps)
    }
    if not exps or any(dfs.get(t, 0) == 0 for t in set(fixed)):
        return pd.DataFrame({"doc_id": [], "score": []})
    idf_total = sum(lucene_idf(idx.n_docs, dfs[t]) for t in fixed) + sum(
        lucene_idf(idx.n_docs, dfs[t]) for t in exps
    )
    exp_set = set(exps)
    rows = []
    for did, dl, l in zip(tt.doc_id, tt.dl, tt.toks):
        arr = np.asarray(l, dtype=object)
        pos_by, ok = [], True
        for t in fixed:
            p = np.flatnonzero(arr == t).astype(np.int64)
            if p.size == 0:
                ok = False
                break
            pos_by.append(p)
        if not ok:
            continue
        pu = np.flatnonzero(
            np.asarray([x in exp_set for x in l], dtype=bool)
        ).astype(np.int64)
        if pu.size == 0:
            continue
        pos_by.append(pu)
        fr = phrase_freq(pos_by)
        if fr:
            tfn = fr / (fr + idx.k1 * (1 - idx.b + idx.b * dl / idx.avgdl))
            rows.append((did, np.float32(idf_total * tfn)))
    return (
        pd.DataFrame(rows, columns=["doc_id", "score"])
        .sort_values(
            ["score", "doc_id"], ascending=[False, True], kind="mergesort"
        )
        .head(k)
        .reset_index(drop=True)
    )


PREFIX_PHRASES = [
    "the to",       # fixed term + multi-term expansion
    "th",           # single-token prefix: all-union phrase
    "the zz9qx",    # prefix with zero expansions ⇒ MatchNoDocsQuery
]


@pytest.mark.parametrize("mode", ["driver", "distributed"])
@pytest.mark.parametrize("phrase", PREFIX_PHRASES)
def test_phrase_prefix_matches_bruteforce(ph_setup, mode, phrase):
    idx, tt = ph_setup
    got = phrase_prefix_topk(idx, phrase, k=10, mode=mode).toPandas()
    exp = prefix_oracle(idx, tt, phrase, k=10)
    assert len(got) == len(exp)
    if len(got):
        assert (got.doc_id.to_numpy() == exp.doc_id.to_numpy()).all()
        assert np.allclose(got.score, exp.score, atol=1e-5)


def test_phrase_prefix_max_expansions_cap(ph_setup):
    """Capping expansions changes both the match set and idf — assert the
    capped run equals an oracle capped to the SAME lexicographic cut."""
    idx, tt = ph_setup
    for me in (1, 3):
        got = phrase_prefix_topk(
            idx, "the to", k=10, max_expansions=me, mode="driver"
        ).toPandas()
        exp = prefix_oracle(idx, tt, "the to", k=10, max_expansions=me)
        assert len(got) == len(exp)
        if len(got):
            assert (got.doc_id.to_numpy() == exp.doc_id.to_numpy()).all()
            assert np.allclose(got.score, exp.score, atol=1e-5)


def test_phrase_prefix_dictionary_order(ph_setup):
    """prefix_stats enumerates the dictionary in lexicographic order with
    correct per-term dfs (MultiPhrasePrefixQuery.getPrefixTerms)."""
    idx, tt = ph_setup
    pairs = idx.prefix_stats("th", limit=5)
    vocab = sorted({t for l in tt.toks for t in l})
    want = [t for t in vocab if t.startswith("th")][:5]
    assert [t for t, _ in pairs] == want
    for t, df in pairs:
        assert df == int(sum(t in set(l) for l in tt.toks))


def test_phrase_prefix_scan_matches_index(ph_setup, transcripts_df):
    idx, tt = ph_setup
    from neural_search_spark.index.build import doc_id_col

    docs = transcripts_df.withColumn("doc_id", doc_id_col())
    got = (
        phrase_prefix_scored_scan(docs, "the to")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
        .toPandas()
    )
    exp = prefix_oracle(idx, tt, "the to", k=10)
    assert (got.doc_id.to_numpy() == exp.doc_id.to_numpy()).all()
    assert np.allclose(got.score, exp.score, atol=1e-5)


def test_engine_phrase_prefix_routing(ph_setup, transcripts_df, spark):
    from neural_search_spark.engine import Engine, spec_from_json
    from neural_search_spark.index.build import doc_id_col

    idx, tt = ph_setup
    docs = transcripts_df.withColumn("doc_id", doc_id_col())
    eng = Engine(spark, corpus=docs, bm25_index=idx)
    spec = spec_from_json(
        {"match_phrase_prefix": {"query_text": "the to"}}
    )
    exp = prefix_oracle(idx, tt, "the to", k=10)
    via_index = eng.search(spec, k=10).toPandas()
    assert (via_index.doc_id.to_numpy() == exp.doc_id.to_numpy()).all()
    spec2 = spec_from_json(
        {"match_phrase_prefix": {"query_text": "the to"}}
    )
    spec2.filter = F.lit(True)  # forces the corpus-scan route
    via_scan = eng.search(spec2, k=10).toPandas()
    assert (via_scan.doc_id.to_numpy() == exp.doc_id.to_numpy()).all()
    assert np.allclose(via_scan.score, exp.score, atol=1e-5)


def test_hybrid_with_phrase_branch(ph_setup, transcripts_df, spark):
    """match_phrase composes as a hybrid sub-query branch."""
    from neural_search_spark.engine import Engine, spec_from_json

    idx, _ = ph_setup
    from neural_search_spark.index.build import doc_id_col

    docs = transcripts_df.withColumn("doc_id", doc_id_col())
    eng = Engine(spark, corpus=docs, bm25_index=idx)
    spec = spec_from_json(
        {
            "hybrid": {
                "queries": [
                    {"match": {"query_text": "tool call"}},
                    {"match_phrase": {"query_text": "the tool"}},
                ],
                "normalization": "min_max",
                "combination": "arithmetic_mean",
                "pagination_depth": 50,
            }
        }
    )
    out = eng.search(spec, k=10).toPandas()
    assert len(out) == 10
    assert out.score.is_monotonic_decreasing or len(set(out.score)) < 10


# ---------------------------------------------------------------------------
# sloppy phrases (match_phrase slop — Lucene SloppyPhraseScorer sweep)
# ---------------------------------------------------------------------------
def test_sloppy_kernel_hand_traces():
    """Hand-derived traces of Lucene's no-repeats sloppy sweep."""
    from neural_search_spark.query.phrase import sloppy_phrase_freq as spf

    # exact adjacency: "a b" in "a b"
    assert spf([np.array([0]), np.array([1])], 0) == 1.0
    # "a a a b" / query "a b": ONE match per segment, minimal length 0 —
    # Lucene advances the min stream while it stays <= the second-smallest
    # and emits once (weight 1.0), at slop 0 AND at slop 2
    assert spf([np.array([0, 1, 2]), np.array([3])], 0) == 1.0
    assert spf([np.array([0, 1, 2]), np.array([3])], 2) == 1.0
    # transposition: "the tool" vs query "tool the" -> matchLength 2
    assert spf([np.array([1]), np.array([0])], 0) == 0.0
    assert spf([np.array([1]), np.array([0])], 1) == 0.0
    assert spf([np.array([1]), np.array([0])], 2) == pytest.approx(1 / 3)
    # one-gap: "a x b" vs "a b" -> matchLength 1
    assert spf([np.array([0]), np.array([2])], 0) == 0.0
    assert spf([np.array([0]), np.array([2])], 1) == 0.5
    # two exact occurrences
    assert spf([np.array([0, 10]), np.array([1, 11])], 0) == 2.0
    # single-offset phrase degenerates to a term query: freq = tf
    assert spf([np.array([3, 7])], 0) == 2.0
    # an empty stream can never match
    assert spf([np.array([0]), np.array([], dtype=np.int64)], 3) == 0.0


def test_sloppy_slop0_equals_exact(ph_setup):
    idx, tt = ph_setup
    exact = phrase_topk(idx, "the tool", k=10, mode="driver").toPandas()
    for mode in ("driver", "distributed"):
        got = phrase_topk(
            idx, "the tool", k=10, mode=mode, slop=0
        ).toPandas()
        assert got.doc_id.tolist() == exact.doc_id.tolist()
        assert np.allclose(got.score, exact.score, atol=1e-6)


def sloppy_oracle(idx, tt, phrase, slop, k=10):
    from neural_search_spark.query.phrase import (
        repeat_groups_of,
        sloppy_phrase_freq,
    )

    toks = tokenize_py(phrase)
    rpt = repeat_groups_of(toks)
    dfs = {t: int(sum(t in set(l) for l in tt.toks)) for t in set(toks)}
    if any(dfs[t] == 0 for t in set(toks)):
        return pd.DataFrame({"doc_id": [], "score": []})
    idf_total = sum(lucene_idf(idx.n_docs, dfs[t]) for t in toks)
    rows = []
    for did, dl, l in zip(tt.doc_id, tt.dl, tt.toks):
        arr = np.asarray(l, dtype=object)
        pos_by, ok = [], True
        for t in toks:
            p = np.flatnonzero(arr == t).astype(np.int64)
            if p.size == 0:
                ok = False
                break
            pos_by.append(p)
        if not ok:
            continue
        fr = sloppy_phrase_freq(pos_by, slop, rpt)
        if fr:
            tfn = fr / (fr + idx.k1 * (1 - idx.b + idx.b * dl / idx.avgdl))
            rows.append((did, np.float32(idf_total * tfn)))
    return (
        pd.DataFrame(rows, columns=["doc_id", "score"])
        .sort_values(
            ["score", "doc_id"], ascending=[False, True], kind="mergesort"
        )
        .head(k)
        .reset_index(drop=True)
    )


@pytest.mark.parametrize("mode", ["driver", "distributed"])
def test_sloppy_transposed_phrase(ph_setup, mode):
    """'tool the' with slop=2 must match docs containing 'the tool'
    (the classic transposition) and score via the fractional freq."""
    idx, tt = ph_setup
    exp = sloppy_oracle(idx, tt, "tool the", slop=2, k=10)
    assert len(exp) > 0, "fixture corpus contains 'the tool' bigrams"
    got = phrase_topk(idx, "tool the", k=10, mode=mode, slop=2).toPandas()
    assert got.doc_id.tolist() == exp.doc_id.tolist()
    assert np.allclose(got.score, exp.score, atol=1e-5)
    # slop=0 on the transposed phrase finds strictly fewer docs
    got0 = phrase_topk(idx, "tool the", k=10, mode=mode, slop=0).toPandas()
    assert len(got0) <= len(got)


def test_sloppy_scan_matches_index(ph_setup, transcripts_df):
    idx, tt = ph_setup
    from neural_search_spark.index.build import doc_id_col
    from neural_search_spark.query.phrase import phrase_scored_scan

    docs = transcripts_df.withColumn("doc_id", doc_id_col())
    got = (
        phrase_scored_scan(docs, "tool the", slop=2)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
        .toPandas()
    )
    exp = sloppy_oracle(idx, tt, "tool the", slop=2, k=10)
    assert got.doc_id.tolist() == exp.doc_id.tolist()
    assert np.allclose(got.score, exp.score, atol=1e-5)


def test_sloppy_engine_routing_and_repeats(ph_setup, transcripts_df, spark):
    from neural_search_spark.engine import Engine, spec_from_json
    from neural_search_spark.index.build import doc_id_col

    idx, tt = ph_setup
    docs = transcripts_df.withColumn("doc_id", doc_id_col())
    eng = Engine(spark, corpus=docs, bm25_index=idx)
    spec = spec_from_json(
        {"match_phrase": {"query_text": "tool the", "slop": 2}}
    )
    got = eng.search(spec, k=10).toPandas()
    exp = sloppy_oracle(idx, tt, "tool the", slop=2, k=10)
    assert got.doc_id.tolist() == exp.doc_id.tolist()
    # repeated-term sloppy phrases (Lucene's collision machinery) answer
    # on BOTH index kernels and match the corpus brute-force oracle
    exp_r = sloppy_oracle(idx, tt, "w0000 w0000", slop=1, k=10)
    assert len(exp_r) > 0, "fixture corpus repeats 'w0000' in-doc"
    for mode in ("driver", "distributed"):
        got_r = phrase_topk(
            idx, "w0000 w0000", k=10, mode=mode, slop=1
        ).toPandas()
        assert got_r.doc_id.tolist() == exp_r.doc_id.tolist()
        assert np.allclose(got_r.score, exp_r.score, atol=1e-5)


def test_sloppy_repeats_hand_traces():
    """Hand-derived traces of the repeated-term collision machinery
    (Lucene SloppyPhraseScorer advanceRpts/lesser + the staggered init)."""
    from neural_search_spark.query.phrase import sloppy_phrase_freq as spf

    a3 = np.array([0, 1, 2])
    # "the the" over "the the the": occurrences at [0,1] and [1,2]
    assert spf([a3, a3], 0, [[0, 1]]) == 2.0
    # "a a" over "a x a": the two a's stretch by 1 — no exact match,
    # one sloppy match of matchLength 1 at slop >= 1
    ax = np.array([0, 2])
    assert spf([ax, ax], 0, [[0, 1]]) == 0.0
    assert spf([ax, ax], 1, [[0, 1]]) == 0.5
    # "to be or not to be" over itself: exactly one match at slop 0
    to, be = np.array([0, 4]), np.array([1, 5])
    orr, nt = np.array([2]), np.array([3])
    assert spf([to, be, orr, nt, to, be], 0, [[0, 4], [1, 5]]) == 1.0
    # a doc with too few occurrences of the repeated term can't match:
    # "the the" needs two distinct positions
    one = np.array([5])
    assert spf([one, one], 3, [[0, 1]]) == 0.0


try:
    from hypothesis import given as _given_r
    from hypothesis import settings as _settings_r
    from hypothesis import strategies as _st_r

    @_given_r(
        _st_r.lists(
            _st_r.integers(min_value=0, max_value=25), min_size=2, max_size=10
        ).map(lambda xs: np.unique(np.asarray(xs, dtype=np.int64))),
        _st_r.lists(
            _st_r.integers(min_value=0, max_value=25), min_size=1, max_size=8
        ).map(lambda xs: np.unique(np.asarray(xs, dtype=np.int64))),
    )
    @_settings_r(max_examples=200, deadline=None)
    def test_sloppy_repeats_slop0_equals_exact_kernel(rep, other):
        """slop=0 with a repeated term must equal the independent exact
        intersection kernel — collision machinery inert at zero slop."""
        from neural_search_spark.query.phrase import (
            phrase_freq,
            sloppy_phrase_freq,
        )

        # phrase "A B A": offsets 0 and 2 share the repeated stream
        pos_by = [rep, other, rep]
        got = sloppy_phrase_freq(pos_by, 0, [[0, 2]])
        assert got == float(phrase_freq(pos_by))
except ImportError:  # pragma: no cover
    pass


# ---------------------------------------------------------------------------
# property tests: the sloppy sweep vs the independent exact kernel
# ---------------------------------------------------------------------------
try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _pos_lists = st.lists(
        st.lists(
            st.integers(min_value=0, max_value=30), min_size=1, max_size=8
        ).map(lambda xs: np.unique(np.asarray(xs, dtype=np.int64))),
        min_size=2,
        max_size=4,
    )

    @given(_pos_lists)
    @settings(max_examples=200, deadline=None)
    def test_sloppy_slop0_equals_exact_kernel(pos_by):
        """At slop 0 the greedy sweep must count EXACTLY the aligned
        positions the independent sorted-intersection kernel counts —
        two different algorithms, one answer."""
        from neural_search_spark.query.phrase import sloppy_phrase_freq

        assert sloppy_phrase_freq(pos_by, 0) == float(phrase_freq(pos_by))

    @given(_pos_lists, st.integers(min_value=0, max_value=6))
    @settings(max_examples=200, deadline=None)
    def test_sloppy_freq_monotone_in_slop(pos_by, slop):
        """slop only gates which sweep segments emit, so freq is
        non-decreasing in slop and always non-negative."""
        from neural_search_spark.query.phrase import sloppy_phrase_freq

        a = sloppy_phrase_freq(pos_by, slop)
        b = sloppy_phrase_freq(pos_by, slop + 1)
        assert 0.0 <= a <= b

except ImportError:  # pragma: no cover - hypothesis is baked in
    pass


def test_cache_positions_serving(ph_setup, spark):
    """cache_positions pins a doc_shard-clustered positions frame: results
    stay identical on every kernel, and the per-query distributed plan is
    exchange-free (broadcast leading-term semi-join over the in-memory
    clustering — no hashpartitioning Exchange)."""
    idx, tt = ph_setup
    before = {
        q: phrase_topk(idx, q, k=10, mode="distributed").toPandas()
        for q in ("the tool", "w0000 w0001")
    }
    sloppy_before = phrase_topk(
        idx, "tool the", k=10, mode="distributed", slop=2
    ).toPandas()
    idx.cache_positions()
    try:
        for q, exp in before.items():
            got = phrase_topk(idx, q, k=10, mode="distributed").toPandas()
            assert got.doc_id.tolist() == exp.doc_id.tolist(), q
            assert np.allclose(got.score, exp.score, atol=1e-6)
        got_s = phrase_topk(
            idx, "tool the", k=10, mode="distributed", slop=2
        ).toPandas()
        assert got_s.doc_id.tolist() == sloppy_before.doc_id.tolist()
        q = phrase_topk(idx, "the tool", k=10, mode="distributed")
        q.collect()  # AQE finalizes the plan on execution
        plan = q._jdf.queryExecution().executedPlan().toString()
        # the cached-relation description embeds the one-time warm-up
        # shuffle; the LIVE query segment (everything above the first
        # InMemoryRelation) must be exchange-free
        live = plan.split("InMemoryRelation", 1)[0]
        assert "Exchange hashpartitioning" not in live, plan
        assert "InMemoryTableScan" in live
    finally:
        idx._positions_cache.unpersist()
        idx._positions_cache = None


# ---------------------------------------------------------------------------
# batched phrase serving (msearch analog)
# ---------------------------------------------------------------------------
def test_phrase_topk_batch_matches_single(ph_setup):
    """phrase_topk_batch answers every phrase — exact, sloppy and
    match_phrase_prefix — from ONE positions pass and must be rank- and
    score-identical to the per-query driver and distributed kernels;
    OOV / empty phrases contribute no rows (MatchNoDocsQuery rewrite)."""
    from neural_search_spark.query.phrase import PhraseQuery, phrase_topk_batch

    idx, tt = ph_setup
    queries = {
        "q1": "the tool",
        "q2": "w0000 w0001",
        "q3": "zzznope the",  # OOV token ⇒ no rows
        "q4": "",             # empty ⇒ no rows
        "s1": PhraseQuery("tool the", slop=2),
        "s2": PhraseQuery("w0000 w0000", slop=1),  # repeated term
        "p1": PhraseQuery("the to", max_expansions=50),
        "p2": PhraseQuery("w0", max_expansions=5),  # the prefix alone
    }

    def single(q, mode):
        if isinstance(q, str):
            return phrase_topk(idx, q, k=10, mode=mode)
        if q.max_expansions is not None:
            return phrase_prefix_topk(
                idx, q.text, k=10, max_expansions=q.max_expansions,
                mode=mode,
            )
        return phrase_topk(idx, q.text, k=10, mode=mode, slop=q.slop)

    got = phrase_topk_batch(idx, list(queries.items()), k=10).toPandas()
    assert set(got.query_id) <= set(queries) - {"q3", "q4"}
    for qid in ("q1", "q2", "s1", "s2", "p1", "p2"):
        g = got[got.query_id == qid].sort_values("rank")
        assert len(g) > 0, qid
        assert g["rank"].tolist() == list(range(1, len(g) + 1))
        for mode in ("driver", "distributed"):
            exp = single(queries[qid], mode).toPandas()
            assert g.doc_id.tolist() == exp.doc_id.tolist(), (qid, mode)
            assert np.allclose(g.score, exp.score, atol=1e-6)


def test_phrase_topk_batch_all_oov(ph_setup, spark):
    from neural_search_spark.query.phrase import phrase_topk_batch

    idx, tt = ph_setup
    out = phrase_topk_batch(idx, [("q1", "zzznope qqq")], k=5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "doc_id", "score", "rank",
    ]


def test_phrase_topk_batch_cached_and_msearch(ph_setup, transcripts_df, spark):
    """The batch kernel rides the pinned positions cache unchanged, and
    Engine.msearch routes match_phrase specs, sloppy ones included,
    through it — all answers identical to search()."""
    from neural_search_spark.engine import Engine
    from neural_search_spark.index.build import doc_id_col
    from neural_search_spark.query.phrase import phrase_topk_batch

    idx, tt = ph_setup
    exp1 = phrase_topk(idx, "the tool", k=5, mode="distributed").toPandas()
    exp2 = phrase_topk(
        idx, "tool the", k=5, mode="distributed", slop=2
    ).toPandas()
    idx.cache_positions()
    try:
        got = phrase_topk_batch(idx, [("a", "the tool")], k=5).toPandas()
        assert got.doc_id.tolist() == exp1.doc_id.tolist()
        docs = transcripts_df.withColumn("doc_id", doc_id_col())
        eng = Engine(spark, corpus=docs, bm25_index=idx)
        res = eng.msearch(
            {
                "p1": {"match_phrase": {"query_text": "the tool"}},
                "p2": {"match_phrase": {"query_text": "w0000 w0001"}},
                "p3": {
                    "match_phrase": {"query_text": "tool the", "slop": 2}
                },
                "m1": {"match": {"query_text": "the user"}},
            },
            k=5,
        ).toPandas()
        assert set(res.query_id) == {"p1", "p2", "p3", "m1"}
        g1 = res[res.query_id == "p1"].sort_values("rank")
        assert g1.doc_id.tolist() == exp1.doc_id.tolist()
        assert np.allclose(g1.score, exp1.score, atol=1e-6)
        g3 = res[res.query_id == "p3"].sort_values("rank")
        assert g3.doc_id.tolist() == exp2.doc_id.tolist()
    finally:
        idx._positions_cache.unpersist()
        idx._positions_cache = None


def test_msearch_batches_sloppy_and_prefix_phrases(
    ph_setup, transcripts_df, spark
):
    """Sloppy match_phrase and match_phrase_prefix specs plan a phrase
    batch key, run through ONE phrase_topk_batch call in msearch, and
    answer exactly what search() does."""
    from neural_search_spark.engine import _TOPK, Engine, spec_from_json
    from neural_search_spark.index.build import doc_id_col
    from neural_search_spark.query import phrase as phrase_mod

    idx, tt = ph_setup
    docs = transcripts_df.withColumn("doc_id", doc_id_col())
    eng = Engine(spark, corpus=docs, bm25_index=idx)
    specs = {
        "s1": {"match_phrase": {"query_text": "tool the", "slop": 2}},
        "s2": {"match_phrase": {"query_text": "the tool", "slop": 1}},
        "p1": {"match_phrase_prefix": {"query_text": "the to"}},
        "p2": {
            "match_phrase_prefix": {
                "query_text": "w0", "max_expansions": 5,
            }
        },
    }
    for qid, body in specs.items():
        plan = eng._plan(spec_from_json(body), _TOPK)
        assert plan.batch is not None and plan.batch[0] == ("phrase",), qid
    calls = []
    real = phrase_mod.phrase_topk_batch

    def counting(index, phrases, k=10):
        calls.append([qid for qid, _ in phrases])
        return real(index, phrases, k=k)

    phrase_mod.phrase_topk_batch = counting
    try:
        res = eng.msearch(specs, k=5).toPandas()
    finally:
        phrase_mod.phrase_topk_batch = real
    assert [sorted(c) for c in calls] == [sorted(specs)]
    for qid, body in specs.items():
        exp = eng.search(spec_from_json(body), k=5).toPandas()
        g = res[res.query_id == qid].sort_values("rank")
        assert len(exp) > 0, qid
        assert g.doc_id.tolist() == exp.doc_id.tolist(), qid
        assert np.allclose(g.score, exp.score, atol=1e-6)


def test_positions_arrow_kernel_matches_catalyst(spark, transcripts_df):
    """The exchange-free positions kernel is row-for-row identical to the
    Catalyst posexplode→groupBy+collect_list twin, including sorted
    position order inside every list."""
    from pyspark.sql import functions as F

    from neural_search_spark.index.positions import (
        positions_table,
        positions_table_catalyst,
    )

    a = positions_table(transcripts_df)
    b = positions_table_catalyst(transcripts_df)
    bad = (
        a.unionAll(b)
        .groupBy("tid", "doc_id", "dl", "positions")
        .count()
        .filter(F.col("count") != 2)
        .count()
    )
    assert bad == 0
    assert a.count() == b.count() > 0
