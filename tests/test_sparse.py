"""Sparse scoring, prune strategies, two-phase — FIXTURES.md §3."""

import numpy as np
import pandas as pd
import pytest

from neural_search_spark.query.sparse import (
    prune_exploded,
    prune_features_map,
    prune_tokens,
    sparse_score,
    sparse_topk,
    sparse_topk_two_phase,
    split_tokens_max_ratio,
)


@pytest.fixture(scope="module")
def sparse_docs(spark):
    rng = np.random.default_rng(42)
    vocab = [f"t{i:03d}" for i in range(60)]
    rows = []
    for d in range(200):
        n = rng.integers(1, 31)
        toks = rng.choice(vocab, size=n, replace=False)
        rows.append(
            (d, {t: float(np.round(rng.uniform(0.1, 3.0), 3)) for t in toks})
        )
    return spark.createDataFrame(
        rows, "doc_id long, features map<string,float>"
    )


QUERY = {"t001": 2.0, "t002": 1.5, "t010": 0.3, "t050": 0.1}


def oracle_scores(docs_pd, query):
    out = {}
    for _, r in docs_pd.iterrows():
        s = np.float32(
            sum(
                np.float32(w * r["features"][t])
                for t, w in query.items()
                if t in r["features"]
            )
        )
        if any(t in r["features"] for t in query):
            out[r["doc_id"]] = float(s)
    return out


def test_sparse_score_matches_oracle(spark, sparse_docs):
    docs_pd = sparse_docs.toPandas()
    exp = oracle_scores(docs_pd, QUERY)
    got = {r["doc_id"]: r["score"] for r in sparse_score(sparse_docs, QUERY).collect()}
    assert set(got) == set(exp)
    for d in exp:
        assert got[d] == pytest.approx(exp[d], rel=1e-5)


def test_two_phase_equals_single_pass(spark, sparse_docs):
    full = sparse_topk(sparse_docs, QUERY, k=10).toPandas()
    two = sparse_topk_two_phase(
        sparse_docs, QUERY, k=10, expansion_rate=1000.0
    ).toPandas()
    assert full["doc_id"].tolist() == two["doc_id"].tolist()
    np.testing.assert_allclose(
        full["score"].to_numpy(), two["score"].to_numpy(), rtol=1e-6
    )


def test_split_max_ratio():
    high, low = split_tokens_max_ratio(QUERY, 0.4)
    # max=2.0, threshold 0.8 → high: t001, t002; low: t010, t050
    assert set(high) == {"t001", "t002"}
    assert set(low) == {"t010", "t050"}


TOKENS = {"a": 5.0, "b": 3.0, "c": 1.0, "d": 1.0, "e": 0.2}


def test_prune_top_k():
    assert set(prune_tokens(TOKENS, "top_k", 2)) == {"a", "b"}
    # tie at 1.0 → token asc kept
    assert set(prune_tokens(TOKENS, "top_k", 3)) == {"a", "b", "c"}


def test_prune_max_ratio():
    assert set(prune_tokens(TOKENS, "max_ratio", 0.5)) == {"a", "b"}
    assert set(prune_tokens(TOKENS, "max_ratio", 0.2)) == {"a", "b", "c", "d"}


def test_prune_abs_value():
    assert set(prune_tokens(TOKENS, "abs_value", 1.0)) == {"a", "b", "c", "d"}


def test_prune_alpha_mass():
    # total=10.2; desc: a(5), b(8), c(9), d(10), e(10.2)
    assert set(prune_tokens(TOKENS, "alpha_mass", 0.8)) == {"a", "b"}
    assert set(prune_tokens(TOKENS, "alpha_mass", 0.89)) == {"a", "b", "c"}


@pytest.mark.parametrize(
    "ptype,ratio",
    [("top_k", 3), ("max_ratio", 0.3), ("abs_value", 0.9), ("alpha_mass", 0.85)],
)
def test_prune_dataframe_paths_agree(spark, sparse_docs, ptype, ratio):
    """MapType pandas-UDF prune == Window-expression prune == driver prune."""
    via_map = (
        prune_features_map(sparse_docs, ptype, ratio)
        .select("doc_id", F_explode_items())
        .toPandas()
    )
    exploded = sparse_docs.select(
        "doc_id", *explode_cols()
    )
    via_window = prune_exploded(exploded, ptype, ratio).toPandas()
    a = {(r.doc_id, r.token): round(r.weight, 5) for r in via_map.itertuples()}
    b = {(r.doc_id, r.token): round(r.weight, 5) for r in via_window.itertuples()}
    assert a == b
    # spot-check against the driver-side implementation
    docs_pd = sparse_docs.toPandas()
    for _, row in docs_pd.head(20).iterrows():
        exp = prune_tokens(dict(row["features"]), ptype, ratio)
        got = {t: w for (d, t), w in b.items() if d == row["doc_id"]}
        assert set(got) == set(exp)


def F_explode_items():
    from pyspark.sql import functions as F

    return F.explode("features").alias("token", "weight")


def explode_cols():
    from pyspark.sql import functions as F

    return [F.explode("features").alias("token", "weight")]


# ---------------------------------------------------------------------------
# sparse postings index (FeatureField analog)
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def sparse_index(spark, sparse_docs, tmp_path_factory):
    from pyspark.sql import functions as F

    from neural_search_spark.index.sparse import SparseIndex, SparseIndexBuilder

    tall = sparse_docs.select(
        "doc_id", F.explode("features").alias("token", "weight")
    )
    out = str(tmp_path_factory.mktemp("sidx") / "sparse_index")
    SparseIndexBuilder(spark, out, n_shards=4, block_size=32).build(tall)
    return SparseIndex(spark, out)


IDX_QUERY = {"t001": 2.0, "t010": 1.5, "t033": 1.0, "t055": 0.3}


def test_sparse_index_matches_join_path(spark, sparse_docs, sparse_index):
    from neural_search_spark.index.sparse import sparse_index_topk

    want = sparse_topk(sparse_docs, IDX_QUERY, k=15).toPandas()
    for mode in ("driver", "distributed"):
        got = sparse_index_topk(sparse_index, IDX_QUERY, k=15, mode=mode).toPandas()
        assert got.doc_id.tolist() == want.doc_id.tolist(), mode
        np.testing.assert_allclose(got.score, want.score, rtol=0, atol=0)


def test_sparse_index_two_phase_matches_join_path(
    spark, sparse_docs, sparse_index
):
    from neural_search_spark.index.sparse import sparse_index_topk_two_phase

    want = sparse_topk_two_phase(
        sparse_docs, IDX_QUERY, k=10, prune_ratio=0.6, expansion_rate=2.0
    ).toPandas()
    for mode in ("driver", "distributed"):
        got = sparse_index_topk_two_phase(
            sparse_index, IDX_QUERY, k=10, prune_ratio=0.6, expansion_rate=2.0,
            mode=mode,
        ).toPandas()
        assert got.doc_id.tolist() == want.doc_id.tolist(), mode
        np.testing.assert_allclose(got.score, want.score, rtol=0, atol=0)


def test_sparse_index_absent_tokens(spark, sparse_index):
    from neural_search_spark.index.sparse import sparse_index_topk

    out = sparse_index_topk(sparse_index, {"zzz": 1.0}, k=5).toPandas()
    assert len(out) == 0
    mixed = sparse_index_topk(
        sparse_index, {"zzz": 1.0, "t001": 2.0}, k=5
    ).toPandas()
    assert len(mixed) == 5


def test_sparse_index_format_version(spark, sparse_index, tmp_path):
    import pandas as pd

    from neural_search_spark.index.sparse import SparseIndex

    bad = tmp_path / "bad_idx"
    (bad / "stats").mkdir(parents=True)
    spark.createDataFrame(
        pd.DataFrame({"format_version": [99], "n_shards": [1], "block_size": [4]})
    ).write.mode("overwrite").parquet(str(bad / "stats"))
    with pytest.raises(ValueError, match="format v99"):
        SparseIndex(spark, str(bad))


def test_sparse_driver_cache_eviction_and_restrict(spark, sparse_docs, sparse_index):
    """Sparse driver cache: tiny-capacity eviction stays value-identical,
    and a restricted (two-phase) call on a cold index must never poison the
    cache with partial decodes for later unrestricted queries."""
    import numpy as np

    from neural_search_spark.index.sparse import (
        SparseIndex,
        sparse_index_topk,
        sparse_index_topk_two_phase,
    )

    want = sparse_topk(sparse_docs, IDX_QUERY, k=10).toPandas()
    for cap in (0, 1, 512):
        idx2 = SparseIndex(spark, sparse_index.path)
        idx2.driver_cache_terms = cap
        for _ in range(2):
            got = sparse_index_topk(idx2, IDX_QUERY, k=10, mode="driver").toPandas()
            assert got.doc_id.tolist() == want.doc_id.tolist(), cap
            np.testing.assert_allclose(got.score, want.score, rtol=0, atol=0)

    # restricted-first ordering: run two-phase (phase 2 is restricted) on a
    # cold index, then the unrestricted single-pass — must match exactly
    idx3 = SparseIndex(spark, sparse_index.path)
    sparse_index_topk_two_phase(
        idx3, IDX_QUERY, k=5, prune_ratio=0.6, expansion_rate=2.0, mode="driver"
    ).collect()
    got = sparse_index_topk(idx3, IDX_QUERY, k=10, mode="driver").toPandas()
    assert got.doc_id.tolist() == want.doc_id.tolist()
    np.testing.assert_allclose(got.score, want.score, rtol=0, atol=0)


def test_two_phase_oversized_window_raises(spark, sparse_docs):
    """k*expansion_rate beyond max_window_size THROWS (reference
    NeuralSparseTwoPhaseProcessor.java:183-189) instead of clamping."""
    import pytest

    from neural_search_spark.query.sparse import sparse_topk_two_phase

    with pytest.raises(ValueError, match="exceeds"):
        sparse_topk_two_phase(
            sparse_docs, IDX_QUERY, k=100, expansion_rate=5.0,
            max_window_size=200,
        )


# ---------------------------------------------------------------------------
# the sparse index on the BM25 kernels: MaxScore pruning + rank identity
# ---------------------------------------------------------------------------
SKEW_QUERY = {"rare": 3.0, "hot": 0.2}


@pytest.fixture(scope="module")
def skew_docs(spark):
    """400 docs: 'hot' in every doc at a low weight, 'rare' in six at a
    high one — the shape MaxScore prunes."""
    rng = np.random.default_rng(7)
    rare = set(rng.choice(400, size=6, replace=False).tolist())
    rows = []
    for d in range(400):
        feats = {"hot": float(np.round(rng.uniform(0.1, 1.0), 3))}
        if d in rare:
            feats["rare"] = float(np.round(rng.uniform(4.0, 6.0), 3))
        rows.append((d, feats))
    return spark.createDataFrame(rows, "doc_id long, features map<string,float>")


@pytest.fixture(scope="module")
def skew_index(spark, skew_docs, tmp_path_factory):
    from pyspark.sql import functions as F

    from neural_search_spark.index.sparse import SparseIndex, SparseIndexBuilder

    tall = skew_docs.select(
        "doc_id", F.explode("features").alias("token", "weight")
    )
    out = str(tmp_path_factory.mktemp("skew") / "sparse_index")
    SparseIndexBuilder(spark, out, n_shards=2, block_size=8).build(tall)
    return SparseIndex(spark, out)


def test_sparse_distributed_skips_blocks(spark, skew_index, monkeypatch):
    """At k=1 the rare token's score puts the hot token below theta, so
    the distributed route decodes only the hot blocks holding a rare
    doc: fewer blocks than the query's tokens have."""
    import pyarrow.dataset as pads

    from neural_search_spark.index.build import tid_py
    from neural_search_spark.index.sparse import sparse_index_topk

    decoded = spark.sparkContext.accumulator(0)
    inner = skew_index.block_decoder()

    def counted(rows):
        decoded.add(len(rows))
        return inner(rows)

    monkeypatch.setattr(skew_index, "block_decoder", lambda: counted)
    got = sparse_index_topk(
        skew_index, SKEW_QUERY, k=1, mode="distributed"
    ).collect()
    assert len(got) == 1
    tids = pads.dataset(
        f"{skew_index.path}/postings", format="parquet", partitioning="hive"
    ).to_table(columns=["tid"])["tid"].to_numpy()
    n_blocks = int(np.isin(tids, [tid_py(t) for t in SKEW_QUERY]).sum())
    assert n_blocks > 40  # 2 shards × ~25 hot blocks + the rare ones
    assert 0 < decoded.value < n_blocks


@pytest.mark.parametrize("mode", ["driver", "distributed"])
@pytest.mark.parametrize("k", [1, 10])
def test_sparse_index_skew_matches_join_path(
    spark, skew_docs, skew_index, mode, k
):
    from neural_search_spark.index.sparse import (
        sparse_index_topk,
        sparse_index_topk_two_phase,
    )

    want = sparse_topk(skew_docs, SKEW_QUERY, k=k).toPandas()
    got = sparse_index_topk(skew_index, SKEW_QUERY, k=k, mode=mode).toPandas()
    assert len(want) == k
    assert got.doc_id.tolist() == want.doc_id.tolist()
    np.testing.assert_allclose(got.score, want.score, rtol=0, atol=0)
    want2 = sparse_topk_two_phase(
        skew_docs, SKEW_QUERY, k=k, expansion_rate=2.0
    ).toPandas()
    got2 = sparse_index_topk_two_phase(
        skew_index, SKEW_QUERY, k=k, expansion_rate=2.0, mode=mode
    ).toPandas()
    assert got2.doc_id.tolist() == want2.doc_id.tolist()
    np.testing.assert_allclose(got2.score, want2.score, rtol=0, atol=0)


@pytest.mark.parametrize("bad", [-0.5, float("inf"), float("nan")])
def test_sparse_build_rejects_bad_doc_weight(spark, tmp_path, bad):
    from neural_search_spark.index.sparse import BAD_WEIGHT, SparseIndexBuilder

    tall = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", bad), (2, "b", 0.5)],
        "doc_id long, token string, weight float",
    )
    with pytest.raises(Exception, match=BAD_WEIGHT):
        SparseIndexBuilder(spark, str(tmp_path / "bad"), n_shards=2).build(
            tall
        )
