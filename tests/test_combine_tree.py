"""The combine tree: multi_match and match_bool_prefix run BM25's driver
evaluator and MaxScore shard function. On a skewed corpus (a term in
every doc beside a term in a few), the distributed route skips the hot
term's blocks at k=1 and still equals the driver route and the corpus
scan."""

import numpy as np
import pyarrow.dataset as pads
import pytest
from pyspark.sql import functions as F

from neural_search_spark.index.build import IndexBuilder, doc_id_col, tid_py
from neural_search_spark.query.bm25 import (
    AnyLeaf,
    BM25Index,
    DisMax,
    Leaf,
    Sum,
    _leaves,
    _node_scores,
    _read_ordered,
)
from neural_search_spark.query.multimatch import (
    multi_match_index_topk,
    multi_match_topk_batch,
)
from neural_search_spark.query.multiterm import match_bool_prefix_topk
from neural_search_spark.query.neural import multi_match_scored

SKEW = "rare hot"
FIELDS = ["text", "tag^2"]


@pytest.fixture(scope="module")
def skew(spark, tmp_path_factory):
    """400 one-turn conversations: 'hot' in every doc of both fields,
    'rare' in six docs of each; 2 shards of 8-posting blocks, so each
    field's 'hot' spans 50 blocks."""
    rng = np.random.default_rng(11)
    rare = {
        f: set(rng.choice(400, size=6, replace=False).tolist())
        for f in ("text", "tag")
    }
    rows = []
    for d in range(400):
        fill = " ".join(f"w{int(x):03d}" for x in rng.integers(0, 50, 3))
        rows.append((
            f"c{d:04d}", 0,
            "hot " + ("rare " if d in rare["text"] else "") + fill,
            "hot " + ("rare rare " if d in rare["tag"] else "") + fill,
        ))
    src = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, tag string"
    )
    base = tmp_path_factory.mktemp("skew_tree")
    idxs = {}
    for f in ("text", "tag"):
        out = str(base / f)
        IndexBuilder(spark, out, n_shards=2, block_size=8).build(
            src.select("conv_id", "turn_idx", F.col(f).alias("text"))
        )
        idxs[f] = BM25Index(spark, out)
    docs = src.withColumn("doc_id", doc_id_col()).select("doc_id", "text", "tag")
    return docs, idxs


def _count_decodes(spark, monkeypatch, indexes):
    """Count the posting blocks every handle's block decoder decodes."""
    decoded = spark.sparkContext.accumulator(0)
    for index in indexes:
        inner = index.block_decoder()

        def counted(rows, inner=inner):
            decoded.add(len(rows))
            return inner(rows)

        monkeypatch.setattr(index, "block_decoder", lambda c=counted: c)
    return decoded


def _n_blocks(indexes, terms):
    tids = [tid_py(t) for t in terms]
    return sum(
        int(np.isin(
            pads.dataset(
                f"{ix.path}/postings", format="parquet", partitioning="hive"
            ).to_table(columns=["tid"])["tid"].to_numpy(),
            tids,
        ).sum())
        for ix in indexes
    )


@pytest.mark.parametrize("match_type", ["best_fields", "cross_fields"])
def test_distributed_multi_match_skips_blocks(
    spark, skew, monkeypatch, match_type
):
    """At k=1 the rare term's score puts the hot term below theta, so
    the shard function decodes only the hot blocks holding a rare doc:
    fewer blocks than the query's terms have in the two fields."""
    _docs, idxs = skew
    decoded = _count_decodes(spark, monkeypatch, idxs.values())
    got = multi_match_index_topk(
        idxs, SKEW, FIELDS, match_type=match_type, k=1, mode="distributed"
    ).collect()
    assert len(got) == 1
    n_blocks = _n_blocks(idxs.values(), SKEW.split())
    assert n_blocks > 100  # 2 fields × 2 shards × 25 hot blocks + rare
    assert 0 < decoded.value < n_blocks


def test_distributed_bool_prefix_skips_blocks(spark, skew, monkeypatch):
    """The prefix expansion is one more leaf, bounded by its boost: at
    k=1 neither it nor the hot term admits candidates, and the hot
    term's blocks without a rare doc are never decoded."""
    _docs, idxs = skew
    text = idxs["text"]
    decoded = _count_decodes(spark, monkeypatch, [text])
    got = match_bool_prefix_topk(
        text, "rare hot w00", k=1, mode="distributed"
    ).collect()
    assert len(got) == 1
    n_blocks = _n_blocks([text], ["rare", "hot"])
    assert n_blocks > 50  # 2 shards × 25 hot blocks + rare
    assert 0 < decoded.value < n_blocks


@pytest.mark.parametrize("k", [1, 3, 10])
@pytest.mark.parametrize(
    "match_type,tb",
    [("best_fields", 0.0), ("best_fields", 0.3), ("most_fields", 0.0),
     ("cross_fields", 0.0), ("cross_fields", 0.5)],
)
def test_skew_multi_match_routes_match_corpus(spark, skew, match_type, tb, k):
    docs, idxs = skew
    want = (
        multi_match_scored(
            docs, SKEW, FIELDS, match_type=match_type, tie_breaker=tb
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .toPandas()
    )
    for mode in ("driver", "distributed"):
        got = multi_match_index_topk(
            idxs, SKEW, FIELDS, match_type=match_type, tie_breaker=tb, k=k,
            mode=mode,
        ).toPandas()
        assert got.doc_id.tolist() == want.doc_id.tolist(), mode
        np.testing.assert_allclose(got.score, want.score, rtol=1e-6)


@pytest.mark.parametrize("k", [1, 3, 10])
def test_skew_bool_prefix_routes_agree(skew, k):
    _docs, idxs = skew
    pages = [
        match_bool_prefix_topk(
            idxs["tag"], "rare hot w0", k=k, boost=0.5, mode=mode
        ).collect()
        for mode in ("driver", "distributed")
    ]
    assert len(pages[0]) == k
    assert [r["doc_id"] for r in pages[0]] == [r["doc_id"] for r in pages[1]]
    np.testing.assert_allclose(
        [r["score"] for r in pages[0]], [r["score"] for r in pages[1]],
        rtol=1e-6,
    )


def test_multi_match_batch_routes_agree(skew, monkeypatch):
    """A multi_match batch below the Σdf gate is scored on the driver:
    its page is a local one, equal to the forced-distributed batch."""
    import neural_search_spark.query.bm25 as bm25_mod
    from neural_search_spark.ranking import LocalPage

    _docs, idxs = skew
    queries = [("a", SKEW), ("b", "hot w001"), ("c", "zzz")]
    local = multi_match_topk_batch(idxs, queries, FIELDS, k=4)
    assert isinstance(local, LocalPage)
    monkeypatch.setattr(bm25_mod, "DRIVER_MAX_POSTINGS", -1)
    dist = multi_match_topk_batch(idxs, queries, FIELDS, k=4)
    assert not isinstance(dist, LocalPage)

    def rows(page):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"]) for r in page.collect()
        )

    assert rows(local) == rows(dist)
    assert {q for q, _r, _d in rows(local)} == {"a", "b"}


def test_multi_match_rejects_tie_breaker_outside_unit_interval(skew):
    """Both routes reject it: the kernel, and the spec the corpus route
    would run too."""
    from neural_search_spark.engine import spec_from_json

    _docs, idxs = skew
    for tb in (-0.1, 1.5):
        with pytest.raises(ValueError, match="tie_breaker"):
            multi_match_index_topk(idxs, SKEW, FIELDS, tie_breaker=tb)
        with pytest.raises(ValueError, match="tie_breaker"):
            spec_from_json({"multi_match": {
                "query_text": SKEW, "fields": FIELDS, "tie_breaker": tb,
            }})


def _random_tree(rng, depth=0):
    if depth == 2 or rng.random() < 0.3:
        if rng.random() < 0.2:
            return AnyLeaf(0, frozenset({int(rng.integers(0, 6))}), 0.7)
        return Leaf(0, int(rng.integers(0, 6)), float(rng.uniform(0.1, 3.0)))
    children = tuple(
        _random_tree(rng, depth + 1) for _ in range(int(rng.integers(1, 4)))
    )
    if rng.random() < 0.5:
        return DisMax(children, float(rng.uniform(0.0, 1.0)))
    return Sum(children, int(rng.integers(1, 3)), float(rng.uniform(0.5, 2.0)))


def _reference(node, doc, value):
    """(matched, score) of one doc under ``node``, by the definitions."""
    if not isinstance(node, (Sum, DisMax)):
        ids, v = value(node)
        hit = np.flatnonzero(ids == doc)
        return (True, v[hit[0]]) if len(hit) else (False, 0.0)
    kids = [_reference(c, doc, value) for c in node.children]
    got = [s for m, s in kids if m]
    if isinstance(node, DisMax):
        if not got:
            return False, 0.0
        return True, max(got) + node.tie_breaker * (sum(got) - max(got))
    if len(got) < max(node.min_match, 1):
        return False, 0.0
    return True, sum(got) * node.scale


def test_driver_evaluator_matches_definitions():
    """``_node_scores`` over random trees equals a per-doc evaluation of
    the node definitions, and reordering the children (as the shard
    function does) changes no score beyond rounding."""
    rng = np.random.default_rng(5)
    post = {
        t: np.sort(rng.choice(40, size=int(rng.integers(1, 25)), replace=False))
        for t in range(6)
    }
    contrib = {t: rng.uniform(0.1, 1.0, len(ids)) for t, ids in post.items()}

    def value(leaf):
        if isinstance(leaf, AnyLeaf):
            ids = np.unique(np.concatenate([post[t] for t in leaf.tids]))
            return ids, np.full(len(ids), leaf.weight)
        return post[leaf.tid], leaf.weight * contrib[leaf.tid]

    for _ in range(200):
        root = Sum((_random_tree(rng),), 1, 1.0)
        ids, sc = _node_scores(root, value)
        want = {
            d: s for d in range(40)
            for m, s in [_reference(root, d, value)] if m
        }
        assert sorted(ids.tolist()) == sorted(want)
        np.testing.assert_allclose(
            sc, [want[d] for d in ids.tolist()], rtol=1e-12
        )
        leaves = [leaf for leaf, _s in _leaves(root)]
        perm = rng.permutation(len(leaves))
        rank = {leaves[p]: i for i, p in enumerate(perm)}
        r_ids, r_sc = _node_scores(_read_ordered(root, rank)[0], value)
        order = np.argsort(r_ids)
        np.testing.assert_array_equal(r_ids[order], np.sort(ids))
        np.testing.assert_allclose(
            r_sc[order], sc[np.argsort(ids)], rtol=1e-12
        )
