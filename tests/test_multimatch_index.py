"""Index-backed multi_match: attached per-field block indexes must
reproduce the corpus-scan multi_match (per-field statistics, ^boosts,
dis-max / sum / blended-df combine) on both routes of the one kernel —
the driver combine and the shard-keyed batch kernel with one spec — for
any mix of per-field n_shards."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from neural_search_spark.engine import Engine, spec_from_json
from neural_search_spark.index.build import IndexBuilder, doc_id_col
from neural_search_spark.query.bm25 import BM25Index
from neural_search_spark.query.multimatch import (
    multi_match_index_topk,
    multi_match_topk_batch,
    parse_field_boosts,
)
from neural_search_spark.query.neural import multi_match_scored

Q = "tool conv00000001"
FIELDS = ["text", "tag^2.5"]


@pytest.fixture(scope="module")
def mmx(spark, transcripts_df, tmp_path_factory):
    base = tmp_path_factory.mktemp("mmx")
    docs = transcripts_df.withColumn("doc_id", doc_id_col()).select(
        "doc_id", "text", F.col("conv_id").alias("tag")
    )
    idxs = {}
    for f, col in (("text", F.col("text")), ("tag", F.col("conv_id"))):
        d = str(base / f)
        src = transcripts_df.select(
            "conv_id", "turn_idx", col.alias("text")
        )
        IndexBuilder(spark, d, n_shards=4, block_size=64).build(src)
        idxs[f] = BM25Index(spark, d)
    return docs, idxs


def corpus_topk(docs, match_type, tb, k=10):
    return (
        multi_match_scored(
            docs, Q, FIELDS, match_type=match_type, tie_breaker=tb
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .toPandas()
    )


def test_parse_field_boosts():
    assert parse_field_boosts(["text", "tag^2.5", "role^0"]) == [
        ("text", 1.0),
        ("tag", 2.5),
        ("role", 0.0),
    ]
    # Lucene's BoostQuery rejects negative and non-finite boosts
    for bad in ("tag^-1", "tag^-0.0", "tag^inf", "tag^nan", "tag^x"):
        with pytest.raises(ValueError):
            parse_field_boosts(["text", bad])


def test_corpus_multi_match_rejects_negative_boost(mmx):
    docs, _ = mmx
    with pytest.raises(ValueError, match="non-negative"):
        multi_match_scored(docs, Q, ["text", "tag^-1"])


def test_cross_fields_corpus_matches_pandas(mmx):
    """Pin the blended-df term-centric semantics against a from-scratch
    pandas implementation (BlendedTermQuery: per-term max df across
    fields → one idf, per-(doc, term) dis-max over fields, term sum)."""
    import math

    from neural_search_spark import BM25_B, BM25_K1
    from neural_search_spark.query.multimatch import cross_fields_scored
    from neural_search_spark.tokenizer import tokenize_py

    docs, _ = mmx
    pdf = docs.toPandas()
    q_terms = sorted(set(tokenize_py(Q)))
    boosts = {"text": 1.0, "tag": 2.5}
    n_docs = len(pdf)
    contrib: dict[tuple, dict] = {}
    dfs: dict[str, dict[str, int]] = {}
    toks = {}
    for f in boosts:
        toks[f] = pdf[f].map(tokenize_py)
        dfs[f] = {
            t: int(toks[f].map(lambda l: t in l).sum()) for t in q_terms
        }
    for t in q_terms:
        bdf = max(dfs[f][t] for f in boosts)
        if bdf == 0:
            continue
        idf = math.log(1.0 + (n_docs - bdf + 0.5) / (bdf + 0.5))
        for f, b in boosts.items():
            avgdl = toks[f].map(len).mean()
            for d, l in zip(pdf.doc_id, toks[f]):
                tf = l.count(t)
                if tf:
                    contrib.setdefault((d, t), {})[f] = (
                        idf
                        * b
                        * tf
                        / (
                            tf
                            + BM25_K1
                            * (1 - BM25_B + BM25_B * len(l) / avgdl)
                        )
                    )
    tb = 0.4
    exp_rows = {}
    for (d, t), per_f in contrib.items():
        vals = list(per_f.values())
        mx, sm = max(vals), sum(vals)
        exp_rows[d] = exp_rows.get(d, 0.0) + mx + tb * (sm - mx)
    got = (
        cross_fields_scored(docs, Q, FIELDS, tie_breaker=tb)
        .toPandas()
        .set_index("doc_id")["score"]
    )
    assert set(got.index) == set(exp_rows)
    for d, s in exp_rows.items():
        assert abs(got[d] - s) < 1e-9 * max(1.0, abs(s))


@pytest.mark.parametrize("mode", ["driver", "distributed"])
@pytest.mark.parametrize(
    "match_type,tb",
    [
        ("best_fields", 0.0),
        ("best_fields", 0.4),
        ("most_fields", 0.0),
        ("cross_fields", 0.0),
        ("cross_fields", 0.4),
    ],
)
def test_index_matches_corpus(mmx, match_type, tb, mode):
    docs, idxs = mmx
    got = (
        multi_match_index_topk(
            idxs, Q, FIELDS, match_type=match_type, tie_breaker=tb,
            k=10, mode=mode,
        )
        .toPandas()
        .sort_values("rank")
    )
    exp = corpus_topk(docs, match_type, tb)
    assert (got.doc_id.to_numpy() == exp.doc_id.to_numpy()).all()
    # index kernels cast float32 at the end; corpus scans stay double
    assert np.allclose(got.score, exp.score, rtol=1e-5)


def test_missing_field_raises(mmx):
    _, idxs = mmx
    with pytest.raises(KeyError, match="no attached index"):
        multi_match_index_topk(idxs, Q, ["text", "nope"])


def test_oov_query_empty(mmx):
    _, idxs = mmx
    out = multi_match_index_topk(idxs, "zzzzqqqq", FIELDS).toPandas()
    assert len(out) == 0


@pytest.mark.parametrize(
    "match_type,tb",
    [
        ("best_fields", 0.0),
        ("best_fields", 0.4),
        ("most_fields", 0.0),
        ("cross_fields", 0.3),
    ],
)
def test_batch_matches_per_query(mmx, match_type, tb):
    docs, idxs = mmx
    batch = [("qa", Q), ("qb", "call conv00000003"), ("qc", "zzzznope")]
    got = (
        multi_match_topk_batch(
            idxs, batch, FIELDS, match_type=match_type, tie_breaker=tb, k=8
        )
        .toPandas()
        .sort_values(["query_id", "rank"])
    )
    assert set(got.query_id) <= {"qa", "qb"}  # OOV query absent
    for qid, text in batch[:2]:
        one = (
            multi_match_index_topk(
                idxs, text, FIELDS, match_type=match_type,
                tie_breaker=tb, k=8, mode="driver",
            )
            .toPandas()
            .sort_values("rank")
        )
        g = got[got.query_id == qid]
        assert (g.doc_id.to_numpy() == one.doc_id.to_numpy()).all()
        assert np.allclose(g.score, one.score, rtol=1e-5)


@pytest.fixture(scope="module")
def mixed_tags(spark, transcripts_df, tmp_path_factory):
    """The tag field rebuilt with n_shards=2 and with n_shards=3, to pair
    with the 4-shard text index of ``mmx``."""
    base = tmp_path_factory.mktemp("mmx_mixed")
    out = {}
    for n in (2, 3):
        d = str(base / f"tag{n}")
        IndexBuilder(spark, d, n_shards=n, block_size=64).build(
            transcripts_df.select(
                "conv_id", "turn_idx", F.col("conv_id").alias("text")
            )
        )
        out[n] = BM25Index(spark, d)
    return out


MIXED_TYPES = [
    ("best_fields", 0.0),
    ("best_fields", 0.4),
    ("most_fields", 0.0),
    ("cross_fields", 0.0),
]


@pytest.mark.parametrize("tag_shards", [2, 3])
def test_mixed_layouts_match_corpus(mmx, mixed_tags, tag_shards):
    """Per-field indexes with different n_shards (4/2 and 4/3) serve every
    type on both routes, rank-identical to the corpus twin: the kernel
    groups by pmod(shard_id, gcd), which co-locates a doc's postings."""
    docs, idxs = mmx
    mixed = dict(idxs, tag=mixed_tags[tag_shards])
    for match_type, tb in MIXED_TYPES:
        exp = corpus_topk(docs, match_type, tb)
        for mode in ("driver", "distributed"):
            got = (
                multi_match_index_topk(
                    mixed, Q, FIELDS, match_type=match_type,
                    tie_breaker=tb, k=10, mode=mode,
                )
                .toPandas()
                .sort_values("rank")
            )
            case = (match_type, tb, mode)
            assert got.doc_id.tolist() == exp.doc_id.tolist(), case
            assert np.allclose(got.score, exp.score, rtol=1e-5), case


def test_mixed_layouts_route_and_batch(mmx, mixed_tags, spark):
    """Mixed layouts plan the index route for cross_fields too, and
    msearch batches the specs into one multi_match_topk_batch call that
    answers what search() does."""
    from neural_search_spark.engine import _TOPK
    from neural_search_spark.query import multimatch as mm_mod

    docs, idxs = mmx
    eng = Engine(
        spark, corpus=docs, field_indexes=dict(idxs, tag=mixed_tags[3])
    )
    specs = {
        f"{mt}_{tb}_{i}": {
            "multi_match": {
                "query_text": text, "fields": FIELDS,
                "match_type": mt, "tie_breaker": tb,
            }
        }
        for mt, tb in MIXED_TYPES
        for i, text in enumerate((Q, "call conv00000003"))
    }
    for qid, body in specs.items():
        assert eng.explain_route(body)["route"] == "index", qid
        plan = eng._plan(spec_from_json(body), _TOPK)
        assert plan.batch is not None and plan.batch[0][0] == "multi_match"
    calls = []
    real = mm_mod.multi_match_topk_batch

    def counting(field_indexes, queries, fields, **kw):
        calls.append(sorted(qid for qid, _ in queries))
        return real(field_indexes, queries, fields, **kw)

    mm_mod.multi_match_topk_batch = counting
    try:
        out = eng.msearch(specs, k=5).toPandas()
    finally:
        mm_mod.multi_match_topk_batch = real
    assert sorted(calls) == sorted(
        sorted(q for q in specs if q.startswith(f"{mt}_{tb}_"))
        for mt, tb in MIXED_TYPES
    )
    for qid, body in specs.items():
        one = eng.search(spec_from_json(body), k=5).toPandas()
        g = out[out.query_id == qid].sort_values("rank")
        assert len(one) > 0, qid
        assert g.doc_id.tolist() == one.doc_id.tolist(), qid
        assert np.allclose(g.score, one.score, rtol=1e-5), qid


def test_engine_msearch_batches_multi_match(mmx, spark):
    docs, idxs = mmx
    eng = Engine(spark, corpus=docs, field_indexes=idxs)
    specs = {
        "m1": {"multi_match": {"query_text": Q, "fields": FIELDS}},
        "m2": {
            "multi_match": {
                "query_text": "call conv00000003", "fields": FIELDS,
            }
        },
        "plain": {"match": {"query_text": "call"}},
    }
    out = eng.msearch(specs, k=5).toPandas()
    assert set(out.query_id) >= {"m1", "m2"}
    for qid in ("m1", "m2"):
        one = (
            eng.search(spec_from_json(specs[qid]), k=5)
            .toPandas()
            .sort_values("rank")
        )
        g = out[out.query_id == qid].sort_values("rank")
        assert (g.doc_id.to_numpy() == one.doc_id.to_numpy()).all()
        assert np.allclose(g.score, one.score, rtol=1e-5)


@pytest.mark.parametrize("mt", ["phrase", "bool_prefix"])
def test_engine_field_centric_index_routes(mmx, spark, transcripts_df, mt):
    """type=phrase / bool_prefix with per-field indexes: per-field index
    kernels + exact dis-max union must equal the corpus composition."""
    from neural_search_spark.index.positions import build_positions
    from neural_search_spark.tokenizer import tokenize_py

    docs, idxs = mmx
    for f, col in (("text", F.col("text")), ("tag", F.col("conv_id"))):
        build_positions(
            spark,
            idxs[f].path,
            transcripts_df.select("conv_id", "turn_idx", col.alias("text")),
        )
    row = docs.orderBy("doc_id").limit(1).toPandas().iloc[0]
    tk = tokenize_py(row.text)
    q = f"{tk[0]} {tk[1]}"
    eng = Engine(spark, corpus=docs, field_indexes=idxs)
    spec = spec_from_json(
        {
            "multi_match": {
                "query_text": q, "fields": FIELDS, "match_type": mt,
            }
        }
    )
    assert eng.explain_route(spec)["route"] == "index"
    got = eng.search(spec, k=10).toPandas().sort_values("rank")
    exp = (
        Engine(spark, corpus=docs).search(spec, k=10)
        .toPandas()
        .sort_values("rank")
    )
    assert (got.doc_id.to_numpy() == exp.doc_id.to_numpy()).all()
    assert np.allclose(got.score, exp.score, rtol=1e-5)


def test_engine_msearch_phrase_family_not_batch_grouped(mmx, spark):
    """Two phrase-type multi_match specs must NOT enter the statistics
    batch kernel (it rejects the phrase family) — they answer per-spec."""
    from neural_search_spark.tokenizer import tokenize_py

    docs, idxs = mmx
    row = docs.orderBy("doc_id").limit(1).toPandas().iloc[0]
    tk = tokenize_py(row.text)
    q = f"{tk[0]} {tk[1]}"
    eng = Engine(spark, corpus=docs, field_indexes=idxs)
    specs = {
        "p1": {
            "multi_match": {
                "query_text": q, "fields": FIELDS, "match_type": "phrase",
            }
        },
        "p2": {
            "multi_match": {
                "query_text": q, "fields": FIELDS, "match_type": "phrase",
            }
        },
    }
    out = eng.msearch(specs, k=5).toPandas()
    assert set(out.query_id) == {"p1", "p2"}
    one = eng.search(spec_from_json(specs["p1"]), k=5).toPandas()
    g = out[out.query_id == "p1"].sort_values("rank")
    assert (g.doc_id.to_numpy() == one.sort_values("rank").doc_id.to_numpy()).all()


def test_engine_routes_multi_match_to_indexes(mmx, spark):
    docs, idxs = mmx
    eng = Engine(spark, corpus=docs, field_indexes=idxs)
    spec = spec_from_json(
        {
            "multi_match": {
                "query_text": Q,
                "fields": FIELDS,
                "match_type": "best_fields",
                "tie_breaker": 0.4,
            }
        }
    )
    route = eng.explain_route(spec)
    assert route["route"] == "index"
    got = eng.search(spec, k=10).toPandas()
    exp = corpus_topk(docs, "best_fields", 0.4)
    assert (got.doc_id.to_numpy() == exp.doc_id.to_numpy()).all()
    assert np.allclose(got.score, exp.score, rtol=1e-5)
    # an uncovered field falls back to the corpus scan
    spec2 = spec_from_json(
        {"multi_match": {"query_text": Q, "fields": ["text", "role"]}}
    )
    assert eng.explain_route(spec2)["route"] == "corpus"
