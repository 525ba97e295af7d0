"""Span queries: per-doc enumeration semantics, cross-kernel properties,
and index-backed serving (driver vs distributed parity)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from neural_search_spark.engine import Engine, SpanSpec, spec_from_json
from neural_search_spark.query.phrase import phrase_freq
from neural_search_spark.query.spans import (
    SpanContaining,
    SpanFirst,
    SpanMulti,
    SpanNear,
    SpanNot,
    SpanOr,
    SpanTerm,
    SpanWithin,
    enumerate_spans,
    required_groups,
    scoring_terms,
    span_freq,
    span_from_json,
    span_topk,
)


def _pos(tokens):
    out = {}
    for i, t in enumerate(tokens):
        out.setdefault(t, []).append(i)
    return {t: np.asarray(ps, dtype=np.int64) for t, ps in out.items()}


class TestEnumeration:
    def test_span_term(self):
        p = _pos("a b a c a".split())
        assert enumerate_spans(SpanTerm("a"), p) == [
            (0, 1, 0),
            (2, 3, 0),
            (4, 5, 0),
        ]
        assert enumerate_spans(SpanTerm("zz"), p) == []

    def test_span_or_merges_sorted(self):
        p = _pos("a b a c".split())
        got = enumerate_spans(SpanOr((SpanTerm("b"), SpanTerm("a"))), p)
        assert got == [(0, 1, 0), (1, 2, 0), (2, 3, 0)]

    def test_span_first(self):
        p = _pos("a b a c a".split())
        q = SpanFirst(SpanTerm("a"), end=3)
        assert enumerate_spans(q, p) == [(0, 1, 0), (2, 3, 0)]

    def test_span_not_window(self):
        # exclude 'x' within 1 before / 1 after an 'a' span
        p = _pos("a y x a y a x".split())
        q = SpanNot(SpanTerm("a"), SpanTerm("x"), pre=1, post=1)
        # a@0 ok (x@2 outside [−1,2)); a@3 vetoed (x@2 in [2,5));
        # a@5 vetoed (x@6 in [4,7))
        assert enumerate_spans(q, p) == [(0, 1, 0)]
        # pre/post 0: only overlap vetoes — term spans never overlap
        q0 = SpanNot(SpanTerm("a"), SpanTerm("x"))
        assert len(enumerate_spans(q0, p)) == 3

    def test_near_ordered_adjacent(self):
        p = _pos("merge data now merge data".split())
        q = SpanNear((SpanTerm("merge"), SpanTerm("data")), slop=0)
        assert enumerate_spans(q, p) == [(0, 2, 0), (3, 5, 0)]

    def test_near_ordered_slop_and_width(self):
        p = _pos("a x b".split())
        q = SpanNear((SpanTerm("a"), SpanTerm("b")), slop=0)
        assert enumerate_spans(q, p) == []
        q1 = SpanNear((SpanTerm("a"), SpanTerm("b")), slop=1)
        assert enumerate_spans(q1, p) == [(0, 3, 1)]
        # shrink: the LATEST a before b is chosen
        p2 = _pos("a a b".split())
        got = enumerate_spans(
            SpanNear((SpanTerm("a"), SpanTerm("b")), slop=0), p2
        )
        assert (1, 3, 0) in got

    def test_near_ordered_requires_order(self):
        p = _pos("b x a".split())
        q = SpanNear((SpanTerm("a"), SpanTerm("b")), slop=5)
        assert enumerate_spans(q, p) == []
        qu = SpanNear((SpanTerm("a"), SpanTerm("b")), slop=5, in_order=False)
        assert len(enumerate_spans(qu, p)) == 1

    def test_near_unordered_width(self):
        p = _pos("a x x b".split())
        qu = SpanNear((SpanTerm("a"), SpanTerm("b")), slop=1, in_order=False)
        assert enumerate_spans(qu, p) == []  # width 2
        qu2 = SpanNear((SpanTerm("a"), SpanTerm("b")), slop=2, in_order=False)
        assert enumerate_spans(qu2, p) == [(0, 4, 2)]

    def test_nested_near_or(self):
        # near(or(a, b), c) matches via either branch
        p = _pos("b c x a c".split())
        q = SpanNear(
            (SpanOr((SpanTerm("a"), SpanTerm("b"))), SpanTerm("c")),
            slop=0,
        )
        assert enumerate_spans(q, p) == [(0, 2, 0), (3, 5, 0)]

    def test_freq_is_sloppy_weighted(self):
        p = _pos("a b x a x b".split())
        q = SpanNear((SpanTerm("a"), SpanTerm("b")), slop=2)
        # a@0 b@1 width0 → 1.0 ; a@3 b@5 width1 → 0.5
        assert span_freq(q, p) == pytest.approx(1.5)


class TestCrossKernelProperties:
    def test_ordered_slop0_equals_exact_phrase(self):
        rng = np.random.default_rng(7)
        vocab = list("abcde")
        for _ in range(200):
            toks = rng.choice(vocab, size=rng.integers(2, 40)).tolist()
            p = _pos(toks)
            for pair in (("a", "b"), ("c", "a"), ("d", "e")):
                q = SpanNear(tuple(SpanTerm(t) for t in pair), slop=0)
                exact = phrase_freq(
                    [p.get(t, np.empty(0, dtype=np.int64)) for t in pair]
                )
                assert span_freq(q, p) == pytest.approx(float(exact)), toks

    def test_single_clause_near_is_term(self):
        p = _pos("a b a".split())
        q = SpanNear((SpanTerm("a"),), slop=0)
        assert span_freq(q, p) == 2.0

    def test_every_ordered_match_is_valid(self):
        rng = np.random.default_rng(11)
        vocab = list("abc")
        for _ in range(100):
            toks = rng.choice(vocab, size=rng.integers(3, 30)).tolist()
            p = _pos(toks)
            slop = int(rng.integers(0, 4))
            q = SpanNear(
                (SpanTerm("a"), SpanTerm("b"), SpanTerm("c")), slop=slop
            )
            for s, e, w in enumerate_spans(q, p):
                assert 0 <= w <= slop
                # the emitted interval really contains a,b,c in order
                window = toks[s:e]
                ia = window.index("a")
                ib = window.index("b", ia + 1)
                assert "c" in window[ib + 1 :]


class TestTreeUtils:
    def test_required_groups(self):
        q = SpanNear(
            (
                SpanOr((SpanTerm("a"), SpanTerm("b"))),
                SpanNot(SpanTerm("c"), SpanTerm("x")),
            ),
            slop=1,
        )
        groups = required_groups(q)
        assert frozenset({"a", "b"}) in groups
        assert frozenset({"c"}) in groups
        assert all("x" not in g for g in groups)

    def test_scoring_terms_excludes_veto(self):
        q = SpanNot(SpanTerm("c"), SpanTerm("x"))
        assert scoring_terms(q) == {"c"}

    def test_span_from_json_shapes(self):
        q = span_from_json(
            {
                "span_near": {
                    "clauses": [
                        {"span_term": {"value": "Merge"}},
                        {"span_or": {"clauses": [
                            {"span_term": {"term": "data"}},
                            {"span_term": {"value": "tool"}},
                        ]}},
                    ],
                    "slop": 2,
                    "in_order": False,
                }
            }
        )
        assert isinstance(q, SpanNear) and not q.in_order and q.slop == 2
        assert isinstance(q.clauses[0], SpanTerm)
        assert q.clauses[0].term == "merge"  # analyzed
        with pytest.raises(ValueError, match="one token"):
            span_from_json({"span_term": {"value": "two words"}})
        with pytest.raises(ValueError, match="unknown span"):
            span_from_json({"span_sideways": {}})
        # span_within is a real kind now — missing operands, not unknown
        with pytest.raises(ValueError, match="needs big and little"):
            span_from_json({"span_within": {}})


@pytest.fixture(scope="module")
def pos_index(spark, transcripts_df, tmp_path_factory):
    from neural_search_spark.index.build import IndexBuilder
    from neural_search_spark.index.positions import build_positions
    from neural_search_spark.query.bm25 import BM25Index

    d = str(tmp_path_factory.mktemp("spanidx") / "idx")
    IndexBuilder(spark, d, n_shards=8, block_size=512).build(transcripts_df)
    build_positions(spark, d, transcripts_df)
    return BM25Index(spark, d)


class TestServing:
    Q = SpanNear((SpanTerm("tool"), SpanTerm("call")), slop=2)

    def test_driver_distributed_parity(self, pos_index):
        drv = span_topk(pos_index, self.Q, k=30, mode="driver").collect()
        dst = span_topk(pos_index, self.Q, k=30, mode="distributed").collect()
        assert [(r["doc_id"], r["rank"]) for r in drv] == [
            (r["doc_id"], r["rank"]) for r in dst
        ]
        assert len(drv) > 0
        for a, b in zip(drv, dst):
            assert a["score"] == pytest.approx(b["score"], rel=1e-6)

    def test_matches_brute_force_scan(self, spark, pos_index, transcripts_df):
        from neural_search_spark import BM25_B, BM25_K1
        from neural_search_spark.index.build import doc_id_col
        from neural_search_spark.query.bm25 import lucene_idf
        from neural_search_spark.tokenizer import tokenize_py

        rows = (
            transcripts_df.withColumn("doc_id", doc_id_col())
            .select("doc_id", "text")
            .collect()
        )
        n_docs = len(rows)
        dls = {r["doc_id"]: len(tokenize_py(r["text"])) for r in rows}
        avgdl = sum(dls.values()) / n_docs
        dfs = {"tool": 0, "call": 0}
        for r in rows:
            toks = set(tokenize_py(r["text"]))
            for t in dfs:
                if t in toks:
                    dfs[t] += 1
        idf_total = sum(lucene_idf(n_docs, df) for df in dfs.values())
        exp = {}
        for r in rows:
            toks = tokenize_py(r["text"])
            fr = span_freq(self.Q, _pos(toks))
            if fr > 0:
                d = dls[r["doc_id"]]
                tfn = fr / (fr + BM25_K1 * (1 - BM25_B + BM25_B * d / avgdl))
                exp[r["doc_id"]] = np.float32(idf_total * tfn)
        got = {
            r["doc_id"]: r["score"]
            for r in span_topk(
                pos_index, self.Q, k=len(exp) + 10, mode="driver"
            ).collect()
        }
        assert set(got) == set(exp)
        for d, s in got.items():
            assert s == pytest.approx(float(exp[d]), rel=1e-5)

    def test_oov_required_term_matches_nothing(self, pos_index):
        q = SpanNear((SpanTerm("merge"), SpanTerm("zzzqqq")), slop=5)
        assert span_topk(pos_index, q, k=10).count() == 0

    def test_batch_matches_per_query(self, pos_index):
        from neural_search_spark.query.spans import span_topk_batch

        qs = {
            "near2": SpanNear((SpanTerm("tool"), SpanTerm("call")), slop=2),
            "first": SpanFirst(SpanTerm("tool"), end=8),
            "uno": SpanNear(
                (SpanTerm("merge"), SpanTerm("tool")), slop=5, in_order=False
            ),
            "oov": SpanNear((SpanTerm("tool"), SpanTerm("zzzqqq")), slop=1),
        }
        rows = span_topk_batch(pos_index, list(qs.items()), k=12).collect()
        by_q: dict[str, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        assert "oov" not in by_q  # MatchNoDocsQuery rewrite: no rows
        hits = 0
        for qid, q in qs.items():
            if qid == "oov":
                continue
            exp = span_topk(pos_index, q, k=12).collect()
            got = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
            assert [(r["doc_id"], r["rank"]) for r in got] == [
                (r["doc_id"], r["rank"]) for r in exp
            ]
            for a, b in zip(got, exp):
                assert a["score"] == pytest.approx(b["score"], rel=1e-6)
            hits += len(got)
        assert hits > 0  # the batch must exercise real matches

    def test_batch_accepts_json_and_mixes_intervals(self, pos_index):
        from neural_search_spark.query.intervals import (
            IntervalClause,
            rule_from_json,
        )
        from neural_search_spark.query.spans import span_topk_batch
        from neural_search_spark.query.intervals import intervals_topk

        near_json = {
            "span_near": {
                "clauses": [
                    {"span_term": {"value": "tool"}},
                    {"span_term": {"value": "call"}},
                ],
                "slop": 1,
            }
        }
        iv = IntervalClause(
            rule_from_json(
                {"match": {"query": "tool call", "ordered": True,
                           "max_gaps": 1}}
            )
        )
        rows = span_topk_batch(
            pos_index, [("sp", near_json), ("iv", iv)], k=8
        ).collect()
        by_q: dict[str, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        exp_sp = span_topk(
            pos_index, span_from_json(near_json), k=8
        ).collect()
        exp_iv = intervals_topk(
            pos_index,
            {"match": {"query": "tool call", "ordered": True,
                       "max_gaps": 1}},
            k=8,
        ).collect()
        for qid, exp in (("sp", exp_sp), ("iv", exp_iv)):
            got = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
            assert [(r["doc_id"], r["rank"]) for r in got] == [
                (r["doc_id"], r["rank"]) for r in exp
            ]
            for a, b in zip(got, exp):
                assert a["score"] == pytest.approx(b["score"], rel=1e-6)
        assert len(by_q.get("sp", [])) > 0

    def test_distributed_rank_window_is_partitioned(self, pos_index):
        """The distributed page ranks its ≤k rows with a partitioned
        window: an unpartitioned Window makes WindowExec log "No
        Partition Defined" on every query."""
        df = span_topk(pos_index, self.Q, k=5, mode="distributed")
        stack = [df._jdf.queryExecution().optimizedPlan()]
        windows = []
        while stack:
            node = stack.pop()
            if node.getClass().getSimpleName() == "Window":
                windows.append(node)
            children = node.children()
            stack.extend(children.apply(i) for i in range(children.size()))
        assert windows
        assert all(not w.partitionSpec().isEmpty() for w in windows)

    def test_msearch_batches_span_specs(self, spark, pos_index):
        eng = Engine(spark, corpus=None, bm25_index=pos_index)
        near = {
            "span_near": {
                "clauses": [
                    {"span_term": {"value": "tool"}},
                    {"span_term": {"value": "call"}},
                ],
                "slop": 2,
            }
        }
        first = {
            "span_first": {
                "match": {"span_term": {"value": "tool"}}, "end": 8,
            }
        }
        res = eng.msearch({"a": near, "b": first}, k=5).collect()
        by_q: dict[str, list] = {}
        for r in res:
            by_q.setdefault(r["query_id"], []).append(r)
        for qid, body in (("a", near), ("b", first)):
            exp = eng.search(spec_from_json(body), k=5).collect()
            got = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
            assert [(r["doc_id"], r["rank"]) for r in got] == [
                (r["doc_id"], r["rank"]) for r in exp
            ]

    def test_engine_json_route(self, spark, pos_index, transcripts_df):
        eng = Engine(spark, corpus=None, bm25_index=pos_index)
        spec = spec_from_json(
            {
                "span_near": {
                    "clauses": [
                        {"span_term": {"value": "tool"}},
                        {"span_term": {"value": "call"}},
                    ],
                    "slop": 2,
                }
            }
        )
        assert isinstance(spec, SpanSpec)
        out = eng.search(spec, k=5).collect()
        assert 0 < len(out) <= 5
        eng_no_idx = Engine(spark, corpus=transcripts_df)
        with pytest.raises(ValueError, match="positions sidecar"):
            eng_no_idx.search(spec, k=5)


class TestContainWithin:
    def test_containing_keeps_big_spans(self):
        # big = near(a, c, slop 2); little = b — only big spans with a b
        # inside survive, and they keep big's width
        p = _pos("a b c a x x c".split())
        big = SpanNear((SpanTerm("a"), SpanTerm("c")), slop=2)
        got = enumerate_spans(SpanContaining(big, SpanTerm("b")), p)
        bigs = enumerate_spans(big, p)
        exp = [
            (s, e, w)
            for s, e, w in bigs
            if any(s <= pb and pb + 1 <= e for pb in p.get("b", []))
        ]
        assert got == exp
        assert got  # non-degenerate: at least one containing match

    def test_within_keeps_little_spans(self):
        p = _pos("a b c a b x c b".split())
        big = SpanNear((SpanTerm("a"), SpanTerm("c")), slop=2)
        got = enumerate_spans(SpanWithin(big, SpanTerm("b")), p)
        bigs = enumerate_spans(big, p)
        exp = [
            (int(pb), int(pb) + 1, 0)
            for pb in p.get("b", [])
            if any(s <= pb and pb + 1 <= e for s, e, _ in bigs)
        ]
        assert got == exp
        assert all(e - s == 1 for s, e, _ in got)  # little's shape

    def test_both_sides_score_and_gate(self):
        q = SpanContaining(
            SpanNear((SpanTerm("a"), SpanTerm("c")), slop=2), SpanTerm("b")
        )
        assert scoring_terms(q) == {"a", "b", "c"}
        groups = required_groups(q)
        assert frozenset(["b"]) in groups and len(groups) == 3

    def test_json_shapes(self):
        q = span_from_json(
            {
                "span_within": {
                    "big": {"span_term": {"value": "a"}},
                    "little": {"span_term": {"value": "b"}},
                }
            }
        )
        assert isinstance(q, SpanWithin)
        masked = span_from_json(
            {
                "field_masking_span": {
                    "query": {"span_term": {"value": "a"}},
                    "field": "text",
                }
            }
        )
        assert masked == SpanTerm("a")  # identity in a one-field schema


class TestSpanMulti:
    def test_parse_shapes(self):
        nested = span_from_json(
            {"span_multi": {"match": {"prefix": {"text": {"value": "me"}}}}}
        )
        flat = span_from_json(
            {"span_multi": {"match": {"prefix": {"value": "me"}}}}
        )
        assert nested == flat == SpanMulti("prefix", "me", 128)
        with pytest.raises(ValueError, match="prefix/wildcard/regexp"):
            span_from_json({"span_multi": {"match": {"fuzzy": {"value": "x"}}}})

    def test_walkers_require_expansion(self):
        q = SpanMulti("prefix", "me")
        with pytest.raises(ValueError, match="unexpanded"):
            scoring_terms(q)
        with pytest.raises(ValueError, match="unexpanded"):
            required_groups(SpanFirst(q, end=3))

    def test_serving_equals_manual_or(self, pos_index):
        from neural_search_spark.query.multiterm import expand_pattern
        from neural_search_spark.query.spans import expand_span_multi

        exps = [t for t, _ in expand_pattern(pos_index, "ca", "prefix")]
        assert exps  # corpus has call/... terms under 'ca'
        multi = SpanFirst(SpanMulti("prefix", "ca"), end=12)
        manual = SpanFirst(SpanOr(tuple(SpanTerm(t) for t in exps)), end=12)
        got = span_topk(pos_index, multi, k=25, mode="driver").collect()
        exp = span_topk(pos_index, manual, k=25, mode="driver").collect()
        assert [(r["doc_id"], r["rank"]) for r in got] == [
            (r["doc_id"], r["rank"]) for r in exp
        ]
        assert len(got) > 0
        for a, b in zip(got, exp):
            assert a["score"] == pytest.approx(b["score"], rel=1e-6)

    def test_empty_expansion_empty_result(self, pos_index):
        got = span_topk(
            pos_index, SpanMulti("prefix", "zzzzqq"), k=5, mode="driver"
        )
        assert got.count() == 0

    def test_max_expansions_caps(self, pos_index):
        from neural_search_spark.query.spans import expand_span_multi

        one = expand_span_multi(SpanMulti("prefix", "ca", 1), pos_index)
        assert isinstance(one, SpanOr) and len(one.clauses) == 1
