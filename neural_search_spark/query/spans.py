"""Span queries — positional composition beyond phrases (Lucene
SpanTermQuery / SpanNearQuery / SpanOrQuery / SpanFirstQuery /
SpanNotQuery, the `span_*` family OpenSearch exposes and the reference
plugin's queries compose with through the host's query DSL).

A span is a positional interval [start, end) in a doc's token stream;
clauses form a tree and each node enumerates its matching spans in
(start, end) order, Lucene's ``Spans`` contract:

* span_term t        → one span [p, p+1) per position of ``t``
* span_or            → the merged union of its clauses' spans
* span_near ordered  → clauses in order, non-overlapping
                       (start_{i+1} ≥ end_i after the stretch step);
                       enumeration is Lucene's NearSpansOrdered lazy
                       walk: advance the first clause one span at a
                       time, stretch the rest minimally into order,
                       then shrink-to-after-shortest-match (advance
                       earlier clauses as late as order allows) —
                       sub-span cursors only ever move forward
* span_near unordered→ one span per clause in any arrangement
                       (overlap allowed, as NearSpansUnordered);
                       advance the min-(start, end) clause per step
* span_first         → child spans with end ≤ the cut-off
* span_not           → include spans with no exclude span overlapping
                       [start − pre, end + post)
* span_containing    → big spans containing ≥1 little span (both sides'
                       terms score, as SpanContainQuery gathers both)
* span_within        → little spans contained in ≥1 big span
* span_multi         → prefix/wildcard/regexp lifted to a span: rewritten
                       up front to a span_or over the lexicographically
                       first ≤max_expansions dictionary matches
                       (SpanMultiTermQueryWrapper's SpanOrQuery rewrite)
* field_masking_span → identity here (single text field; the host uses
                       it to mix differently-analyzed fields)

Width (the slop measure) of a near match = Σ inter-clause gaps for the
ordered form (Lucene's matchWidth) or covering-range − Σ child span
lengths for the unordered form, in both cases PLUS the child spans' own
widths (identical to Lucene for term children, whose width is 0; for
nested nears Lucene drops inner widths — keeping them is the stricter
and, for ranking, more informative reading; documented divergence). A
match contributes 1/(1 + max(0, width)) to the doc's span frequency
(SpanScorer's sloppyFreq), and the doc scores

    score = Σ_{t ∈ distinct scoring terms} idf(t) × tf_sat(span_freq)

— BM25 over the span frequency with the idf summed over the tree's
DISTINCT terms (SpanWeight.buildSimWeight gathers termStates keyed by
term, so repeats count once — unlike PhraseQuery, which sums idf per
occurrence). span_not's exclude side contributes no idf (its terms only
veto; they are not scored).

Serving shape (the 100-TB story): spans are served from the positions
sidecar by the same positional kernel as phrases
(``phrase.positional_topk`` / ``positional_topk_batch``) — span code
only builds the ``freqs_fn``. The scan prunes to the tree's terms'
``term_bucket``s, candidate docs are bounded by a conjunction over the
tree's REQUIRED term groups (every near/first/not-include clause must
be present; an or-group needs any member) before any per-doc work, and
the per-doc enumeration runs on the driver when Σdf is
coordinator-cheap, else sharded next to the data (``applyInPandas``
over ``doc_shard``) with a local top-k bounding the final exchange to
n·k rows. The enumeration itself is sequential per doc (the clause tree
makes the tagged-stream vectorization of exact phrases inapplicable —
same story as the sloppy-phrase sweep); the conjunction bound is what
keeps it cheap: a span query's candidates are the docs containing ALL
its required terms, the same set a phrase verify touches.

Reference trail: Lucene ``spans`` package (NearSpansOrdered's
stretchToOrder + shrinkToAfterShortestMatch, NearSpansUnordered's
min-cell advance, SpanNotQuery's pre/post window); the reference plugin
relies on the host for these (no span code of its own) — cited here as
the semantics source, not ported code.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial

import numpy as np
from pyspark.sql import DataFrame

from ..index.build import tid_py
from ..index.positions import PositionsBlock
from ..ranking import local_page
from ..tokenizer import tokenize_py
from .bm25 import BM25Index, lucene_idf
from .phrase import (
    _covered,
    _NO_HITS,
    _require_positions,
    positional_topk,
    positional_topk_batch,
)

# ---------------------------------------------------------------------------
# clause tree
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class SpanTerm:
    term: str


@dataclass(frozen=True)
class SpanOr:
    clauses: tuple


@dataclass(frozen=True)
class SpanNear:
    clauses: tuple
    slop: int = 0
    in_order: bool = True


@dataclass(frozen=True)
class SpanFirst:
    match: object
    end: int


@dataclass(frozen=True)
class SpanNot:
    include: object
    exclude: object
    pre: int = 0
    post: int = 0


@dataclass(frozen=True)
class SpanContaining:
    """Spans from ``big`` that contain a span from ``little``
    (SpanContainingQuery; both sides' terms score — SpanContainQuery
    gathers termStates from both clauses)."""

    big: object
    little: object


@dataclass(frozen=True)
class SpanWithin:
    """Spans from ``little`` that lie within a span from ``big``
    (SpanWithinQuery; both sides' terms score)."""

    big: object
    little: object


@dataclass(frozen=True)
class SpanMulti:
    """SpanMultiTermQueryWrapper: a prefix/wildcard/regexp multi-term
    query lifted to a span — rewritten at query time to a SpanOr over
    the lexicographically-first ≤max_expansions dictionary matches
    (SpanOrQuery rewrite method). Must be expanded via
    ``expand_span_multi`` before enumeration; the tree walkers raise on
    an unexpanded node."""

    kind: str  # 'prefix' | 'wildcard' | 'regexp'
    value: str
    max_expansions: int = 128


_SPAN_KINDS = (
    "span_term",
    "span_or",
    "span_near",
    "span_first",
    "span_not",
    "span_containing",
    "span_within",
    "span_multi",
    "field_masking_span",
)


def span_from_json(obj: dict) -> object:
    """Host-shaped span body → clause tree. Accepted shapes:

      {"span_term": {"value": "merge"}}         (or {"term": ...})
      {"span_or":   {"clauses": [<span>, ...]}}
      {"span_near": {"clauses": [...], "slop": 2, "in_order": true}}
      {"span_first":{"match": <span>, "end": 3}}
      {"span_not":  {"include": <span>, "exclude": <span>,
                     "pre": 0, "post": 0}}
      {"span_containing": {"big": <span>, "little": <span>}}
      {"span_within":     {"big": <span>, "little": <span>}}
      {"span_multi": {"match": {"prefix": {"text": {"value": "mer"}}}}}
        (prefix / wildcard / regexp leaves; "text" may be omitted)
      {"field_masking_span": {"query": <span>, "field": "text"}}
        (identity in this engine's single-text-field schema — the host
        uses it to join spans across differently-analyzed fields)
    """
    if not isinstance(obj, dict) or len(obj) != 1:
        raise ValueError("span clause must have exactly one top-level key")
    (kind, body), = obj.items()
    if kind not in _SPAN_KINDS:
        raise ValueError(
            f"unknown span clause {kind!r}; valid: {list(_SPAN_KINDS)}"
        )
    if kind == "span_term":
        val = body.get("value", body.get("term"))
        if not val:
            raise ValueError("span_term needs a value")
        toks = tokenize_py(str(val))
        if len(toks) != 1:
            raise ValueError(
                f"span_term value must analyze to one token, got {toks}"
            )
        return SpanTerm(toks[0])
    if kind in ("span_or", "span_near"):
        clauses = tuple(span_from_json(c) for c in body.get("clauses", []))
        if not clauses:
            raise ValueError(f"{kind} needs at least one clause")
        if kind == "span_or":
            return SpanOr(clauses)
        return SpanNear(
            clauses,
            slop=int(body.get("slop", 0)),
            in_order=bool(body.get("in_order", True)),
        )
    if kind == "span_first":
        if "match" not in body or "end" not in body:
            raise ValueError("span_first needs match and end")
        return SpanFirst(span_from_json(body["match"]), int(body["end"]))
    if kind in ("span_containing", "span_within"):
        if "big" not in body or "little" not in body:
            raise ValueError(f"{kind} needs big and little")
        cls = SpanContaining if kind == "span_containing" else SpanWithin
        return cls(span_from_json(body["big"]), span_from_json(body["little"]))
    if kind == "span_multi":
        inner = body.get("match", body)
        if not isinstance(inner, dict) or len(inner) != 1:
            raise ValueError("span_multi needs one multi-term match clause")
        (mkind, mbody), = inner.items()
        if mkind not in ("prefix", "wildcard", "regexp"):
            raise ValueError(
                f"span_multi supports prefix/wildcard/regexp, got {mkind!r}"
            )
        # host field nesting: {"prefix": {"text": {"value": "mer"}}} or
        # the flat {"prefix": {"value": "mer"}}
        if "value" not in mbody and len(mbody) == 1:
            (_field, mbody), = mbody.items()
        if isinstance(mbody, str):
            mbody = {"value": mbody}
        val = mbody.get("value")
        if not val:
            raise ValueError("span_multi clause needs a value")
        return SpanMulti(
            mkind, str(val), int(mbody.get("max_expansions", 128))
        )
    if kind == "field_masking_span":
        if "query" not in body:
            raise ValueError("field_masking_span needs a query")
        # single text field → masking is identity; unwrap
        return span_from_json(body["query"])
    if "include" not in body or "exclude" not in body:
        raise ValueError("span_not needs include and exclude")
    return SpanNot(
        span_from_json(body["include"]),
        span_from_json(body["exclude"]),
        pre=int(body.get("pre", 0)),
        post=int(body.get("post", 0)),
    )


def _require_expanded(clause) -> None:
    if isinstance(clause, SpanMulti):
        raise ValueError(
            "unexpanded span_multi — call expand_span_multi(clause, index) "
            "first (span_topk does this automatically)"
        )


def scoring_terms(clause) -> set[str]:
    """Distinct terms contributing idf — everything except span_not's
    exclude side (vetoes don't score)."""
    if hasattr(clause, "scoring_terms"):  # adapter protocol (intervals)
        return clause.scoring_terms()
    _require_expanded(clause)
    if isinstance(clause, SpanTerm):
        return {clause.term}
    if isinstance(clause, (SpanOr, SpanNear)):
        out: set[str] = set()
        for c in clause.clauses:
            out |= scoring_terms(c)
        return out
    if isinstance(clause, SpanFirst):
        return scoring_terms(clause.match)
    if isinstance(clause, (SpanContaining, SpanWithin)):
        return scoring_terms(clause.big) | scoring_terms(clause.little)
    return scoring_terms(clause.include)


def all_terms(clause) -> set[str]:
    """Every term whose positions the kernel reads (includes excludes)."""
    if hasattr(clause, "all_terms"):  # adapter protocol (intervals)
        return clause.all_terms()
    _require_expanded(clause)
    if isinstance(clause, SpanTerm):
        return {clause.term}
    if isinstance(clause, (SpanOr, SpanNear)):
        out: set[str] = set()
        for c in clause.clauses:
            out |= all_terms(c)
        return out
    if isinstance(clause, SpanFirst):
        return all_terms(clause.match)
    if isinstance(clause, (SpanContaining, SpanWithin)):
        return all_terms(clause.big) | all_terms(clause.little)
    return all_terms(clause.include) | all_terms(clause.exclude)


def required_groups(clause) -> list[frozenset[str]]:
    """Conjunction bound for candidate pruning: a matching doc must
    contain ≥1 term from EVERY returned group. near/first/not-include
    require all their children's groups; an or collapses its subtree to
    one any-member group; containing/within require both sides."""
    if hasattr(clause, "required_groups"):  # adapter protocol (intervals)
        return clause.required_groups()
    _require_expanded(clause)
    if isinstance(clause, SpanTerm):
        return [frozenset([clause.term])]
    if isinstance(clause, SpanOr):
        terms = all_terms(clause)
        return [frozenset(terms)] if terms else []
    if isinstance(clause, SpanNear):
        out: list[frozenset[str]] = []
        for c in clause.clauses:
            out.extend(required_groups(c))
        return out
    if isinstance(clause, SpanFirst):
        return required_groups(clause.match)
    if isinstance(clause, (SpanContaining, SpanWithin)):
        return required_groups(clause.big) + required_groups(clause.little)
    return required_groups(clause.include)


def expand_span_multi(clause, index: BM25Index):
    """Rewrite every SpanMulti node to a SpanOr over its dictionary
    expansions (SpanMultiTermQueryWrapper's SpanOrQuery rewrite —
    lexicographically-first ≤max_expansions matches, the same order
    ``multiterm_topk`` and MultiPhrasePrefixQuery use). Returns None
    when an expansion comes up empty (the whole tree can't match,
    except under SpanOr where the empty branch just drops out)."""
    from .multiterm import expand_pattern

    if hasattr(clause, "expand"):  # adapter protocol (intervals)
        return clause.expand(index)
    if isinstance(clause, SpanMulti):
        exps = expand_pattern(index, clause.value, clause.kind)
        exps = exps[: max(0, clause.max_expansions)]
        if not exps:
            return None
        return SpanOr(tuple(SpanTerm(t) for t, _df in exps))
    if isinstance(clause, (SpanOr, SpanNear)):
        subs = [expand_span_multi(c, index) for c in clause.clauses]
        if isinstance(clause, SpanOr):
            subs = [s for s in subs if s is not None]
            if not subs:
                return None
            return SpanOr(tuple(subs))
        if any(s is None for s in subs):
            return None
        return SpanNear(tuple(subs), slop=clause.slop, in_order=clause.in_order)
    if isinstance(clause, SpanFirst):
        m = expand_span_multi(clause.match, index)
        return None if m is None else SpanFirst(m, clause.end)
    if isinstance(clause, (SpanContaining, SpanWithin)):
        big = expand_span_multi(clause.big, index)
        little = expand_span_multi(clause.little, index)
        if big is None or little is None:
            return None
        return type(clause)(big, little)
    if isinstance(clause, SpanNot):
        inc = expand_span_multi(clause.include, index)
        if inc is None:
            return None
        exc = expand_span_multi(clause.exclude, index)
        if exc is None:  # nothing to exclude
            return inc
        return SpanNot(inc, exc, pre=clause.pre, post=clause.post)
    return clause


# ---------------------------------------------------------------------------
# per-doc span enumeration (start, end, width), ordered by (start, end)
# ---------------------------------------------------------------------------

_EMPTY = np.empty(0, dtype=np.int64)


def enumerate_spans(
    clause, pos_by_term: dict[str, np.ndarray]
) -> list[tuple[int, int, int]]:
    if isinstance(clause, SpanTerm):
        ps = pos_by_term.get(clause.term, _EMPTY)
        return [(int(p), int(p) + 1, 0) for p in ps]
    if isinstance(clause, SpanOr):
        out: list[tuple[int, int, int]] = []
        for c in clause.clauses:
            out.extend(enumerate_spans(c, pos_by_term))
        out.sort(key=lambda s: (s[0], s[1]))
        return out
    if isinstance(clause, SpanFirst):
        return [
            s
            for s in enumerate_spans(clause.match, pos_by_term)
            if s[1] <= clause.end
        ]
    if isinstance(clause, (SpanContaining, SpanWithin)):
        big = enumerate_spans(clause.big, pos_by_term)
        little = enumerate_spans(clause.little, pos_by_term)
        if not big or not little:
            return []
        if isinstance(clause, SpanContaining):
            # big spans containing ≥1 little span (keep big's width)
            return [
                (s, e, w)
                for s, e, w in big
                if any(s2 >= s and e2 <= e for s2, e2, _ in little)
            ]
        # within: little spans contained in ≥1 big span (little's width)
        return [
            (s2, e2, w2)
            for s2, e2, w2 in little
            if any(s <= s2 and e >= e2 for s, e, _ in big)
        ]
    if isinstance(clause, SpanNot):
        inc = enumerate_spans(clause.include, pos_by_term)
        exc = enumerate_spans(clause.exclude, pos_by_term)
        if not exc:
            return inc
        out = []
        j = 0
        for s, e, w in inc:
            lo, hi = s - clause.pre, e + clause.post
            # advance past exclude spans entirely before the window
            while j < len(exc) and exc[j][1] <= lo:
                j += 1
            # any exclude span overlapping [lo, hi)?
            jj = j
            veto = False
            while jj < len(exc) and exc[jj][0] < hi:
                if exc[jj][1] > lo:
                    veto = True
                    break
                jj += 1
            if not veto:
                out.append((s, e, w))
        return out
    # SpanNear
    subs = [enumerate_spans(c, pos_by_term) for c in clause.clauses]
    if any(not s for s in subs):
        return []
    if len(subs) == 1:
        return [s for s in subs[0] if s[2] <= clause.slop]
    if clause.in_order:
        return _near_ordered(subs, clause.slop)
    return _near_unordered(subs, clause.slop)


def _near_ordered(
    subs: list[list[tuple[int, int, int]]], slop: int
) -> list[tuple[int, int, int]]:
    """NearSpansOrdered: per outer step advance the FIRST clause one
    span; stretchToOrder the rest (minimal forward moves to
    start ≥ previous end); shrinkToAfterShortestMatch (advance earlier
    clauses as late as order allows); emit when Σ gaps + Σ child widths
    ≤ slop. Cursors are forward-only, like Lucene's sub-Spans."""
    n = len(subs)
    ptr = [0] * n
    out: list[tuple[int, int, int]] = []
    while ptr[0] < len(subs[0]):
        prev_end = subs[0][ptr[0]][1]
        exhausted = False
        for i in range(1, n):
            while ptr[i] < len(subs[i]) and subs[i][ptr[i]][0] < prev_end:
                ptr[i] += 1
            if ptr[i] >= len(subs[i]):
                exhausted = True
                break
            prev_end = subs[i][ptr[i]][1]
        if exhausted:
            break
        # shrink: from the second-to-last clause down, move each as late
        # as possible while its end stays ≤ the next clause's start
        for i in range(n - 2, -1, -1):
            nxt_start = subs[i + 1][ptr[i + 1]][0]
            while (
                ptr[i] + 1 < len(subs[i])
                and subs[i][ptr[i] + 1][1] <= nxt_start
            ):
                ptr[i] += 1
        width = sum(subs[i][ptr[i]][2] for i in range(n))
        for i in range(n - 1):
            width += subs[i + 1][ptr[i + 1]][0] - subs[i][ptr[i]][1]
        if width <= slop:
            out.append(
                (subs[0][ptr[0]][0], subs[n - 1][ptr[n - 1]][1], width)
            )
        ptr[0] += 1
    return out


def _near_unordered(
    subs: list[list[tuple[int, int, int]]], slop: int
) -> list[tuple[int, int, int]]:
    """NearSpansUnordered: keep one cursor per clause; per step test the
    current window (covering range − Σ span lengths + Σ child widths ≤
    slop), emit, then advance the min-(start, end) cursor."""
    n = len(subs)
    ptr = [0] * n
    out: list[tuple[int, int, int]] = []
    while True:
        cur = [subs[i][ptr[i]] for i in range(n)]
        lo = min(s[0] for s in cur)
        hi = max(s[1] for s in cur)
        width = (
            (hi - lo)
            - sum(s[1] - s[0] for s in cur)
            + sum(s[2] for s in cur)
        )
        if width <= slop:
            out.append((lo, hi, max(0, width)))
        # advance the minimum cursor
        imin = min(range(n), key=lambda i: (cur[i][0], cur[i][1]))
        ptr[imin] += 1
        if ptr[imin] >= len(subs[imin]):
            break
    out.sort(key=lambda s: (s[0], s[1]))
    return out


def span_freq(clause, pos_by_term: dict[str, np.ndarray]) -> float:
    """Σ 1/(1 + max(0, width)) over the clause's matches in one doc."""
    if hasattr(clause, "freq"):  # adapter protocol (intervals)
        return clause.freq(pos_by_term)
    return float(
        sum(
            1.0 / (1.0 + max(0, w))
            for _s, _e, w in enumerate_spans(clause, pos_by_term)
        )
    )


# ---------------------------------------------------------------------------
# serving
# ---------------------------------------------------------------------------


def _span_spec(clause, stats: dict, n_docs: int):
    """(freqs_fn, idf_total, read tids, Σdf) of an expanded clause tree,
    or None when it rewrites to no-match (zero idf, or a required group
    fully out of vocabulary). ``stats`` must cover ``all_terms``."""
    idf_total = sum(
        lucene_idf(n_docs, stats[t])
        for t in sorted(scoring_terms(clause))
        if t in stats
    )
    if idf_total == 0.0:
        return None
    groups: list[list[int]] = []
    for g in required_groups(clause):
        live = sorted(tid_py(t) for t in g if t in stats)
        if not live:
            return None
        groups.append(live)
    terms = [t for t in sorted(all_terms(clause)) if t in stats]
    tid_of = {t: tid_py(t) for t in terms}
    return (
        partial(_freqs_for_block, clause, tid_of, groups),
        idf_total,
        sorted(tid_of.values()),
        sum(stats[t] for t in terms),
    )


def span_topk(
    index: BM25Index,
    clause,
    k: int = 10,
    mode: str = "auto",
) -> DataFrame:
    """Top-k docs for a span clause tree → (doc_id, score, rank), served
    from the positions sidecar. mode: 'auto' (driver when the tree's
    terms' Σdf is under DRIVER_MAX_POSTINGS), 'driver', 'distributed'."""
    if isinstance(clause, dict):
        clause = span_from_json(clause)
    _require_positions(index)
    clause = expand_span_multi(clause, index)
    spec = None
    if clause is not None:  # None: a multi-term clause matched nothing
        stats = index.term_stats(sorted(all_terms(clause)))
        spec = _span_spec(clause, stats, index.n_docs)
    if spec is None:
        return local_page(index.spark, [], np.float32([]))
    freqs_fn, idf_total, tids, sum_df = spec
    return positional_topk(index, tids, freqs_fn, idf_total, k, mode, sum_df)


def _freqs_for_block(
    clause,
    tid_of: dict[str, int],
    groups: list[list[int]],
    block: PositionsBlock,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """A span tree's freqs_fn (bound with ``partial``): (cand_docs,
    freqs, dls) for the covered docs of one doc-sorted block. Coverage =
    every required group hit ≥ once, vectorized before any per-doc
    work; then one clause enumeration per covered doc."""
    covered, _ = _covered(block, groups)
    if not covered.any():
        return _NO_HITS
    sel = np.flatnonzero(covered)
    ends = np.append(block.first[1:], block.doc.size)
    term_of_tid = {v: t for t, v in tid_of.items()}
    freqs = np.zeros(sel.size, dtype=np.float64)
    for out_i, ci in enumerate(sel):
        pos_by_term: dict[str, np.ndarray] = {}
        for r in range(block.first[ci], ends[ci]):
            t = term_of_tid.get(int(block.tid[r]))
            if t is not None:
                pos_by_term[t] = block.positions(r)
        freqs[out_i] = span_freq(clause, pos_by_term)
    hit = freqs > 0
    sel = sel[hit]
    return block.cand[sel], freqs[hit], block.dl[block.first[sel]]


def span_topk_batch(
    index: BM25Index,
    queries: list[tuple[str, object]],
    k: int = 10,
) -> DataFrame:
    """Batched span/intervals serving: ONE positions pass answers every
    clause tree (the msearch analog of ``phrase_topk_batch``).

    ``queries`` is [(query_id, clause), ...] where each clause is a span
    tree, a span-JSON dict, or any object speaking the span-kernel
    protocol (``query.intervals.IntervalClause`` — batches may mix span
    and interval entries freely). Returns (query_id, doc_id, score,
    rank) with per-query top-k; queries that rewrite to no-match (an OOV
    required group, zero idf, an empty span_multi expansion) contribute
    no rows — the MatchNoDocsQuery rewrite.

    This is the shard function of a single distributed ``span_topk``
    with every query's spec: term stats resolve in ONE driver point-read
    over the union of every query's terms, the scan prunes to the union
    of their ``term_bucket``s, each shard sorts/indexes its rows once,
    then answers every query with its coverage-mask + enumeration
    ``freqs_fn`` and a local top-k; one query_id-partitioned window
    ranks globally.

    Reference: _msearch over span bodies — Lucene executes each with
    shared IndexReader state; the shared state here is the one pruned
    (or ``cache_positions``-pinned) positions scan.
    """
    _require_positions(index)
    expanded: list[tuple[str, object]] = []
    for qid, clause in queries:
        if isinstance(clause, dict):
            clause = span_from_json(clause)
        c = expand_span_multi(clause, index)
        if c is not None:
            expanded.append((qid, c))
    union_terms = sorted({t for _q, c in expanded for t in all_terms(c)})
    stats = index.term_stats(union_terms) if union_terms else {}
    specs: list[tuple] = []
    tids: set[int] = set()
    for qid, c in expanded:
        spec = _span_spec(c, stats, index.n_docs)
        if spec is not None:
            specs.append((qid, spec[0], spec[1]))
            tids.update(spec[2])
    return positional_topk_batch(index, sorted(tids), specs, k)
