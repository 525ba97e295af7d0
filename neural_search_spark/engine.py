"""Engine.search() — the single query front door.

The reference routes every search through HybridQueryPhaseSearcher
(search/query/HybridQueryPhaseSearcher.java:41-233): hybrid queries go to
the hybrid collector pipeline, everything else to the default query phase.
This module is the Spark analog: one planner (Engine._plan) that takes a
QuerySpec (or a HybridSpec tree / its JSON form) and routes it to the best
physical plan — the on-disk block/sparse postings indexes when attached,
the corpus scan plans otherwise. Execution, explain_route and msearch
batching all read that one plan.

Routing table (spec → plan):

  match          → bm25_topk over BM25Index     | bm25_scored corpus scan
  match_phrase   → phrase_topk over the positions sidecar
                                                | positional equi-join scan
  match_phrase_prefix → phrase_prefix_topk (dictionary prefix expansion,
                   union positions at the last offset) | prefix scan
  prefix/wildcard/regexp/terms → multiterm_topk (constant-score rewrite:
                   dictionary walk / verbatim set → distinct postings
                   union) | exists() token scan
  term           → term_topk (un-analyzed BM25 TermQuery) | verbatim scan
  simple_query_string → parsed fold over the leaf scorers (corpus plans:
                   AND/NOT need full matched sets)
  multi_match    → multi_match kernel over attached per-field indexes |
                   per-field BM25 scans → dis-max / sum combine
  neural_sparse  → sparse_index_topk            | sparse_topk corpus scan
  neural / knn   → attached ANN asset (LshAnnIndex / IvfAnnIndex) |
                   brute-force cosine over the corpus embedding column
  bool{...}      → must/should/must_not/filter composition (Lucene
                   BooleanQuery): tall clause union → one doc-keyed
                   count/sum aggregation → anti-/semi-join gates
  hybrid{...}    → per-sub-query branches (each routed as above, bounded
                   by pagination_depth) → normalize → combine → top-k;
                   bool specs compose as branches

Collect-time extras: post_filter (FilteredCollector analog — scores
unchanged, failing docs never collected) and a generic rescore window
(QueryRescorer analog) on Engine.search().
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ranking import LocalPage, local_page, topk_rank_window

from .query.function_score import FunctionScoreSpec
from .query.neural import QuerySpec, execute, rewrite


@dataclass
class HybridSpec:
    """Hybrid query tree (reference query/HybridQueryBuilder.java)."""

    sub_queries: list[QuerySpec]
    normalization: str = "min_max"
    combination: str = "arithmetic_mean"
    weights: list[float] | None = None
    rank_constant: int = 60
    pagination_depth: int | None = None
    # post_filter (reference FilteredCollector wrap,
    # search/query/HybridCollectorManager.java:164-167): collect-time filter
    # shared by every sub-query — scores unchanged, failing docs never
    # collected, normalization stats see only survivors. SQL expression or
    # Column over corpus columns.
    post_filter: str | None = None
    # search-pipeline post-steps (need a corpus bound to the Engine)
    collapse_field: str | None = None
    rerank_by_field: str | None = None

    def __post_init__(self):
        from .query.hybrid import _check

        _check(
            len(self.sub_queries), self.normalization, self.combination,
            self.weights, self.rank_constant, self.pagination_depth,
        )


@dataclass
class BoolSpec:
    """Boolean query composition (Lucene BooleanQuery — host behavior the
    reference's hybrid text branches routinely carry):

    * must     — required, scoring (scores sum);
    * should   — optional, scoring; ``minimum_should_match`` of them must
                 match (default 0 when must/filter clauses exist, else 1 —
                 BooleanQuery's default);
    * must_not — excluding, never scoring;
    * filter   — required, never scoring: either a SQL predicate over
                 corpus columns or a list of sub-queries whose matched set
                 gates collection. Like Lucene, scores of scoring clauses
                 are computed with FULL-corpus stats — a filter changes
                 which docs collect, never how survivors score.

    Sub-clauses are QuerySpec (match / match_phrase / neural /
    neural_sparse) or nested BoolSpec (Lucene BooleanQuery nests
    arbitrarily; a nested bool scores as its own sum-and-gate and its
    score feeds the parent like any leaf). Other composites (hybrid,
    dis_max, …) cannot nest under bool."""

    must: list["QuerySpec | BoolSpec"] = field(default_factory=list)
    should: list["QuerySpec | BoolSpec"] = field(default_factory=list)
    must_not: list["QuerySpec | BoolSpec"] = field(default_factory=list)
    filter: "str | list[QuerySpec | BoolSpec] | None" = None
    minimum_should_match: int | None = None


@dataclass
class DisMaxSpec:
    """Explicit DisjunctionMaxQuery (host `dis_max`): a doc matching any
    sub-query scores max over the matching sub-queries' scores +
    tie_breaker · (sum − max). Sub-queries are leaf QuerySpecs (same
    no-nesting restriction as bool)."""

    queries: list[QuerySpec]
    tie_breaker: float = 0.0


@dataclass
class SpanSpec:
    """Span clause tree (host span_term / span_or / span_near /
    span_first / span_not → Lucene spans package; see query.spans).
    Positional by definition, so it serves ONLY from the attached BM25
    index's positions sidecar (build_positions), like distributed
    match_phrase — there is no scan twin, and post_filter is rejected
    (the index kernel pre-truncates to k before a filter could apply)."""

    clause: object


@dataclass
class BoostingSpec:
    """Host `boosting` query (Lucene BoostingQuery semantics): docs score
    by the positive sub-query; docs ALSO matching the negative sub-query
    have that score multiplied by ``negative_boost`` (demoted, never
    excluded — the distinction from bool must_not)."""

    positive: QuerySpec
    negative: QuerySpec
    negative_boost: float = 0.5


@dataclass
class ConstantScoreSpec:
    """Host `constant_score` query (Lucene ConstantScoreQuery): the
    wrapped filter decides membership, every matching doc scores exactly
    ``boost`` — the filter's own scores (if any) are discarded. ``filter``
    is either a leaf QuerySpec or a SQL predicate string over corpus
    columns (the filter-context fast path: no scoring plan at all)."""

    filter: "QuerySpec | str"
    boost: float = 1.0


@dataclass
class HasChildSpec:
    """Host `has_child` / `nested` (join module HasChildQueryBuilder;
    Lucene ToParentBlockJoinQuery ScoreMode): hits are PARENTS
    (conversations) whose MATCHING children (turns) pass the count
    gates, scored by ``score_mode`` over the matching children's scores.
    ``query`` is any non-hybrid, non-join spec; see
    query.join_family for the hierarchy mapping and scale shape.
    search() returns (conv_id, score, rank) for this spec — parent hits
    live in the parent id space."""

    query: object
    score_mode: str = "none"
    min_children: int = 1
    max_children: int | None = None
    inner_hits_size: int | None = None


@dataclass
class HasParentSpec:
    """Host `has_parent`: hits are CHILDREN (turns) of parents matching
    ``parent_filter`` — a boolean SQL expression over the derived parent
    metadata frame (query.join_family.parent_frame), since transcript
    parents carry no fields of their own. Constant child score 1.0
    (host score=false default) unless ``score_expr`` (numeric SQL over
    the same frame) is given."""

    parent_filter: str
    score_expr: str | None = None


@dataclass
class ParentIdSpec:
    """Host `parent_id` (ParentIdQuery): the children of one named
    parent, constant-score — a pushed-down equality predicate."""

    parent_id: str


# pinned scores: far above any BM25/cosine score, spaced so float64
# keeps the pin order. Lucene's PinnedQueryBuilder uses
# Float.MAX_VALUE/2 − i, but float64 cannot separate 1.7e38 from
# 1.7e38 − i — identical rank order, different score VALUES (documented
# divergence).
_PIN_BASE = 1e9


@dataclass
class PinnedSpec:
    """Host `pinned` query (PinnedQueryBuilder): ``ids`` occupy the top
    ranks IN THE GIVEN ORDER (only ids present in the corpus), the
    ``organic`` query fills the remainder with pinned ids excluded."""

    ids: list[int]
    organic: object


# the body keys each composite query reads: any other key raises, where
# it would be dropped silently
_COMPOSITE_KEYS = {
    qtype: set(keys.split())
    for qtype, keys in {
        "bool": "must should must_not filter minimum_should_match",
        "dis_max": "queries tie_breaker",
        "boosting": "positive negative negative_boost",
        "function_score": "query functions score_mode boost_mode max_boost "
        "min_score boost",
        "script_score": "query script boost min_score",
        "constant_score": "filter boost",
        "has_child": "type query score_mode min_children max_children "
        "inner_hits",
        "nested": "path query score_mode min_children max_children "
        "inner_hits",
        "has_parent": "parent_type filter parent_filter score_expr",
        "parent_id": "type id",
        "pinned": "ids organic",
    }.items()
}


def spec_from_json(obj: str | dict) -> QuerySpec | HybridSpec | BoolSpec:
    """Parse the JSON query surface:

      {"match": {"query_text": "..."}}
      {"neural_sparse": {"query_tokens": {"t": 1.5}}}
      {"neural": {"query_text": "...", "field": "embedding"}}
      {"hybrid": {"queries": [<sub-specs>], "normalization": "min_max",
                  "combination": "rrf", "weights": [..],
                  "pagination_depth": 100}}
    """
    d = json.loads(obj) if isinstance(obj, str) else obj
    if len(d) != 1:
        raise ValueError("query spec must have exactly one top-level key")
    (qtype, body), = d.items()
    unknown = (
        sorted(set(body) - _COMPOSITE_KEYS[qtype])
        if qtype in _COMPOSITE_KEYS else None
    )
    if unknown:
        raise ValueError(
            f"invalid {qtype} query body: unknown key(s) {unknown}; "
            f"valid: {sorted(_COMPOSITE_KEYS[qtype])}"
        )
    if qtype == "bool":
        # bool clauses may be leaves or NESTED bool queries (Lucene
        # BooleanQuery nests arbitrarily); other composites (hybrid,
        # dis_max, …) still can't nest under bool
        def _ok(s):
            return isinstance(s, (QuerySpec, BoolSpec))

        def _subs(key):
            out = [spec_from_json(s) for s in body.get(key, [])]
            if any(not _ok(s) for s in out):
                raise ValueError(
                    "bool clauses must be leaves or nested bool queries"
                )
            return out

        flt = body.get("filter")
        if isinstance(flt, list):
            flt = [spec_from_json(s) for s in flt]
            if any(not _ok(s) for s in flt):
                raise ValueError(
                    "bool clauses must be leaves or nested bool queries"
                )
        return BoolSpec(
            must=_subs("must"),
            should=_subs("should"),
            must_not=_subs("must_not"),
            filter=flt,
            minimum_should_match=body.get("minimum_should_match"),
        )
    if qtype == "dis_max":
        subs = [spec_from_json(s) for s in body.get("queries", [])]
        if not subs:
            raise ValueError("dis_max needs at least one sub-query")
        if any(not isinstance(s, QuerySpec) for s in subs):
            raise ValueError("dis_max sub-queries cannot nest bool/hybrid")
        return DisMaxSpec(
            queries=subs, tie_breaker=float(body.get("tie_breaker", 0.0))
        )
    if qtype == "boosting":
        if "positive" not in body or "negative" not in body:
            raise ValueError("boosting needs positive and negative")
        pos = spec_from_json(body["positive"])
        neg = spec_from_json(body["negative"])
        if not isinstance(pos, QuerySpec) or not isinstance(neg, QuerySpec):
            raise ValueError("boosting clauses cannot nest bool/hybrid")
        return BoostingSpec(
            positive=pos,
            negative=neg,
            negative_boost=float(body.get("negative_boost", 0.5)),
        )
    if qtype == "function_score":
        from .query.function_score import functions_from_json

        sub = body.get("query")
        if sub is not None:
            sub = spec_from_json(sub)
            if isinstance(sub, HybridSpec):
                raise ValueError(
                    "function_score cannot wrap a hybrid query"
                )
        return FunctionScoreSpec(
            query=sub,
            functions=functions_from_json(body.get("functions", [])),
            score_mode=body.get("score_mode", "multiply"),
            boost_mode=body.get("boost_mode", "multiply"),
            max_boost=float(body.get("max_boost", 3.402823466e38)),
            min_score=(
                None
                if body.get("min_score") is None
                else float(body["min_score"])
            ),
            boost=float(body.get("boost", 1.0)),
        )
    if qtype == "wrapper":
        # host WrapperQueryBuilder: a base64-encoded query body, decoded
        # and parsed like any other spec
        import base64

        raw = body.get("query") if isinstance(body, dict) else body
        if not raw:
            raise ValueError("wrapper needs a base64 'query'")
        try:
            decoded = base64.b64decode(raw)
        except Exception as exc:
            raise ValueError(f"wrapper query is not valid base64: {exc}")
        return spec_from_json(json.loads(decoded))
    if qtype == "match_none":
        # MatchNoDocsQuery: matches nothing, composes anywhere
        return QuerySpec(query_type="match_none")
    if qtype == "script_score":
        # host ScriptScoreQueryBuilder: the script value REPLACES the
        # wrapped query's score (reference it as `_score` in the
        # restricted SQL-expression stand-in); `boost` multiplies the
        # result, `min_score` filters after
        from .query.function_score import functions_from_json

        if "query" not in body or "script" not in body:
            raise ValueError("script_score needs query and script")
        sub = spec_from_json(body["query"])
        if isinstance(sub, HybridSpec):
            raise ValueError("script_score cannot wrap a hybrid query")
        script = body["script"]
        if isinstance(script, str):
            script = {"source": script}
        entry = {"script_score": dict(script)}
        if "boost" in body:
            entry["weight"] = float(body["boost"])
        return FunctionScoreSpec(
            query=sub,
            functions=functions_from_json([entry]),
            boost_mode="replace",
            min_score=(
                None
                if body.get("min_score") is None
                else float(body["min_score"])
            ),
        )
    if qtype == "constant_score":
        if "filter" not in body:
            raise ValueError("constant_score needs a filter")
        flt = body["filter"]
        if isinstance(flt, dict):
            flt = spec_from_json(flt)
            if not isinstance(flt, QuerySpec):
                raise ValueError(
                    "constant_score filter cannot nest composite queries"
                )
        elif not isinstance(flt, str):
            raise ValueError(
                "constant_score filter must be a sub-query or SQL predicate"
            )
        return ConstantScoreSpec(
            filter=flt, boost=float(body.get("boost", 1.0))
        )
    if qtype in ("has_child", "nested"):
        # nested over the one hierarchy the schema defines (path
        # 'turns') is the same block-join math with the host's default
        # score_mode avg; has_child defaults to none
        if qtype == "nested":
            path = body.get("path", "turns")
            if path != "turns":
                raise ValueError(
                    f"nested path must be 'turns' (the transcripts "
                    f"hierarchy), got {path!r}"
                )
        if "query" not in body:
            raise ValueError(f"{qtype} needs a wrapped query")
        sub = body["query"]
        if isinstance(sub, (dict, str)):
            sub = spec_from_json(sub)
        if isinstance(
            sub,
            (HybridSpec, SpanSpec, HasChildSpec, HasParentSpec,
             ParentIdSpec),
        ):
            raise ValueError(
                f"{qtype} wraps leaf/bool/dis_max/boosting/"
                "constant_score/function_score queries only"
            )
        ih = body.get("inner_hits")
        return HasChildSpec(
            query=sub,
            score_mode=body.get(
                "score_mode", "avg" if qtype == "nested" else "none"
            ),
            min_children=int(body.get("min_children", 1)),
            max_children=(
                None
                if body.get("max_children") is None
                else int(body["max_children"])
            ),
            inner_hits_size=(
                int(ih.get("size", 3)) if isinstance(ih, dict) else None
            ),
        )
    if qtype == "has_parent":
        # host shape: {"has_parent": {"parent_type": ..., "query": ...,
        # "score": bool}}; parents carry no fields here, so the parent
        # query is the SQL-expression form (see HasParentSpec)
        flt = body.get("filter", body.get("parent_filter"))
        if not isinstance(flt, str) or not flt:
            raise ValueError(
                "has_parent needs 'filter': a boolean SQL expression "
                "over the parent metadata frame (n_turns, first_ts, "
                "last_ts, n_roles, n_tool_turns, total_chars)"
            )
        return HasParentSpec(
            parent_filter=flt, score_expr=body.get("score_expr")
        )
    if qtype == "parent_id":
        pid = body.get("id")
        if not pid:
            raise ValueError("parent_id needs 'id' (the conv_id)")
        return ParentIdSpec(parent_id=str(pid))
    if qtype == "pinned":
        ids = body.get("ids")
        if not ids:
            raise ValueError("pinned needs a non-empty 'ids' list")
        org = body.get("organic")
        if org is None:
            raise ValueError("pinned needs an 'organic' query")
        if isinstance(org, (dict, str)):
            org = spec_from_json(org)
        if isinstance(org, (HybridSpec, HasChildSpec, PinnedSpec)):
            raise ValueError(
                "pinned organic must be a doc-space, non-hybrid query"
            )
        return PinnedSpec(ids=[int(i) for i in ids], organic=org)
    if qtype == "range":
        # both host shapes: {"range": {"ts": {"gte": ...}}} and the flat
        # {"range": {"field": "ts", "gte": ...}}
        if "field" not in body:
            if len(body) != 1:
                raise ValueError(
                    "range body must be {field: {bounds}} or carry 'field'"
                )
            (fname, bounds), = body.items()
            if not isinstance(bounds, dict):
                raise ValueError("range bounds must be an object")
            body = {"field": fname, **bounds}
    if qtype == "hybrid":
        raw = [json.loads(s) if isinstance(s, str) else s
               for s in body.get("queries", [])]
        if any("hybrid" in s for s in raw):
            raise ValueError("hybrid queries cannot nest")
        subs = [spec_from_json(s) for s in raw]
        opts = {k: v for k, v in body.items() if k != "queries"}
        try:
            return HybridSpec(sub_queries=subs, **opts)
        except TypeError as ex:
            # an unknown key (e.g. lower_bounds, which HybridSpec does not
            # carry) must not be dropped silently
            raise ValueError(f"invalid hybrid query body: {ex}") from None
    if qtype in (
        "span_term",
        "span_or",
        "span_near",
        "span_first",
        "span_not",
        "span_containing",
        "span_within",
        "span_multi",
        "field_masking_span",
    ):
        from .query.spans import span_from_json

        return SpanSpec(clause=span_from_json(d))
    if qtype == "intervals":
        from .query.intervals import IntervalClause, rule_from_json

        # host field nesting: {"intervals": {"text": {<rule>}}}; a bare
        # rule body is also accepted (single text field)
        inner = body
        rule_keys = {
            "match", "all_of", "any_of", "prefix", "wildcard", "regexp"
        }
        if (
            isinstance(inner, dict)
            and len(inner) == 1
            and next(iter(inner)) not in rule_keys
        ):
            (_field, inner), = inner.items()
        return SpanSpec(clause=IntervalClause(rule_from_json(inner)))
    allowed = {
        "match",
        "match_phrase",
        "match_phrase_prefix",
        "multi_match",
        "prefix",
        "wildcard",
        "regexp",
        "fuzzy",
        "term",
        "terms",
        "simple_query_string",
        "match_bool_prefix",
        "match_all",
        "ids",
        "range",
        "exists",
        "more_like_this",
        "query_string",
        "neural",
        "neural_sparse",
        "neural_knn",
        "terms_set",
        "rank_feature",
        "distance_feature",
        "match_none",
    }
    if qtype not in allowed:
        raise ValueError(f"unknown query type: {qtype}; valid: {sorted(allowed)}")
    if qtype == "more_like_this":
        body = dict(body)
        if isinstance(body.get("like"), str):
            body["like"] = [body["like"]]
    if qtype == "terms_set" and "field" not in body:
        # host shape: {"terms_set": {codes: {"terms": [...],
        # "minimum_should_match_field": "required"}}}
        if len(body) != 1:
            raise ValueError(
                "terms_set body must be {field: {terms, "
                "minimum_should_match_field}} or carry 'field'"
            )
        (fname, inner), = body.items()
        if not isinstance(inner, dict) or "terms" not in inner:
            raise ValueError("terms_set needs a 'terms' list")
        body = {"field": fname, "values": inner["terms"]}
        if "minimum_should_match_field" in inner:
            body["minimum_should_match_field"] = inner[
                "minimum_should_match_field"
            ]
    if qtype == "terms" and "lookup" in body:
        # host terms-lookup shape (TermsQueryBuilder termsLookup): the
        # value set comes from one row of another table, fetched at
        # search time (routing is not supported — a Spark table has no
        # custom routing to honor)
        body = dict(body)
        lk = body["lookup"]
        if not isinstance(lk, dict) or not {"index", "id", "path"} <= set(lk):
            raise ValueError(
                "terms lookup needs {'index', 'id', 'path'} "
                "(optional 'id_field')"
            )
        if body.get("values") is not None:
            raise ValueError("terms accepts either 'values' or 'lookup', not both")
        extra = set(lk) - {"index", "id", "path", "id_field"}
        if extra:
            raise ValueError(f"unknown terms lookup keys: {sorted(extra)}")
    if qtype == "rank_feature":
        # host shape: {"rank_feature": {"field": "f", "saturation":
        # {"pivot": 8}}} — the function arrives as a nested key
        body = dict(body)
        for fn in ("saturation", "log", "sigmoid", "linear"):
            if fn in body:
                params = body.pop(fn) or {}
                body["rf_function"] = fn
                for key in ("pivot", "scaling_factor", "exponent"):
                    if key in params:
                        body[key] = float(params[key])
    if qtype == "distance_feature":
        # host shape: {"distance_feature": {"field", "origin", "pivot"}}
        # — 'pivot' maps to the spec's df_pivot (rank_feature owns
        # QuerySpec.pivot)
        body = dict(body)
        if "pivot" in body:
            body["df_pivot"] = body.pop("pivot")
    if qtype in ("simple_query_string", "query_string"):
        # the reference body uses 'query' / 'default_operator' field names
        body = dict(body)
        if "query" in body:
            body["query_text"] = body.pop("query")
        if "default_operator" in body:
            body["operator"] = str(body.pop("default_operator")).lower()
        if "default_field" in body:
            body["field"] = body.pop("default_field")
    try:
        return QuerySpec(query_type=qtype, **body)
    except TypeError as ex:
        # a typo'd body key reaches the dataclass ctor — surface it as the
        # documented ValueError family, naming the bad field
        raise ValueError(f"invalid {qtype} query body: {ex}") from None


# planning contexts (Engine._plan): a bounded top-k, a top-k under a
# collect-time post_filter (the ``allowed`` set), or the full matched set a
# wrapping query (function_score, has_child, rescore, scroll, aggs) needs
_TOPK, _FILTERED, _FULL = "topk", "filtered", "full"

# leaf types with no index route: corpus-column plans (MatchAllDocsQuery /
# IdsQuery / RangeQuery / ExistsQuery / CoveringQuery / FeatureField /
# distance-feature) whose per-doc columns never live in the inverted
# index, and the classic-parser fold → the reason explain_route reports
_CORPUS_PLANS = {
    "match_all": "constant-score id projection",
    "ids": "constant-score id projection",
    "range": "constant-score pushed-down column predicate (parquet "
    "min/max pruning is the scale path)",
    "exists": "constant-score pushed-down column predicate (parquet "
    "min/max pruning is the scale path)",
    "query_string": "classic-parser fold needs full matched sets (one "
    "tall union + one keyed aggregation per level)",
    "terms_set": None,
    "rank_feature": None,
    "distance_feature": None,
    "match_none": None,
}

# leaf types an attached index or ANN asset can serve
_ROUTED = frozenset({
    "match", "match_phrase", "match_phrase_prefix", "prefix", "wildcard",
    "regexp", "terms", "term", "fuzzy", "more_like_this",
    "simple_query_string", "match_bool_prefix", "multi_match",
    "neural_sparse", "neural", "neural_knn",
})

# an update without a reindex would leave index routes answering from the
# old postings — Engine.update_by_query and the CLI refuse it up front
STALE_INDEX_UPDATE = (
    "update_by_query on an engine with an attached bm25_index needs "
    "out_dir (the incremental reindex) or dry_run: updating only the "
    "corpus would leave the index stale"
)


@dataclass
class _Plan:
    """One routing decision: the physical route, why it was taken, the
    kernel that runs it and the plans of wrapped queries. Execution,
    explain_route and msearch batching all read the same node, so an
    explanation cannot drift from what runs.

    ``run(k, allowed)`` → (key, score) hits, bounded to k (k None: the
    full matched set) and gated by the ``allowed`` doc_id set when given.
    A ``ranked`` plan's ``run`` returns the final (doc_id, score, rank)
    page instead — ≤ k rows, score descending, doc_id ascending, rank
    1..n — which search returns as is: index-route kernels build it (on
    the driver route as a ``ranking.LocalPage``, whose rows are read in
    Python with no JVM call) and hybrid ranks its combined result.
    Wrapping consumers read its doc_id and score columns by name.
    ``batch`` is (group key, item) for a spec msearch can score in one
    job shared with its group."""

    route: str
    reason: str
    run: Callable[[int | None, DataFrame | None], DataFrame]
    children: dict = field(default_factory=dict)
    batch: tuple | None = None
    key: str = "doc_id"
    ranked: bool = False

    def explain(self) -> dict:
        out = {"route": self.route, "reason": self.reason}
        for name, c in self.children.items():
            if isinstance(c, list):
                out[name] = [p.explain() for p in c]
            else:
                out[name] = None if c is None else c.explain()
        return out


def _sqs_as_flat_match(query: str, default_op: str) -> tuple[str, str] | None:
    """If a simple_query_string is one flat level of positive,
    single-token match leaves joined by a UNIFORM operator, it's exactly
    a match query — return (query_text, operator) for the index route;
    None otherwise. Conservative: any phrase/prefix/fuzzy leaf, group,
    negation, duplicate token, or mixed operators falls back to the
    corpus fold (identical semantics, just not index-served)."""
    from .query.sqs import Leaf, parse_sqs
    from .tokenizer import tokenize_py

    g = parse_sqs(query)
    if not g.children:
        return None
    toks: list[str] = []
    eff_ops: set[str] = set()
    for i, (op, node) in enumerate(g.children):
        if not isinstance(node, Leaf) or node.kind != "match" or node.negated:
            return None
        words = tokenize_py(node.text)
        if len(words) != 1:
            return None
        toks.append(words[0])
        if i > 0:  # the first clause's preceding operator is meaningless
            eff_ops.add(default_op if op == "default" else op)
    if len(toks) != len(set(toks)):
        return None  # sqs AND counts per-clause; msm counts distinct terms
    if len(toks) == 1:
        return toks[0], "or"
    if eff_ops == {"or"}:
        return " ".join(toks), "or"
    if eff_ops == {"and"}:
        return " ".join(toks), "and"
    return None


class Engine:
    """Search facade binding the physical assets (indexes / corpus)."""

    def __init__(
        self,
        spark: SparkSession,
        corpus: DataFrame | None = None,
        bm25_index=None,
        sparse_index=None,
        ann_index=None,
        id_col: str = "doc_id",
        analyzers: dict[str, object] | None = None,
        field_indexes: dict[str, object] | None = None,
        completion_index=None,
        sayt_indexes: dict[int, object] | None = None,
        lookup_tables: dict[str, DataFrame] | None = None,
    ):
        """ann_index: an attachable ANN asset (extras.similarity.LshAnnIndex
        / IvfAnnIndex — anything with .topk(query_vec, k) → (vec_id, cosine,
        rank)). When present, neural / neural_knn queries delegate to it
        instead of brute-force corpus cosine, mirroring the reference's
        delegation to the k-NN plugin index
        (query/NeuralKNNQueryBuilder.java:52-120).

        analyzers: named payload-weight analyzers for neural_sparse
        tokenization (analysis.WordPieceAnalyzer instances), playing the
        role of the shard context's registered index analyzers
        (NeuralSparseQueryBuilder.java:455-457) — a spec naming an
        unregistered analyzer raises.

        field_indexes: per-field BM25 block indexes (field name →
        query.bm25.BM25Index built over that field's text), the Lucene
        one-inverted-index-per-field shape. When every field a multi_match
        names is covered, the query serves from these indexes
        (query.multimatch.multi_match_index_topk) instead of the corpus
        scan.

        lookup_tables: name → DataFrame sources for the terms-lookup
        query form ({"terms": {"lookup": {"index", "id", "path"}}}) —
        the other index a host TermsQueryBuilder termsLookup fetches its
        value list from (resolved coordinator-side before the query
        phase, see _resolve_lookups)."""
        self.spark = spark
        self.corpus = corpus
        self.bm25_index = bm25_index
        self.sparse_index = sparse_index
        self.ann_index = ann_index
        self.id_col = id_col
        self.analyzers = dict(analyzers or {})
        self.field_indexes = dict(field_indexes or {})
        self.completion_index = completion_index
        self.sayt_indexes = dict(sayt_indexes or {})
        # terms-lookup sources: name → DataFrame, playing the role of
        # the other index a host terms lookup fetches its doc from
        self.lookup_tables = dict(lookup_tables or {})

    # ---- single-branch plans ------------------------------------------
    def _need_corpus(self, qtype: str) -> DataFrame:
        if self.corpus is None:
            raise ValueError(
                f"{qtype} query needs a corpus DataFrame (no index route)"
            )
        return self.corpus

    # ---- terms lookup (TermsQueryBuilder termsLookup) -----------------
    def _terms_lookup_values(self, lk: dict) -> list[str]:
        """Fetch the value set for a terms lookup: one row of a
        registered lookup table by id, project ``path`` (dot-paths ride
        Catalyst struct access). The fetch is a pushed-down point read —
        the host's GET-by-id phase, constant cost at any table size. A
        missing doc yields an empty set (the query then matches
        nothing), mirroring the host."""
        name = lk["index"]
        if name not in self.lookup_tables:
            raise ValueError(
                f"terms lookup names table {name!r}; attached lookup_tables: "
                f"{sorted(self.lookup_tables) or '(none)'}"
            )
        tbl = self.lookup_tables[name]
        id_field = lk.get("id_field", self.id_col)
        rows = (
            tbl.filter(F.col(id_field) == F.lit(lk["id"]))
            .select(F.col(str(lk["path"])).alias("v"))
            .limit(2)
            .collect()
        )
        if not rows:
            return []
        if len(rows) > 1:
            raise ValueError(
                f"terms lookup id {lk['id']!r} matches multiple rows in "
                f"{name!r} ({id_field} must be unique)"
            )
        v = rows[0]["v"]
        if v is None:
            return []
        if isinstance(v, (list, tuple)):
            return [str(x) for x in v if x is not None]
        return [str(v)]

    def _resolve_lookups(self, spec):
        """Return ``spec`` with every terms-lookup clause replaced by an
        inline ``values`` list (recursing through the composite spec
        types) — the host resolves termsLookup on the coordinator before
        the query phase, which is exactly this shape."""
        import dataclasses

        if isinstance(spec, QuerySpec):
            if spec.query_type == "terms" and spec.lookup is not None:
                return dataclasses.replace(
                    spec,
                    values=self._terms_lookup_values(spec.lookup),
                    lookup=None,
                )
            return spec
        if isinstance(spec, list):
            return [self._resolve_lookups(s) for s in spec]
        if not isinstance(
            spec,
            (BoolSpec, HybridSpec, DisMaxSpec, BoostingSpec,
             ConstantScoreSpec, PinnedSpec, HasChildSpec, FunctionScoreSpec),
        ):
            return spec  # SQL filters, span clauses, join-by-SQL specs
        return dataclasses.replace(
            spec,
            **{
                f.name: self._resolve_lookups(getattr(spec, f.name))
                for f in dataclasses.fields(spec)
            },
        )

    def _allowed(self, post_filter, within: DataFrame | None = None):
        """post_filter → broadcastable allowed-doc_id set narrowed to
        ``within`` (``within`` itself when there is no post_filter)."""
        if post_filter is None:
            return within
        corpus = self._need_corpus("post_filter")
        pred = F.expr(post_filter) if isinstance(post_filter, str) else post_filter
        out = corpus.filter(pred).select(F.col(self.id_col).alias("doc_id"))
        return out if within is None else out.join(within, "doc_id", "left_semi")

    @staticmethod
    def _bound(scored: DataFrame, k, allowed) -> DataFrame:
        """Collect-time gate then the k-bound (k None: the full set). The
        semi-join runs between scoring and truncation, so scores are the
        unfiltered ones but failing docs never occupy a top-k slot — the
        FilteredCollector contract."""
        if allowed is not None:
            scored = scored.join(allowed, "doc_id", "left_semi")
        if k is None:
            return scored
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _scored(self, route: str, reason: str, score, **kw) -> _Plan:
        """Plan whose kernel is an unbounded (doc_id, score) scorer."""
        return _Plan(
            route, reason,
            lambda k, allowed: self._bound(score(), k, allowed), **kw,
        )

    def _positions(self, *indexes) -> bool:
        from .index.positions import has_positions

        return all(has_positions(ix.path) for ix in indexes)

    # ---- the planner ----------------------------------------------------
    def _plan(self, spec, context: str) -> _Plan:
        """THE routing decision for ``spec`` in ``context`` (_TOPK,
        _FILTERED: top-k under a collect-time ``allowed`` set, or _FULL:
        the full matched set a wrapping query needs). Terms lookups are
        resolved here, once per spec. Execution (_branch_topk,
        _full_scored, search), explain_route and msearch batching all
        consume the returned node. Planning is pure Python: it adds no
        Spark job, and only positional routes stat the index directory."""
        return self._route(self._resolve_lookups(spec), context)

    def _route(self, spec, ctx: str) -> _Plan:
        if isinstance(spec, QuerySpec):
            return self._leaf(spec, ctx)
        if isinstance(spec, HybridSpec):
            if ctx == _FULL:
                raise ValueError(
                    "a hybrid query has no single full matched set; use "
                    "its sub-queries"
                )
            if any(
                getattr(s, "post_filter", None) is not None
                for s in spec.sub_queries
            ):
                # the reference's post_filter is a search-REQUEST field;
                # silently ignoring a sub-query-level one would return
                # unfiltered docs with no error
                raise ValueError(
                    "post_filter belongs on the hybrid spec, not on a "
                    "sub-query"
                )
            sub_ctx = ctx if spec.post_filter is None else _FILTERED
            branches = [self._route(s, sub_ctx) for s in spec.sub_queries]
            return _Plan(
                "composite", "hybrid: each branch routes independently",
                lambda k, allowed: self._hybrid_topk(spec, branches, k),
                children={"branches": branches}, ranked=True,
            )
        if isinstance(spec, BoolSpec):
            return self._scored(
                "composite",
                "bool: corpus clause fold (shared-scan for plain match "
                "clauses), gates as anti/semi joins",
                lambda: self._bool_scored(spec),
            )
        if isinstance(spec, DisMaxSpec):
            return self._scored(
                "composite",
                "dis_max: full matched sets → one doc-keyed max/sum "
                "aggregation",
                lambda: self._dismax_scored(spec),
            )
        if isinstance(spec, BoostingSpec):
            return self._scored(
                "composite",
                "boosting: positive scores, negative-membership demotion "
                "join",
                lambda: self._boosting_scored(spec),
            )
        if isinstance(spec, ConstantScoreSpec):
            if isinstance(spec.filter, str):
                route, reason = "corpus", (
                    "constant_score: pushed-down predicate scan, no "
                    "scoring plan"
                )
            else:
                route, reason = "composite", (
                    "constant_score: wrapped sub-query's matched-set "
                    "projection at a fixed boost"
                )
            return self._scored(
                route, reason, lambda: self._constant_score_scored(spec)
            )
        if isinstance(spec, FunctionScoreSpec):
            sub = None if spec.query is None else self._route(spec.query, _FULL)
            return self._scored(
                "composite",
                "function_score: wrapped query's full scored set + one "
                "corpus join, function math as codegen'd column arithmetic",
                lambda: self._function_score_scored(spec, sub),
                children={"query": sub},
            )
        if isinstance(spec, SpanSpec):
            return self._span(spec, ctx)
        if isinstance(spec, HasChildSpec):
            return self._has_child(spec)
        if isinstance(spec, HasParentSpec):
            from .query.join_family import has_parent_children

            return self._scored(
                "corpus",
                "has_parent: derived parent metadata aggregation + "
                "filtered equi-join back to children",
                lambda: has_parent_children(
                    self._need_corpus("has_parent"),
                    spec.parent_filter,
                    id_col=self.id_col,
                    score_expr=spec.score_expr,
                ),
            )
        if isinstance(spec, ParentIdSpec):
            from .query.join_family import parent_id_children

            return self._scored(
                "corpus", "parent_id: pushed-down equality predicate",
                lambda: parent_id_children(
                    self._need_corpus("parent_id"),
                    spec.parent_id,
                    id_col=self.id_col,
                ),
            )
        if isinstance(spec, PinnedSpec):
            return self._pinned(spec, ctx)
        raise ValueError(f"unknown spec type: {type(spec).__name__}")

    def _span(self, spec: SpanSpec, ctx: str) -> _Plan:
        """Span/intervals serve ONLY from the positions sidecar: an
        unservable context plans to a kernel that raises."""
        if ctx == _FULL:
            why = "span queries have no full matched set (top-k only)"
        elif ctx == _FILTERED:
            why = (
                "span queries do not support post_filter (the index "
                "kernel pre-truncates to k)"
            )
        elif self.bm25_index is None or not self._positions(self.bm25_index):
            why = (
                "span queries need an attached bm25_index with a "
                "positions sidecar (index.positions.build_positions)"
            )
        else:
            from .query.spans import span_topk

            return _Plan(
                "index",
                "positions-sidecar span kernels (required-group candidate "
                "bound, driver fast path when Σdf is small)",
                lambda k, allowed: span_topk(
                    self.bm25_index, spec.clause, k=k
                ),
                batch=(("span",), spec.clause),
                ranked=True,
            )

        def fail(k, allowed):
            raise ValueError(why)

        return _Plan("corpus", f"{why} — this spec will raise", fail)

    def _has_child(self, spec: HasChildSpec) -> _Plan:
        """has_child / nested: PARENT hits (conv_id, score) — the one plan
        whose hit space is the parent key, not doc_id (see
        query.join_family). The wrapped query's full matched set feeds
        one doc_id join + one conv_id aggregation."""
        from .query.join_family import PARENT_KEY, has_child_scored

        child = self._route(spec.query, _FULL)

        def run(k, allowed):
            corpus = self._need_corpus("has_child")
            return has_child_scored(
                child.run(None, None).select(
                    "doc_id", F.col("score").cast("double").alias("score")
                ),
                corpus,
                id_col=self.id_col,
                score_mode=spec.score_mode,
                min_children=spec.min_children,
                max_children=spec.max_children,
            )

        return _Plan(
            "composite",
            "has_child/nested: child query's full scored set → one doc_id "
            "join + one conv-keyed aggregation; hits are parents (conv_id "
            "space)",
            run, children={"query": child}, key=PARENT_KEY,
        )

    def _pinned(self, spec: PinnedSpec, ctx: str) -> _Plan:
        """pinned ids that EXIST in the corpus take _PIN_BASE − i (pin
        order preserved); the organic plan over-fetches k + |ids| so
        exclusion can never under-fill the page."""
        organic = self._route(spec.organic, ctx)

        def run(k, allowed):
            corpus_ids = self._need_corpus("pinned").select(
                F.col(self.id_col).alias("doc_id")
            )
            pin = self.spark.createDataFrame(
                [
                    (int(i), _PIN_BASE - float(n))
                    for n, i in enumerate(spec.ids)
                ],
                schema="doc_id long, score double",
            ).join(corpus_ids, "doc_id", "left_semi")
            fetched = organic.run(
                None if k is None else k + len(spec.ids), allowed
            ).select("doc_id", F.col("score").cast("double").alias("score"))
            fetched = fetched.join(
                F.broadcast(pin.select("doc_id")), "doc_id", "left_anti"
            )
            return self._bound(pin.unionByName(fetched), k, allowed)

        return _Plan(
            "composite",
            "pinned: fixed-score id frame ∪ organic (over-fetched, pinned "
            "anti-joined out)",
            run, children={"organic": organic},
        )

    def _leaf(self, spec: QuerySpec, ctx: str) -> _Plan:
        """Route one leaf: index-first in a top-k context, the corpus-scan
        plan whenever a filter, an ``allowed`` set or a full matched set
        is needed (the index kernels return an already k-truncated set)."""
        qt = spec.query_type
        text = spec.query_text or ""
        idx = self.bm25_index

        def scan(reason: str) -> _Plan:
            # the leaf's own post_filter gates collection in a top-k
            # context; a wrapping query's full matched set ignores it
            own = None if ctx == _FULL else spec.post_filter
            return _Plan(
                "corpus", reason,
                lambda k, allowed: self._bound(
                    execute(
                        spec, self._need_corpus(qt), self.id_col,
                        analyzers=self.analyzers,
                    ),
                    k,
                    self._allowed(own, allowed),
                ),
            )

        def index(reason: str, kernel, batch=None) -> _Plan:
            return _Plan(
                "index", reason, lambda k, allowed: kernel(k), batch=batch,
                ranked=True,
            )

        if qt in _CORPUS_PLANS:
            return scan(_CORPUS_PLANS[qt] or f"{qt}: corpus plan")
        if qt not in _ROUTED:
            raise ValueError(f"unknown query type: {qt}")
        if ctx == _FULL:
            return scan("full matched set: corpus scan")
        filtered = (
            ctx == _FILTERED
            or spec.filter is not None
            or spec.post_filter is not None
        )
        if qt in ("neural", "neural_knn"):
            ann = self.ann_index
            if ann is None:
                return scan("no ANN asset attached")
            if spec.min_score is not None or spec.max_distance is not None:
                # the ANN asset's top-k has no min_score/max_distance hook
                return scan("radius query: exact scan required")
            if spec.field != getattr(ann, "vec_col", None):
                # fail CLOSED: an asset that doesn't declare vec_col never
                # matches (it may be built over a different column)
                return scan("field != ANN asset's vec_col")
            if filtered:
                exact = scan("exact filtered scan")

                def run(k, allowed):
                    out = self._ann_filtered_topk(
                        spec, k, self._allowed(spec.post_filter, allowed)
                    )
                    return exact.run(k, allowed) if out is None else out

                return _Plan(
                    "ann_filtered",
                    "efficient filtering: cardinality-routed exact scan or "
                    "over-fetch",
                    run,
                )
            return _Plan(
                "ann", "delegated to the ANN asset",
                lambda k, allowed: ann.topk(
                    rewrite(spec).vector or [], k=k
                ).select(
                    F.col("vec_id").alias("doc_id"),
                    F.col("cosine").cast("double").alias("score"),
                ),
            )
        if filtered:
            return scan("filter/post_filter set")
        if qt == "multi_match":
            return self._multi_match(spec, scan, index)
        if qt == "neural_sparse":
            if self.sparse_index is None:
                return scan("no sparse_index attached")
            from .index.sparse import sparse_index_topk

            return index(
                "sparse postings index",
                lambda k: sparse_index_topk(
                    self.sparse_index,
                    rewrite(spec, analyzers=self.analyzers).query_tokens
                    or {},
                    k=k,
                ),
            )
        if idx is None:
            return scan("no bm25_index attached")
        if qt == "match" and spec.fuzziness is not None:
            from .query.fuzzy import fuzzy_match_topk
            from .query.neural import _check_fuzzy_combo

            def fuzzy(k):
                _check_fuzzy_combo(spec)
                return fuzzy_match_topk(
                    idx, text, k=k,
                    fuzziness=spec.fuzziness,
                    prefix_length=spec.prefix_length,
                    transpositions=spec.fuzzy_transpositions,
                    max_expansions=spec.max_expansions,
                )

            return index(
                "fuzzy dictionary expansion + weighted BM25 kernels", fuzzy
            )
        if qt == "match":
            from .query.bm25 import bm25_topk

            return index(
                "block-max BM25 kernels",
                lambda k: bm25_topk(
                    idx, text, k=k,
                    operator=spec.operator,
                    minimum_should_match=spec.minimum_should_match,
                ),
                batch=(
                    ("bm25", spec.operator, spec.minimum_should_match), text
                ),
            )
        if qt in ("match_phrase", "match_phrase_prefix"):
            if not self._positions(idx):
                return scan("index lacks the positions sidecar")
            from .query.phrase import (
                PhraseQuery,
                phrase_prefix_topk,
                phrase_topk,
            )

            if qt == "match_phrase_prefix":
                return index(
                    "positions-sidecar kernels (dictionary prefix "
                    "expansion at the last offset)",
                    lambda k: phrase_prefix_topk(
                        idx, text, k=k, max_expansions=spec.max_expansions
                    ),
                    batch=(
                        ("phrase",),
                        PhraseQuery(text, max_expansions=spec.max_expansions),
                    ),
                )
            return index(
                "positions-sidecar kernels",
                lambda k: phrase_topk(idx, text, k=k, slop=spec.slop),
                batch=(("phrase",), PhraseQuery(text, spec.slop)),
            )
        if qt in ("prefix", "wildcard", "regexp", "terms"):
            from .query.multiterm import multiterm_topk

            return index(
                "dictionary walk + postings",
                lambda k: multiterm_topk(
                    idx,
                    spec.values if qt == "terms" else (spec.value or ""),
                    kind=qt, k=k, boost=spec.boost,
                ),
            )
        if qt == "term":
            from .query.multiterm import term_topk

            return index(
                "un-analyzed BM25 TermQuery postings",
                lambda k: term_topk(idx, spec.value or "", k=k),
            )
        if qt == "fuzzy":
            # a single UN-ANALYZED value expanded against the dictionary
            # (Lucene FuzzyQuery) — match-fuzziness's scorer, no tokenizer
            from .query.fuzzy import fuzzy_match_topk

            return index(
                "un-analyzed fuzzy dictionary expansion + weighted BM25 "
                "kernels",
                lambda k: fuzzy_match_topk(
                    idx, "", k=k,
                    fuzziness=(
                        spec.fuzziness if spec.fuzziness is not None
                        else "AUTO"
                    ),
                    prefix_length=spec.prefix_length,
                    transpositions=spec.fuzzy_transpositions,
                    max_expansions=spec.max_expansions,
                    raw_tokens=[spec.value or ""],
                ),
            )
        if qt == "more_like_this":
            return _Plan(
                "index",
                "dictionary point-read term selection + block-max kernels "
                "on the formed match",
                lambda k, allowed: self._mlt_index_topk(spec, k),
            )
        if qt == "simple_query_string":
            # flat term-only queries ("foo bar baz") are exactly a match
            # query; phrases/prefixes/fuzzy/negation/groups need the corpus
            # fold's FULL matched sets
            flat = _sqs_as_flat_match(text, spec.operator)
            if flat is None:
                return scan("fold needs full matched sets")
            from .query.bm25 import bm25_topk

            return index(
                f"flat term query ⇒ match({flat[1]})",
                lambda k: bm25_topk(idx, flat[0], k=k, operator=flat[1]),
            )
        # match_bool_prefix: term leaves + the trailing prefix's
        # dictionary expansion as one constant-score leaf, one sum
        from .query.multiterm import match_bool_prefix_topk

        return index(
            "weighted term postings + dictionary-walk prefix, one "
            "doc-keyed combine",
            lambda k: match_bool_prefix_topk(idx, text, k=k),
            batch=(("bool_prefix",), text),
        )

    def _multi_match(self, spec: QuerySpec, scan, index) -> _Plan:
        """Per-field statistics contract: each field scores against its
        OWN stats, so only attached per-field indexes (field_indexes) can
        serve multi_match — never the single-field block index."""
        fi = self.field_indexes
        flds = spec.fields or [spec.field]
        names = [f.partition("^")[0] for f in flds]
        if not fi or not all(n in fi for n in names):
            return scan("per-field stats need per-field indexes")
        text = spec.query_text or ""
        if spec.match_type in ("best_fields", "most_fields", "cross_fields"):
            from .query.multimatch import multi_match_index_topk

            return index(
                "per-field indexes attached: BM25's driver evaluator or "
                "MaxScore shard function over the field indexes (any mix "
                "of n_shards)",
                lambda k: multi_match_index_topk(
                    fi, text, flds,
                    match_type=spec.match_type,
                    tie_breaker=spec.tie_breaker,
                    k=k,
                ),
                batch=(
                    ("multi_match", tuple(flds), spec.match_type,
                     spec.tie_breaker),
                    text,
                ),
            )
        # field-centric phrase/bool_prefix types (tie_breaker=0, the host
        # default): per-field index kernels + dis-max union — phrase needs
        # every field's positions sidecar
        if (
            spec.tie_breaker == 0.0
            and spec.match_type in ("phrase", "bool_prefix")
            and (
                spec.match_type == "bool_prefix"
                or self._positions(*(fi[n] for n in names))
            )
        ):
            from .query.multimatch import multi_match_field_topk

            return index(
                "per-field kernels + exact dis-max union (tie_breaker=0)",
                lambda k: multi_match_field_topk(
                    fi, text, flds, spec.match_type, k=k, slop=spec.slop
                ),
            )
        return scan(
            "field-centric phrase family composes per-field corpus scans"
        )

    def _branch_topk(
        self, spec, k: int, allowed: DataFrame | None = None
    ) -> DataFrame:
        """(doc_id, score) bounded to top-k, as planned for a top-k
        context — under ``allowed`` (post_filter semantics) when given."""
        ctx = _FILTERED if allowed is not None else _TOPK
        return self._plan(spec, ctx).run(k, allowed).drop("rank")

    # efficient-filtering knobs (reference analog: the k-NN plugin's
    # filtered search, which the neural query's `filter` delegates to):
    # at or below the exact threshold the filtered subset is brute-force
    # scored; above it the ANN asset over-fetches candidates
    ann_filtered_exact_threshold: int = 10_000
    ann_filtered_overfetch: int = 10

    def _ann_filtered_topk(
        self, spec: QuerySpec, k: int, allowed: DataFrame | None
    ) -> DataFrame | None:
        """Filtered ANN ('efficient filtering'): choose the plan by filter
        cardinality, like the reference's filtered k-NN search decides
        between exact scoring of the filtered subset and approximate
        traversal.

        * allowed count ≤ ann_filtered_exact_threshold → return None: the
          caller's exact corpus-scan plan scores just the filtered rows —
          cheaper AND exact, the plugin's exact-search branch;
        * otherwise over-fetch k·ann_filtered_overfetch ANN candidates and
          keep those passing the filter; if fewer than k survive, return
          None (exact backstop — approximation may never silently
          under-fill a page).

        Pre-scoring ``filter`` and collect-time ``allowed`` are
        interchangeable for pure vector branches — cosine depends on no
        corpus statistics, so gating before or after scoring produces the
        same surviving scores. Costs two driver-side count() actions;
        both scan only doc_id columns."""
        corpus = self._need_corpus(spec.query_type)
        spec = rewrite(spec)
        allow_ids = (
            corpus.filter(spec.filter) if spec.filter is not None else corpus
        ).select(F.col(self.id_col).alias("doc_id"))
        if allowed is not None:
            allow_ids = allow_ids.join(allowed, "doc_id", "left_semi")
        if allow_ids.count() <= self.ann_filtered_exact_threshold:
            return None
        fetched = self.ann_index.topk(
            spec.vector or [], k=k * self.ann_filtered_overfetch
        ).select(
            F.col("vec_id").alias("doc_id"),
            F.col("cosine").cast("double").alias("score"),
        )
        survivors = fetched.join(allow_ids, "doc_id", "left_semi")
        survivors = survivors.persist()
        try:
            if survivors.count() < k:
                return None  # exact backstop
            return (
                survivors.orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
                # materialize before unpersist so the cached rows serve
                # the downstream plan
                .localCheckpoint(eager=True)
            )
        finally:
            survivors.unpersist()

    def _dismax_scored(self, spec: DisMaxSpec) -> DataFrame:
        """DisjunctionMaxQuery: full matched sets per sub-query (corpus
        scorers — max needs every sub-query's score for a doc, which the
        index kernels' k-truncated lists can't provide), one doc-keyed
        max/sum aggregation."""
        corpus = self._need_corpus("dis_max")
        tall = None
        for s in spec.queries:
            sc = execute(s, corpus, self.id_col).select(
                "doc_id", F.col("score").cast("double").alias("score")
            )
            tall = sc if tall is None else tall.unionAll(sc)
        agg = tall.groupBy("doc_id").agg(
            F.max("score").alias("mx"), F.sum("score").alias("sm")
        )
        return agg.select(
            "doc_id",
            (
                F.col("mx")
                + F.lit(spec.tie_breaker) * (F.col("sm") - F.col("mx"))
            ).alias("score"),
        )

    def _boosting_scored(self, spec: BoostingSpec) -> DataFrame:
        """BoostingQuery: positive scores; docs also in the negative
        matched set multiply by negative_boost (demotion via one id
        projection + left join — the negative side's scores never
        matter, only membership)."""
        corpus = self._need_corpus("boosting")
        pos = execute(spec.positive, corpus, self.id_col).select(
            "doc_id", F.col("score").cast("double").alias("score")
        )
        neg = (
            execute(spec.negative, corpus, self.id_col)
            .select("doc_id")
            .distinct()
            .withColumn("neg", F.lit(True))
        )
        return pos.join(neg, "doc_id", "left").select(
            "doc_id",
            F.when(
                F.col("neg").isNotNull(),
                F.col("score") * F.lit(spec.negative_boost),
            )
            .otherwise(F.col("score"))
            .alias("score"),
        )

    def _mlt_index_topk(self, spec, k: int) -> DataFrame:
        """more_like_this served from the block index: term selection
        via a lookup in the resident term dictionary (index.term_stats
        — candidate-bounded, no Spark job), then the formed ≤25-term
        match through the ordinary block-max kernels. like_ids resolve
        against the corpus when one is attached; excluded likes are
        over-fetched so the final k stays full."""
        from .query.bm25 import bm25_topk
        from .query.mlt import MLT_DEFAULTS, mlt_select, resolve_like

        texts = resolve_like(
            spec.like, spec.like_ids, self.corpus, id_col=self.id_col,
            text_col=spec.field,
        )
        terms = mlt_select(
            texts,
            self.bm25_index.term_stats,
            self.bm25_index.n_docs,
            max_query_terms=spec.max_query_terms,
            min_term_freq=spec.min_term_freq,
            min_doc_freq=spec.min_doc_freq,
            max_doc_freq=spec.max_doc_freq,
            min_word_length=spec.min_word_length,
            max_word_length=spec.max_word_length,
            stop_words=spec.stop_words or (),
        )
        if not terms:
            return self.spark.range(0).select(
                F.col("id").alias("doc_id"),
                F.lit(0.0).cast("double").alias("score"),
            )
        msm = (
            spec.minimum_should_match
            if spec.minimum_should_match is not None
            else MLT_DEFAULTS["minimum_should_match"]
        )
        exclude = (
            [int(i) for i in spec.like_ids]
            if (not spec.include and spec.like_ids)
            else []
        )
        out = bm25_topk(
            self.bm25_index,
            " ".join(terms),
            k=k + len(exclude),
            minimum_should_match=msm,
        ).drop("rank")
        if exclude:
            out = out.filter(
                ~F.col("doc_id").cast("long").isin(exclude)
            ).orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        return out

    def _constant_score_scored(self, spec: ConstantScoreSpec) -> DataFrame:
        """ConstantScoreQuery: membership from the wrapped filter, score
        = boost. A SQL-predicate filter never builds a scoring plan at
        all (one pushed-down scan); a sub-query filter keeps only its id
        projection, so e.g. a wrapped match skips its aggregation column
        arithmetic under whole-stage codegen."""
        corpus = self._need_corpus("constant_score")
        if isinstance(spec.filter, str):
            return corpus.filter(F.expr(spec.filter)).select(
                F.col(self.id_col).alias("doc_id"),
                F.lit(float(spec.boost)).alias("score"),
            )
        matched = execute(
            spec.filter, corpus, self.id_col, analyzers=self.analyzers
        )
        return matched.select(
            "doc_id", F.lit(float(spec.boost)).alias("score")
        )

    def _full_scored(self, spec) -> DataFrame:
        """Unbounded (doc_id, score) for any non-hybrid spec — the full
        matched set a wrapping query (function_score, rescore, has_child,
        scroll, aggs, count) needs."""
        return self._plan(spec, _FULL).run(None, None)

    def _function_score_scored(
        self, spec, sub: _Plan | None = None
    ) -> DataFrame:
        """FunctionScoreQuery: the wrapped query's full scored set (its
        plan ``sub``) → one corpus join + pure column arithmetic (see
        query.function_score). Wrapped query None = match_all."""
        from .query.function_score import function_score_scored

        corpus = self._need_corpus("function_score")
        if spec.query is None:
            base = corpus.select(
                F.col(self.id_col).alias("doc_id"),
                F.lit(1.0).alias("score"),
            )
        else:
            sub = sub or self._route(spec.query, _FULL)
            base = sub.run(None, None).select(
                "doc_id", F.col("score").cast("double").alias("score")
            )
        return function_score_scored(base, corpus, spec, id_col=self.id_col)

    def _bool_scored(self, spec: BoolSpec) -> DataFrame:
        """(doc_id, score) for a BoolSpec — one tall union of every
        scoring clause's full matched set, ONE doc-keyed shuffle deciding
        required/optional/min-should counts and the score sum, then
        anti-/semi-joins for must_not / filter. Clause scorers run over
        the FULL corpus (Lucene stats contract: filters gate collection,
        never change surviving scores)."""
        corpus = self._need_corpus("bool")
        if not spec.must and not spec.should:
            raise ValueError(
                "bool query needs at least one scoring clause (must/should)"
            )
        msm = spec.minimum_should_match
        if msm is None:
            msm = 0 if (spec.must or spec.filter) else 1

        # amortize the corpus scan: every PLAIN match clause (default
        # field, no filter/fuzziness/coverage options) anywhere in the
        # bool — scoring, must_not, or filter list — scores in ONE
        # tokenize pass via the tall tag-table scorer; per-clause values
        # are identical to the per-clause plan's
        def _plain_match(c) -> bool:
            return (
                not isinstance(c, BoolSpec)
                and c.query_type == "match"
                and c.field == "text"
                and c.filter is None
                and c.fuzziness is None
                and c.operator == "or"
                and c.minimum_should_match is None
            )

        flist = spec.filter if isinstance(spec.filter, list) else []
        plain = [
            c
            for c in (spec.must + spec.should + spec.must_not + flist)
            if _plain_match(c)
        ]
        shared: dict[int, DataFrame] = {}
        if len(plain) >= 2:
            from .gate import bm25_scored_tall

            base = (
                corpus
                if self.id_col == "doc_id"
                else corpus.withColumnRenamed(self.id_col, "doc_id")
            )
            tall0 = bm25_scored_tall(
                base, ["doc_id"], [c.query_text or "" for c in plain],
                ndp=None,
            )
            shared = {
                id(c): tall0.filter(F.col("subq") == j).select(
                    "doc_id", "score"
                )
                for j, c in enumerate(plain)
            }

        def _clause(c) -> DataFrame:
            if id(c) in shared:
                return shared[id(c)]
            if isinstance(c, BoolSpec):  # nested BooleanQuery: recurse
                return self._bool_scored(c)
            return execute(c, corpus, self.id_col, analyzers=self.analyzers)

        parts = []
        for is_must, clauses in ((1, spec.must), (0, spec.should)):
            for c in clauses:
                parts.append(
                    _clause(c).select(
                        "doc_id",
                        F.col("score").cast("double").alias("score"),
                        F.lit(is_must).alias("is_must"),
                    )
                )
        tall = parts[0]
        for p in parts[1:]:
            tall = tall.unionAll(p)
        scored = (
            tall.groupBy("doc_id")
            .agg(
                F.sum("score").alias("score"),
                F.sum("is_must").alias("n_must"),
                F.sum(F.lit(1) - F.col("is_must")).alias("n_should"),
            )
            .filter(
                (F.col("n_must") == len(spec.must))
                & (F.col("n_should") >= msm)
            )
            .select("doc_id", "score")
        )
        for c in spec.must_not:
            scored = scored.join(
                _clause(c).select("doc_id"),
                "doc_id",
                "left_anti",
            )
        if spec.filter is not None:
            if isinstance(spec.filter, list):
                for c in spec.filter:
                    scored = scored.join(
                        _clause(c).select("doc_id"),
                        "doc_id",
                        "left_semi",
                    )
            else:
                scored = scored.join(
                    self._allowed(spec.filter), "doc_id", "left_semi"
                )
        return scored

    # ---- public API ----------------------------------------------------
    def search(
        self,
        spec: QuerySpec | HybridSpec | dict | str,
        k: int = 10,
        rescore: dict | None = None,
        highlight: dict | None = None,
    ) -> DataFrame:
        """Top-k for any spec → (doc_id, score, rank).

        highlight: optional host-shaped highlight block applied to the
        final top-k as a FETCH-PHASE transform (the host's highlight
        phase runs on the fetched hits, never the corpus): {"fields":
        {"text": {...}}} or flat options — pre_tags/post_tags (first
        entry used), fragment_size, number_of_fragments. Adds
        ``highlights`` (spans), ``highlighted`` (tagged text) and, with
        fragment_size, ``fragments`` columns. Highlight terms are the
        union of the spec's analyzed query texts (must_not branches are
        never highlighted, matching the host).

        rescore: optional generic rescore window applied AFTER the primary
        pipeline: {"window_size": W, "query": <sub-spec json/QuerySpec>,
        "query_weight": 1.0, "rescore_query_weight": 1.0, "score_mode":
        "total", "placement": "post_combination"}. The top-W primary hits
        are re-scored by the rescore query (corpus-scan exact scores) and
        combined; hits the rescore query misses keep query_weight·primary.

        Hybrid placement: the reference applies rescorers to each
        sub-query's TopDocs BEFORE the normalization processor runs
        (HybridCollectorManager.java:241-268); ``placement:
        "per_branch"`` reproduces that exactly — each branch's top-W is
        rescored, then normalization sees the combined branch scores. The
        DEFAULT stays ``"post_combination"`` (rescore the already-
        normalized/combined result): pre-normalization rescoring couples
        the rescore window to the normalization statistics, while the
        post form keeps rescore an independent pipeline stage and matches
        the non-hybrid QueryRescorer semantics. Pick per_branch for
        score-parity with the reference on hybrid+rescore requests."""
        if isinstance(spec, (dict, str)):
            spec = spec_from_json(spec)
        plan = self._plan(spec, _TOPK)
        if rescore is None:
            hits = self._hits(plan, k)
        else:
            hits = self._rescored(plan, spec, k, rescore)
        if highlight is not None:
            return self._apply_highlight(hits, spec, highlight)
        return hits

    def _hits(self, plan: _Plan, k: int) -> DataFrame:
        """A top-level plan's final page: (key, score, rank), score desc
        with the hit key ascending as the tie-break. A ranked plan's page
        is returned as is; any other plan is bounded and ranked here."""
        out = plan.run(k, None)
        if plan.ranked:
            return out
        w = topk_rank_window(F.desc("score"), F.asc(plan.key))
        return (
            out.orderBy(F.desc("score"), F.asc(plan.key))
            .limit(k)
            .withColumn("rank", F.row_number().over(w).cast("int"))
        )

    def _rescored(self, plan: _Plan, spec, k: int, rescore: dict) -> DataFrame:
        """The rescore window over ``plan``'s hits; see search()."""
        from .query.rerank import rescore_window

        placement = rescore.get("placement", "post_combination")
        if placement not in ("post_combination", "per_branch"):
            raise ValueError(
                "rescore placement must be 'post_combination' or "
                f"'per_branch', got {placement!r}"
            )
        rq = rescore["query"]
        if isinstance(rq, (dict, str)):
            rq = spec_from_json(rq)
        if not isinstance(rq, QuerySpec):
            raise ValueError("rescore query must be a leaf query spec")
        window = int(rescore.get("window_size", k))
        opts = dict(
            window_size=window,
            query_weight=float(rescore.get("query_weight", 1.0)),
            rescore_query_weight=float(
                rescore.get("rescore_query_weight", 1.0)
            ),
            score_mode=rescore.get("score_mode", "total"),
        )
        # one corpus-scan secondary, shared by every branch when per_branch
        secondary = self._full_scored(rq)
        if placement == "per_branch" and isinstance(spec, HybridSpec):
            return self._hybrid_topk(
                spec, plan.children["branches"], k, (secondary, opts)
            )
        primary = self._hits(plan, max(k, window))
        return rescore_window(primary.drop("rank"), secondary, k=k, **opts)

    def _hybrid_topk(
        self, spec: HybridSpec, branches: list, k: int, rescore=None
    ) -> DataFrame:
        """Hybrid top-k from the branch plans: each branch bounded by
        pagination_depth under the hybrid's post_filter → (per-branch
        rescore) → normalize → combine → (collapse) → (rerank). The
        branch pages are read with toArrow(), so a hybrid of driver
        pages runs no Spark job."""
        from .query.hybrid import collapse_top1, fuse, rerank_by_field

        depth = spec.pagination_depth or k
        allowed = self._allowed(spec.post_filter)
        tops = [b.run(depth, allowed) for b in branches]
        if rescore is not None:
            # reference placement: rescore EACH branch's top-W before
            # normalization (HybridCollectorManager.java:241-268)
            from .query.rerank import rescore_window

            secondary, opts = rescore
            tops = [
                rescore_window(b.drop("rank"), secondary, **opts)
                for b in tops
            ]
        _, combined = fuse(
            tops, spec.normalization, spec.combination, spec.weights,
            rank_constant=spec.rank_constant,
            pagination_depth=spec.pagination_depth,
        )
        if spec.collapse_field is not None:
            # collapse applies to the full combined set (best doc per
            # group, then top-k) — before any k-truncation
            corpus = self._need_corpus("collapse")
            scored = self.spark.createDataFrame(
                pa.Table.from_pandas(combined, preserve_index=False)
            ).join(
                corpus.select(self.id_col, spec.collapse_field).withColumnRenamed(
                    self.id_col, "doc_id"
                ),
                "doc_id",
            )
            out = collapse_top1(scored, spec.collapse_field, k=k)
        else:
            top = combined.head(k)
            out = local_page(self.spark, top["doc_id"], top["score"])
        if spec.rerank_by_field is not None:
            out = rerank_by_field(
                out,
                self._need_corpus("rerank")
                .select(self.id_col, spec.rerank_by_field)
                .withColumnRenamed(self.id_col, "doc_id"),
                spec.rerank_by_field,
                k=k,
            )
        return out

    def search_inner_hits(
        self, spec: "HasChildSpec | dict | str", k: int = 10
    ) -> DataFrame:
        """The inner_hits block of a has_child/nested request: for each
        of the top-k parent hits, the top-``inner_hits_size`` matching
        children — (conv_id, doc_id, child_score, child_rank). The host
        nests these inside each hit; a DataFrame API returns them as a
        companion frame keyed by the parent id."""
        from .query.join_family import has_child_inner_hits

        if isinstance(spec, (dict, str)):
            spec = spec_from_json(spec)
        if not isinstance(spec, HasChildSpec):
            raise ValueError(
                "search_inner_hits takes a has_child/nested spec"
            )
        corpus = self._need_corpus("inner_hits")
        plan = self._plan(spec, _TOPK)
        return has_child_inner_hits(
            plan.children["query"].run(None, None),
            corpus,
            self._hits(plan, k),
            id_col=self.id_col,
            size=spec.inner_hits_size or 3,
        )

    def search_with_aggs(
        self,
        spec: QuerySpec | HybridSpec | BoolSpec | dict | str | None,
        aggs: dict,
        k: int = 10,
        rescore: dict | None = None,
    ) -> tuple[DataFrame | None, dict[str, DataFrame]]:
        """Search plus OpenSearch-style aggregations.

        Aggregations run over the query's FULL raw matched set, never the
        top-k page — and for hybrid queries over the union of the
        sub-queries' matched docs with raw (pre-normalization) scores,
        the reference's contract (search/query/
        HybridAggregationProcessor.java: aggs collect during the
        collector phase, before the normalization processor rewrites
        scores). A ``post_filter`` on a hybrid spec gates the agg scope
        the same way it gates collection. ``spec=None`` aggregates the
        whole corpus (match_all scope) without a join.

        Returns ``(hits, {path: DataFrame})`` — hits is the normal
        ``search`` result (None when spec is None); see
        query.aggs.compute_aggs for the path convention.
        """
        from .query.aggs import compute_aggs

        corpus = self._need_corpus("aggs")
        base = (
            corpus
            if self.id_col == "doc_id"
            else corpus.withColumnRenamed(self.id_col, "doc_id")
        )
        if spec is None:
            return None, compute_aggs(
                base.withColumn("score", F.lit(1.0)), aggs, full=base
            )
        if isinstance(spec, (dict, str)):
            spec = spec_from_json(spec)
        hits = self.search(spec, k=k, rescore=rescore)
        if isinstance(spec, HybridSpec):
            parts = [
                self._full_scored(s).select(
                    "doc_id", F.col("score").cast("double").alias("score")
                )
                for s in spec.sub_queries
            ]
            matched = parts[0]
            for p in parts[1:]:
                matched = matched.unionAll(p)
            matched = matched.groupBy("doc_id").agg(
                F.max("score").alias("score")
            )
            allowed = self._allowed(spec.post_filter)
            if allowed is not None:
                matched = matched.join(allowed, "doc_id", "left_semi")
        else:
            matched = self._full_scored(spec).select(
                "doc_id", F.col("score").cast("double").alias("score")
            )
        # each agg path collects separately; cache the (doc_id, score)
        # matched set so scoring runs once, not once per returned frame.
        # |matched| is corpus-bounded but carries two columns only.
        matched = matched.persist()
        scoped = base.drop("score").join(matched, "doc_id")
        return hits, compute_aggs(scoped, aggs, full=base)

    def explain_score(self, spec, doc_ids: list[int]) -> DataFrame:
        """Lucene Explanation analog (the _explain API /
        BM25Similarity.explain: "product of idf and tfNorm"): for a
        `match` spec and a bounded list of doc ids, the per-(doc, term)
        BM25 breakdown — tf, df, dl, idf, tf_norm, contribution — plus
        the doc total, using the SAME stats source as the route
        ``search`` takes.

        Index route (bm25_index attached, no filter/fuzziness): df and
        n_docs/avgdl come from the index stats tables (driver point
        reads), per-doc tf/dl decode from only the query terms' pruned
        posting partitions filtered to the explained docs. Corpus route
        mirrors the scan scorer exactly (one tokenize pass, df over all
        matching docs). Tombstoned docs remain explainable until an
        expunge merge — explain reads raw postings, like Lucene's
        explain over a reader with deletes.
        """
        import pandas as pd  # noqa: F811 (local alias)

        from pyspark.sql import Window

        from .query.bm25 import BM25_B, BM25_K1, lucene_idf, tid_py
        from .tokenizer import tokenize_expr, tokenize_py

        if isinstance(spec, (dict, str)):
            spec = spec_from_json(spec)
        if not isinstance(spec, QuerySpec) or spec.query_type != "match":
            raise ValueError(
                "explain_score explains match specs (the BM25 leaf); "
                "decompose compound queries into their leaves"
            )
        if spec.fuzziness is not None or spec.filter is not None:
            raise ValueError(
                "explain_score: plain match only (no fuzziness/filter)"
            )
        ids = [int(d) for d in doc_ids]
        terms = sorted(set(tokenize_py(spec.query_text)))
        tfnorm = lambda tf, dl, avgdl: tf / (  # noqa: E731
            tf + F.lit(BM25_K1)
            * (1.0 - BM25_B + BM25_B * dl / F.lit(avgdl))
        )
        if self.bm25_index is not None:
            from .index.merge import decoded_postings

            idx = self.bm25_index
            dfm = idx.term_stats(terms)
            meta = self.spark.createDataFrame(
                pd.DataFrame(
                    {
                        "tid": [tid_py(t) for t in terms],
                        "term": terms,
                        "df": [int(dfm.get(t, 0)) for t in terms],
                        "idf": [
                            lucene_idf(idx.n_docs, dfm.get(t, 0))
                            for t in terms
                        ],
                    }
                )
            )
            rows = (
                decoded_postings(idx.postings_for(terms))
                .filter(F.col("doc_id").isin(ids))
                .join(F.broadcast(meta), "tid")
                .drop("tid", "shard_id")
            )
            avgdl = idx.avgdl
        else:
            corpus = self._need_corpus("explain_score")
            base = (
                corpus
                if self.id_col == "doc_id"
                else corpus.withColumnRenamed(self.id_col, "doc_id")
            )
            toks = base.select(
                "doc_id", tokenize_expr("text").alias("toks")
            ).withColumn("dl", F.size("toks"))
            srow = toks.agg(
                F.count("*").alias("n"), F.avg("dl").alias("avgdl")
            ).collect()[0]
            n_docs, avgdl = int(srow["n"]), float(srow["avgdl"])
            qdf = self.spark.createDataFrame(
                pd.DataFrame({"term": terms})
            )
            tf = (
                toks.select("doc_id", "dl", F.explode("toks").alias("term"))
                .join(F.broadcast(qdf), "term")
                .groupBy("doc_id", "dl", "term")
                .agg(F.count("*").alias("tf"))
            )
            dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
            rows = (
                tf.filter(F.col("doc_id").isin(ids))
                .join(F.broadcast(dfreq), "term")
                .withColumn(
                    "idf",
                    F.log(
                        1.0
                        + (F.lit(n_docs) - F.col("df") + 0.5)
                        / (F.col("df") + 0.5)
                    ),
                )
            )
        out = rows.withColumn(
            "tf_norm", tfnorm(F.col("tf"), F.col("dl"), avgdl)
        ).withColumn("contribution", F.col("idf") * F.col("tf_norm"))
        w = Window.partitionBy("doc_id")
        return out.withColumn(
            "total", F.sum("contribution").over(w)
        ).select(
            "doc_id", "term", "tf", "df", "dl",
            "idf", "tf_norm", "contribution", "total",
        ).orderBy("doc_id", "term")

    # ---- small host APIs ----------------------------------------------
    def analyze(self, text: str) -> list[str]:
        """The host `_analyze` API for the engine's single frozen
        analyzer (lowercase, split on non-alphanumerics, drop empties —
        see tokenizer.py): the token stream a field value indexes as."""
        from .tokenizer import tokenize_py

        return tokenize_py(text)

    def _matched_scored(self, spec) -> DataFrame:
        """FULL matched set (doc_id, score) of a spec — the
        collector-free frame `_count` / `_delete_by_query` need (top-k
        truncation would undercount)."""
        if isinstance(spec, (dict, str)):
            spec = spec_from_json(spec)
        return self._full_scored(spec)

    def count(self, spec) -> dict:
        """The host `_count` API: exact matched-doc count for a spec.
        Always {'relation': 'eq'} — the count is ONE distinct-aggregate
        over the matched frame (map-side partial counts), there is no
        early-terminating collector to clip it."""
        n = self._matched_scored(spec).select("doc_id").distinct().count()
        return {"count": int(n), "relation": "eq"}

    def mget(self, ids: list[int]) -> DataFrame:
        """The host `_mget` API: corpus rows for the given ids, in one
        broadcast semi-join — parquet row-group stats make this a
        handful of point reads at any corpus size. Missing ids are
        simply absent from the result (the host marks found=false)."""
        corpus = self._need_corpus("mget")
        idf = self.spark.createDataFrame(
            [(int(i),) for i in ids], schema=f"{self.id_col} long"
        )
        return corpus.join(F.broadcast(idf), self.id_col, "left_semi")

    def delete_by_query(self, spec, dry_run: bool = False) -> dict:
        """The host `_delete_by_query` API, Lucene-shaped: the spec's
        FULL matched set becomes query-time tombstones on the attached
        bm25_index (`BM25Index.with_deletes` — liveDocs semantics: live
        docs' scores unchanged, stats drift until a merge expunges, the
        permanent form being ``index.merge.merge_indexes(deletes=...)``).
        Returns {'deleted': newly-deleted count, 'total': matched count}.

        Tombstones ship driver-side (documented with_deletes contract:
        suited to deletions ≪ corpus); a broad delete should filter the
        corpus and rebuild instead — same guidance as the host gives for
        reindex-sized operations."""
        import numpy as np

        if self.bm25_index is None:
            raise ValueError(
                "delete_by_query needs an attached bm25_index to carry "
                "the tombstones"
            )
        matched = (
            self._matched_scored(spec)
            .select("doc_id")
            .distinct()
            .toPandas()["doc_id"]
            .to_numpy(dtype=np.int64)
        )
        existing = self.bm25_index.deletes
        already = (
            int(np.isin(matched, existing).sum())
            if existing is not None
            else 0
        )
        out = {"total": int(matched.size), "deleted": int(matched.size) - already}
        if not dry_run and matched.size:
            union = (
                np.union1d(existing, matched)
                if existing is not None
                else np.unique(matched)
            )
            self.bm25_index.with_deletes(union)
        return out

    def _highlight_terms(self, spec) -> set[str]:
        """Union of the spec's analyzed query texts — the terms the
        highlight phase marks. must_not branches are skipped (the host
        never highlights negations); un-analyzed term/prefix kinds
        contribute their verbatim lowercased value."""
        from .tokenizer import tokenize_py

        out: set[str] = set()

        def walk(s) -> None:
            if s is None:
                return
            if isinstance(s, (list, tuple)):
                for x in s:
                    walk(x)
                return
            qt = getattr(s, "query_text", None)
            if qt:
                out.update(tokenize_py(qt))
            if getattr(s, "query_type", "") in ("term", "prefix") and getattr(
                s, "value", None
            ):
                out.add(str(s.value).lower())
            for attr in (
                "sub_queries", "queries", "must", "should", "positive",
                "query",
            ):
                walk(getattr(s, attr, None))

        walk(spec)
        return out

    def _apply_highlight(
        self, hits: DataFrame, spec, opts: dict
    ) -> DataFrame:
        """Fetch-phase highlight over an already-collected top-k frame:
        ONE broadcast join fetches the k hits' text (the _mget point-read
        shape), then the Arrow highlighter runs on those rows only."""
        from .extras.highlight import highlight_topk

        field = "text"
        opts = dict(opts or {})
        fields_opt = opts.pop("fields", None)
        if fields_opt and len(fields_opt) > 1:
            raise ValueError(
                "highlight serves one field per request, got "
                f"{sorted(fields_opt)}"
            )
        if fields_opt:
            field, fopts = next(iter(fields_opt.items()))
            opts.update(fopts or {})
        corpus = self._need_corpus("highlight")
        text_df = corpus.select(
            F.col(self.id_col).alias("doc_id"), F.col(field)
        )
        joined = text_df.join(F.broadcast(hits), "doc_id")
        terms = self._highlight_terms(spec)
        pre = (opts.get("pre_tags") or ["<em>"])[0]
        post = (opts.get("post_tags") or ["</em>"])[0]
        out = highlight_topk(
            joined,
            " ".join(sorted(terms)),
            text_col=field,
            pre_tag=pre,
            post_tag=post,
            fragment_size=opts.get("fragment_size"),
            number_of_fragments=int(opts.get("number_of_fragments", 3)),
        )
        return out.drop(field).orderBy("rank")

    def field_caps(self) -> dict:
        """The host `_field_caps` API: per-field type + searchable/
        aggregatable capabilities, derived from the corpus schema (the
        host derives them from mappings). Type names follow the host's
        vocabulary: string → text, array<float/double> → dense_vector
        (knn-servable), map → rank_features (the sparse feature shape),
        numerics/timestamps keep their names. Every stored field is
        searchable (Catalyst predicates); text is aggregatable only via
        its analyzed terms, mirroring fielddata-off text fields → False."""
        from pyspark.sql import types as T

        def cap(f) -> dict:
            dt = f.dataType
            if isinstance(dt, T.StringType):
                return {"type": "text", "searchable": True, "aggregatable": False}
            if isinstance(dt, T.ArrayType) and isinstance(
                dt.elementType, (T.FloatType, T.DoubleType)
            ):
                return {
                    "type": "dense_vector",
                    "searchable": True,  # neural_knn serves it
                    "aggregatable": False,
                }
            if isinstance(dt, T.MapType):
                return {
                    "type": "rank_features",
                    "searchable": True,  # neural_sparse serves it
                    "aggregatable": False,
                }
            name = {
                T.LongType: "long", T.IntegerType: "integer",
                T.DoubleType: "double", T.FloatType: "float",
                T.BooleanType: "boolean", T.TimestampType: "date",
                T.TimestampNTZType: "date", T.BinaryType: "binary",
            }.get(type(dt), dt.simpleString())
            return {
                "type": name,
                "searchable": True,
                "aggregatable": not isinstance(dt, T.BinaryType),
            }

        corpus = self._need_corpus("field_caps")
        return {f.name: cap(f) for f in corpus.schema.fields}

    def reindex(
        self,
        out_dir: str,
        spec=None,
        set_exprs: dict[str, str] | None = None,
        n_shards: int | None = None,
        block_size: int | None = None,
        with_positions: bool = False,
    ) -> dict:
        """The host `_reindex` API, destination-index form: build a FRESH
        index at ``out_dir`` over the corpus — optionally restricted to a
        query's matched set (the host's ``source.query``) and transformed
        by per-column SQL expressions (the script analog, same contract
        as update_by_query). Unlike update_by_query this is a full build
        of the selected rows (the host shape for copy-into-new-index);
        layout params default to the attached index's when one is
        attached. Returns the build info dict."""
        from .index.build import IndexBuilder
        from .index.positions import build_positions
        from .index.update import apply_update

        corpus = self._need_corpus("reindex")
        rows = corpus
        if spec is not None:
            matched = (
                self._matched_scored(spec)
                .select(F.col("doc_id").alias(self.id_col))
                .distinct()
            )
            rows = corpus.join(matched, self.id_col, "left_semi")
            if set_exprs:
                rows = apply_update(rows, matched, set_exprs, self.id_col)
        elif set_exprs:
            rows = apply_update(
                rows, rows.select(self.id_col), set_exprs, self.id_col
            )
        lay = {}
        if self.bm25_index is not None:
            from .index.merge import _read_layout

            lay = _read_layout(self.spark, self.bm25_index.path)
        info = IndexBuilder(
            self.spark,
            out_dir,
            n_shards=int(n_shards or lay.get("n_shards", 32)),
            block_size=int(block_size or lay.get("block_size", 4096)),
        ).build(rows)
        if with_positions:
            build_positions(self.spark, out_dir, rows)
        return info

    def update_by_query(
        self,
        spec,
        set_exprs: dict[str, str],
        out_dir: str | None = None,
        dry_run: bool = False,
    ) -> dict:
        """The host `_update_by_query` API: the spec's FULL matched set
        gets ``set_exprs`` applied (Spark SQL expressions per column —
        the vectorized stand-in for the host's painless script, see
        index/update.py), the engine's corpus swaps to the updated frame,
        and with ``out_dir`` the attached bm25_index is incrementally
        reindexed: a segment build over the matched rows + ONE
        source-scoped merge expunging the stale copies — cost scales
        with the update size, never the corpus. Returns {'total',
        'updated'} (+ merge info under 'reindex' when out_dir given).
        With an attached bm25_index, a real (non-dry-run) update needs
        ``out_dir``: it raises ValueError before touching the corpus."""
        from .index.update import apply_update, update_and_reindex

        if self.bm25_index is not None and out_dir is None and not dry_run:
            raise ValueError(STALE_INDEX_UPDATE)

        matched = self._matched_scored(spec).select("doc_id").distinct()
        # host semantics: deleted docs are invisible to update_by_query —
        # the corpus-side match must not touch (or resurrect) tombstoned
        # ids; the reindex additionally expunges the tombstones durably
        if (
            self.bm25_index is not None
            and getattr(self.bm25_index, "deletes", None) is not None
            and len(self.bm25_index.deletes)
        ):
            tomb = self.spark.createDataFrame(
                [(int(x),) for x in self.bm25_index.deletes],
                schema="doc_id long",
            )
            matched = matched.join(F.broadcast(tomb), "doc_id", "left_anti")
        total = int(matched.count())
        out = {"total": total, "updated": 0 if dry_run else total}
        if dry_run:
            return out
        # the update and reindex key on the corpus id column
        matched = matched.withColumnRenamed("doc_id", self.id_col)
        corpus = self._need_corpus("update_by_query")
        new_corpus = apply_update(corpus, matched, set_exprs, self.id_col)
        if total == 0:
            # nothing matched: the corpus transform is a no-op and a
            # segment build + merge would just copy the index — skip
            self.corpus = new_corpus
            return out
        if out_dir is not None:
            if self.bm25_index is None:
                raise ValueError(
                    "update_by_query with out_dir needs an attached "
                    "bm25_index to reindex"
                )
            info = update_and_reindex(
                self.spark, self.bm25_index, new_corpus, matched,
                out_dir, id_col=self.id_col,
            )
            from .query.bm25 import BM25Index

            self.bm25_index = BM25Index(self.spark, out_dir)
            out["reindex"] = {
                k: info[k] for k in ("run_id", "n_docs", "docs_expunged")
            }
        self.corpus = new_corpus
        return out

    def termvectors(
        self,
        ids: list[int],
        term_statistics: bool = False,
        field_statistics: bool = False,
        positions: bool = True,
        offsets: bool = True,
    ) -> dict:
        """The host `_termvectors` / `_mtermvectors` API: per-doc term
        vectors via on-the-fly re-analysis of the fetched rows (the
        host's behavior for fields without stored term vectors), with
        df/ttf and field statistics read from the attached bm25_index's
        resident term dictionary on the driver — the _mget
        broadcast semi-join is the only Spark job. Requires the index
        when term_statistics/field_statistics are requested."""
        from .query.termvectors import termvectors_response

        return termvectors_response(
            self._need_corpus("termvectors"),
            ids,
            index=self.bm25_index,
            id_col=self.id_col,
            term_statistics=term_statistics,
            field_statistics=field_statistics,
            positions=positions,
            offsets=offsets,
        )

    def explain_route(self, spec) -> dict:
        """Which physical route a spec takes, WITHOUT running it — the
        ops-facing analog of `.explain()` one level up: {'route':
        'index'|'corpus'|'ann'|'ann_filtered'|'composite', 'reason': str},
        plus the wrapped queries' explanations under 'branches' (hybrid),
        'query' (function_score, has_child) or 'organic' (pinned).

        Derived from the same plan search() runs (``_plan``), so it
        cannot drift from execution — the Lucene Weight.explain/scorer
        pairing. A surprising corpus fallback is diagnosable before
        paying for it; only terms lookups are resolved (dictionary
        lookups)."""
        if isinstance(spec, (dict, str)):
            spec = spec_from_json(spec)
        return self._plan(spec, _TOPK).explain()

    def suggest(self, text: str, **kw):
        """Term suggester (did-you-mean; Lucene DirectSpellChecker analog)
        over the attached BM25 index's dictionary — driver-side, no Spark
        job. Returns {token: [Suggestion(term, score, freq), ...]}."""
        if self.bm25_index is None:
            raise ValueError("suggest needs an attached bm25_index")
        from .query.suggest import term_suggest

        return term_suggest(self.bm25_index, text, **kw)

    def complete(self, prefix: str, size: int = 5, **kw):
        """Completion suggester (autocomplete; Lucene NRTSuggester analog)
        over an attached index.completion.CompletionIndex — driver-side
        pyarrow point/range reads, no Spark job. Returns
        [Completion(text, weight, doc_id, distance), ...]."""
        if self.completion_index is None:
            raise ValueError("complete needs an attached completion_index")
        return self.completion_index.complete(prefix, size, **kw)

    def terms_enum(
        self, prefix: str, size: int = 10, search_after: str | None = None
    ) -> list[str]:
        """The _terms_enum API: index terms matching a prefix, sorted
        ascending, up to `size`, resumable via search_after (exclusive) —
        a dictionary range read on the attached BM25 index (the API's
        documented use is field-value autocomplete; it returns terms, not
        docs, and only live-indexed terms)."""
        if self.bm25_index is None:
            raise ValueError("terms_enum needs an attached bm25_index")
        if not prefix:
            raise ValueError("terms_enum needs a non-empty prefix (the "
                             "full-dictionary walk is the guarded path)")
        vocab = self.bm25_index.dictionary(prefix=prefix)
        terms = [t for t, _ in vocab]
        if search_after is not None:
            import bisect

            terms = terms[bisect.bisect_right(terms, search_after):]
        return terms[:size]

    def search_as_you_type(self, query_text: str, k: int = 10, **kw):
        """The search_as_you_type field's canonical query (multi_match
        type=bool_prefix over root + shingle subfields, tie_breaker=0)
        against attached query.sayt.build_sayt_indexes output."""
        if not self.sayt_indexes:
            raise ValueError(
                "search_as_you_type needs attached sayt_indexes "
                "(query.sayt.build_sayt_indexes)"
            )
        from .query.sayt import search_as_you_type_topk

        return search_as_you_type_topk(
            self.sayt_indexes, query_text, k=k, **kw
        )

    def search_as_you_type_batch(
        self, queries: list[tuple[str, str]], k: int = 10
    ):
        """Batched SAYT ({query_id: suggestions} for a whole keystroke
        batch): one job per subfield index for the entire query set with
        a shared decode cache — the autocomplete-cluster msearch shape
        (see query/sayt.py search_as_you_type_batch)."""
        if not self.sayt_indexes:
            raise ValueError(
                "search_as_you_type needs attached sayt_indexes "
                "(query.sayt.build_sayt_indexes)"
            )
        from .query.sayt import search_as_you_type_batch

        return search_as_you_type_batch(self.sayt_indexes, queries, k=k)

    def scroll(
        self,
        spec=None,
        page_size: int = 100,
        sort: list[tuple[str, str]] | None = None,
        search_after: list | None = None,
    ):
        """Deep result iteration (the host's PIT + search_after idiom):
        a ScrollCursor whose every page is a fresh keyset-paged plan —
        no executor pagination state, resumable from
        ``cursor.resume_token``.

        ``sort`` given → field-sorted pages over the corpus (spec, if
        any, pre-filters to the spec's matched doc set). ``sort`` None
        → score-sorted pages over the spec's FULL scored frame (score
        desc, doc_id asc keyset; float32 scores are deterministic so
        the keyset is stable)."""
        from .query.scroll import ScrollCursor

        if sort is not None:
            corpus = self._need_corpus("scroll")
            df = corpus
            if "doc_id" not in df.columns:
                # the transcripts convention: doc_id is derived, not
                # stored — same derivation every query plan uses
                from .index.build import doc_id_col

                df = df.withColumn("doc_id", doc_id_col())
            if spec is not None:
                if isinstance(spec, (dict, str)):
                    spec = spec_from_json(spec)
                matched = self._full_scored(spec).select("doc_id")
                df = df.join(matched, "doc_id", "left_semi")
            return ScrollCursor(
                df, sort, page_size=page_size, search_after=search_after
            )
        if spec is None:
            raise ValueError("score-sorted scroll needs a query spec")
        if isinstance(spec, (dict, str)):
            spec = spec_from_json(spec)
        if isinstance(spec, HybridSpec):
            # a hybrid result is depth-bounded by construction
            # (pagination_depth) — there is no unbounded scored frame
            # to keyset over; page hybrids via pagination_depth + rank
            raise ValueError(
                "scroll supports leaf/bool specs; page hybrid queries "
                "with pagination_depth instead"
            )
        scored = self._full_scored(spec).select(
            "doc_id", F.col("score").cast("double").alias("score")
        )
        return ScrollCursor(
            scored,
            [("score", "desc")],
            page_size=page_size,
            search_after=search_after,
        )

    def phrase_suggest(self, text: str, lm, **kw):
        """Phrase suggester (whole-phrase did-you-mean): per-token
        candidates from the term suggester re-ranked by the bigram
        language model ``lm`` (a query.phrase_suggest.BigramLM built
        over this corpus). Returns [PhraseSuggestion, ...]."""
        if self.bm25_index is None:
            raise ValueError("phrase_suggest needs an attached bm25_index")
        from .query.phrase_suggest import phrase_suggest

        return phrase_suggest(self.bm25_index, lm, text, **kw)

    def msearch(
        self, specs: dict[str, QuerySpec | dict | str], k: int = 10
    ) -> DataFrame:
        """Batched search: {query_id: spec} → one (query_id, doc_id,
        score, rank) DataFrame. Specs whose plans share a batch key run
        as ONE batch: match specs per (operator, minimum_should_match)
        through bm25_topk_batch, match_bool_prefix specs through
        match_bool_prefix_topk_batch, match_phrase and
        match_phrase_prefix specs (any slop) through phrase_topk_batch,
        span/intervals specs through span_topk_batch, and
        best/most/cross_fields multi_match specs per (fields, type,
        tie_breaker) through multi_match_topk_batch, whatever the
        per-field indexes' n_shards. Every batch kernel takes the same
        Σdf gate a single query does, over the union of the batch's
        terms: below it the whole batch is scored on the driver into one
        ``LocalPage`` (no Spark job), above it in one shared job (shared
        pruned scan + per-shard decode cache, the cluster-throughput
        shape) — the shard function a single distributed query runs,
        with every spec at once. A group of one spec is its own query.
        Other specs run their own plans. Every driver page (batch or
        single) is joined into one ``LocalPage`` in Arrow, scores
        widened to double; when every part is such a page that is the
        result — an msearch of match, match_bool_prefix and multi_match
        specs below the gate never calls the JVM — else it is unioned
        with the distributed parts."""
        if not specs:
            raise ValueError("msearch needs at least one spec")
        plans = {
            qid: self._plan(
                spec_from_json(s) if isinstance(s, (dict, str)) else s, _TOPK
            )
            for qid, s in specs.items()
        }
        groups: dict[tuple, dict[str, object]] = {}
        for qid, p in plans.items():
            if p.key != "doc_id":
                # parent hits live in the conv_id space — they cannot
                # union with the (query_id, doc_id, ...) batch frame
                raise ValueError(
                    f"spec {qid!r}: has_child/nested returns parent "
                    "hits (conv_id) — use search(), not msearch"
                )
            if p.batch is not None:
                key, item = p.batch
                groups.setdefault(key, {})[qid] = item
        pages: list[tuple[DataFrame, str | None]] = [
            (self._batch_topk(key, list(group.items()), k), None)
            for key, group in groups.items()
        ]
        pages += [
            (self._hits(p, k), qid)
            for qid, p in plans.items()
            if p.batch is None
        ]
        # driver pages are joined in Arrow into one LocalPage: a Spark
        # union of local relations would run a job, and an all-driver
        # msearch then never touches the JVM
        local: list[pa.Table] = []
        parts: list[DataFrame] = []
        for page, qid in pages:
            if isinstance(page, LocalPage):
                t = page.toArrow()
                q = (
                    t["query_id"] if qid is None
                    else pa.array([qid] * t.num_rows, pa.string())
                )
                local.append(
                    pa.table(
                        {
                            "query_id": q,
                            "doc_id": t["doc_id"],
                            "score": t["score"].cast(pa.float64()),
                            "rank": t["rank"],
                        }
                    )
                )
                continue
            if qid is not None:
                page = page.withColumn("query_id", F.lit(qid))
            parts.append(
                page.select(
                    "query_id", "doc_id",
                    F.col("score").cast("double").alias("score"), "rank",
                )
            )
        if local:
            parts.insert(0, LocalPage(self.spark, pa.concat_tables(local)))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out

    def _batch_topk(self, key: tuple, items: list, k: int) -> DataFrame:
        """One batch kernel call for a batch group: items are (query_id,
        query text — or PhraseQuery, or span clause) pairs."""
        kind = key[0]
        if kind == "bm25":
            from .query.bm25 import bm25_topk_batch

            _, operator, msm = key
            return bm25_topk_batch(
                self.bm25_index, items, k=k,
                operator=operator, minimum_should_match=msm,
            )
        if kind == "bool_prefix":
            from .query.multiterm import match_bool_prefix_topk_batch

            return match_bool_prefix_topk_batch(self.bm25_index, items, k=k)
        if kind == "phrase":
            from .query.phrase import phrase_topk_batch

            return phrase_topk_batch(self.bm25_index, items, k=k)
        if kind == "span":
            from .query.spans import span_topk_batch

            return span_topk_batch(self.bm25_index, items, k=k)
        from .query.multimatch import multi_match_topk_batch

        _, flds, match_type, tie_breaker = key
        return multi_match_topk_batch(
            self.field_indexes, items, list(flds),
            match_type=match_type, tie_breaker=tie_breaker, k=k,
        )

    def rank_eval(
        self,
        requests: list[dict],
        metric: dict,
    ) -> DataFrame:
        """The host's `_rank_eval` API: judge a batch of rated search
        requests with one quality metric → (query_id, metric_score,
        unrated_docs), one row per request (the overall score is the
        arithmetic mean of metric_score — `rank_eval_overall`).

        ``requests``: [{"id", "request": <spec json/dict, optional
        "size">, "ratings": [[doc_id, rating], ...]}, ...];
        ``metric``: one-key dict per the OpenSearch API, e.g.
        {"dcg": {"k": 10, "normalize": True}} — see query/rank_eval.py
        for the five metrics and their exact semantics.

        The whole batch executes through ``msearch`` so plain match
        requests share one pruned index scan; a per-request "size"
        tightens that request's window below the metric's k."""
        from .query.rank_eval import (
            compute_metric,
            metric_k,
            ratings_frame,
        )

        if not requests:
            raise ValueError("rank_eval needs at least one rated request")
        k = metric_k(metric)
        if "expected_reciprocal_rank" in metric:
            m = int(metric["expected_reciprocal_rank"]["maximum_relevance"])
            for req in requests:
                for _d, g in req.get("ratings", []):
                    if int(g) > m:
                        raise ValueError(
                            f"request {req['id']!r}: rating {g} exceeds "
                            f"maximum_relevance {m}"
                        )
        specs: dict[str, QuerySpec | dict | str] = {}
        cutoffs: dict[str, int] = {}
        for req in requests:
            qid = str(req["id"])
            if qid in specs:
                raise ValueError(f"duplicate request id {qid!r}")
            body = dict(req["request"])
            size = body.pop("size", None)
            specs[qid] = body
            cutoffs[qid] = min(int(size), k) if size is not None else k
        hits = self.msearch(specs, k=k)
        if any(c != k for c in cutoffs.values()):
            cut = F.create_map(
                *[
                    x
                    for qid, c in cutoffs.items()
                    for x in (F.lit(qid), F.lit(c))
                ]
            )
            hits = hits.filter(
                F.col("rank") <= cut[F.col("query_id")]
            )
        ratings = ratings_frame(self.spark, requests)
        return compute_metric(hits, ratings, metric, list(specs))
