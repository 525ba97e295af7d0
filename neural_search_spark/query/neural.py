"""Neural query types + request-processor semantics (query preparation).

The reference's `neural` query (query/NeuralQueryBuilder.java:118-1157)
resolves text(+image) through a model at rewrite time, then DELEGATES to
k-NN (dense) or FeatureField scoring (sparse). Here the rewrite is a
driver-side step on a ``QuerySpec`` dataclass; the delegated scoring is the
engine's dense/sparse DataFrame plans with the same deterministic stub
models as ingest (processors.py), so query vectors match document vectors.

Also implements:
* neural_query_enricher (processor/NeuralQueryEnricherProcessor.java:31-108):
  fill in a default model_id / per-field default when the query lacks one.
* field-sorted top-k + search_after (search/collector/
  HybridTopFieldDocSortCollector.java + PagingFieldCollector): plain
  orderBy().limit() with a lexicographic search_after predicate — Catalyst
  turns the predicate into a scan filter, no collector machinery needed.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..ranking import topk_rank_window


@dataclass
class QuerySpec:
    """Parsed neural/neural_sparse/hybrid sub-query, pre-rewrite."""

    query_type: str  # "neural" | "neural_sparse" | "neural_knn" | "match"
    #                  | "match_phrase" | "match_phrase_prefix" | "multi_match"
    field: str = "text"
    # match_phrase_prefix only: dictionary-expansion cap for the trailing
    # prefix position (MatchPhrasePrefixQueryBuilder.maxExpansions, default
    # 50 — OpenSearch's MatchQuery.DEFAULT_MAX_EXPANSIONS)
    max_expansions: int = 50
    # match_phrase only: Lucene sloppy-phrase tolerance
    # (MatchPhraseQueryBuilder.slop → SloppyPhraseScorer; 0 = exact).
    # Distinct-term phrases only — repeats raise.
    slop: int = 0
    # match only: term-coverage gate (OpenSearch MatchQueryBuilder operator
    # / minimumShouldMatch → Lucene BooleanQuery). 'and' requires every
    # distinct term; minimum_should_match accepts int, negative int, or
    # 'N%'. Scores remain the sum over matched terms.
    operator: str = "or"
    minimum_should_match: int | str | None = None
    # match only: fuzzy expansion (OpenSearch MatchQueryBuilder fuzziness
    # → Lucene FuzzyQuery + BlendedTermQuery). None = exact terms;
    # 'AUTO' | 0..2 enables dictionary expansion. Composes with
    # operator='or' / msm=None only (a fuzzy coverage gate would need
    # per-token-GROUP counting, which the engine doesn't implement).
    fuzziness: int | str | None = None
    prefix_length: int = 0
    fuzzy_transpositions: bool = True
    # prefix / wildcard / regexp / term only: the verbatim (un-analyzed)
    # term or pattern; boost is the constant score for the CONSTANT_SCORE
    # kinds (prefix/wildcard/regexp/terms). `term` is BM25-scored like
    # Lucene TermQuery. regexp supports the Lucene-∩-standard operator
    # subset (see query.multiterm.check_regexp_pattern).
    value: str | None = None
    boost: float = 1.0
    # terms only: the verbatim value set (docs containing ANY score boost)
    values: list[str] | None = None
    # terms only: the host's terms-lookup form (TermsQueryBuilder
    # termsLookup — {"index", "id", "path"[, "id_field"]}): the value
    # set is fetched from one row of a registered lookup table at
    # search time (Engine.lookup_tables), the GET-by-id fetch phase.
    # Mutually exclusive with ``values``; resolved by Engine.search —
    # an unresolved lookup reaching execute() raises.
    lookup: dict | None = None
    # multi_match only: field list with optional "name^boost" suffixes;
    # match_type "best_fields" (DisjunctionMaxQuery: max + tie_breaker ×
    # sum-of-others), "most_fields" (bool-should sum), "cross_fields"
    # (term-centric blended-df BlendedTermQuery combine), or the
    # field-centric "phrase" / "phrase_prefix" / "bool_prefix" family
    # (per-field sub-query + dis-max; phrase honors ``slop``,
    # phrase_prefix honors ``max_expansions``) — OpenSearch's
    # multi_match defaults (best_fields, tie_breaker 0.0)
    fields: list[str] | None = None
    match_type: str = "best_fields"
    tie_breaker: float = 0.0
    query_text: str | None = None
    query_image: bytes | None = None
    vector: list[float] | None = None
    query_tokens: dict[str, float] | None = None
    model_id: str | None = None
    # neural_sparse only: named payload-weight analyzer as the tokenization
    # method instead of model inference (NeuralSparseQueryBuilder.java:93,
    # :391-415 shouldUseAnalyzer — model_id and analyzer are mutually
    # exclusive; raw query_tokens win over both). Resolved against the
    # Engine's ``analyzers`` registry (or the ``analyzers`` argument of
    # ``rewrite``/``execute``); an unregistered name raises, mirroring the
    # reference's "Analyzer [x] not found in shard context".
    analyzer: str | None = None
    # range only (host RangeQueryBuilder): bounds over any scalar corpus
    # column (numeric / timestamp / string). At least one must be set.
    # Constant-score like Lucene's pointsonly ranges — matching docs score
    # ``boost``. Bounds are cast to the column's type at plan time, so an
    # ISO string against a timestamp column compares correctly, and the
    # predicate stays a Catalyst comparison (parquet min/max pushdown —
    # the 100-TB path is the scan pruning, not an index).
    gt: object | None = None
    gte: object | None = None
    lt: object | None = None
    lte: object | None = None
    # more_like_this only (host MoreLikeThisQueryBuilder → Lucene
    # MoreLikeThis): like texts and/or corpus doc ids; term-selection
    # gates; max_query_terms caps the formed query (host default 25).
    # minimum_should_match defaults to '30%' for THIS kind (the host's
    # MLT default, vs None for match); include=False excludes the like
    # docs from the results (host default).
    like: list[str] | None = None
    like_ids: list[int] | None = None
    max_query_terms: int = 25
    min_term_freq: int = 2
    min_doc_freq: int = 5
    max_doc_freq: int | None = None
    min_word_length: int = 0
    max_word_length: int | None = None
    stop_words: list[str] | None = None
    include: bool = False
    # terms_set only (host TermsSetQueryBuilder → Lucene CoveringQuery):
    # ``values`` are the verbatim term clauses over the analyzed field;
    # the per-doc required-match count is read from this numeric corpus
    # column (minimum_should_match_field — the script form is not
    # implemented). A doc matches when its matched-clause count ≥
    # max(1, its msm value; null → 1), msm values above the clause count
    # make the doc unmatchable (CoveringScorer never sees a doc outside
    # its clauses' union, and minMatch is per-doc). Scores sum the
    # matched clauses' BM25 term scores (CoveringQuery sums sub-scorers).
    minimum_should_match_field: str | None = None
    # rank_feature only (host RankFeatureQueryBuilder → Lucene
    # FeatureField queries): ``field`` is a positive numeric corpus
    # column; docs with a null or non-positive value never match
    # (FeatureField stores strictly-positive floats). score = boost ×
    # fn(S): saturation S/(S+pivot) (pivot defaulting to the geometric
    # mean of positive values, the analog of Lucene's computePivot over
    # index stats), log ln(scaling_factor + S), sigmoid
    # S^exp/(S^exp+pivot^exp), linear S.
    rf_function: str = "saturation"
    pivot: float | None = None
    scaling_factor: float | None = None
    exponent: float | None = None
    # distance_feature only (host DistanceFeatureQueryBuilder → Lucene
    # LongPoint.newDistanceFeatureQuery): score = boost × pivot /
    # (pivot + |field − origin|) over non-null ``field``; origin is
    # numeric or ISO date, df_pivot numeric or an Nd/Nh/Nm/Ns duration
    # (kept separate from rank_feature's ``pivot`` so a bool composing
    # both leaf kinds can't cross-contaminate)
    origin: object = None
    df_pivot: object = None
    # query_string only (host QueryStringQueryBuilder → classic Lucene
    # QueryParser; see query.qs): ``field`` is the default field,
    # ``operator`` the default conjunction, ``minimum_should_match``
    # applies to the top level's optional clauses. analyzed_fields:
    # columns scored via analyzer/BM25 (default {field}); any other
    # referenced column keyword-matches.
    analyzed_fields: list[str] | None = None
    k: int = 10  # reference default NeuralQueryBuilder.java:135
    filter: Column | None = None
    # radius-search knobs (NeuralQueryBuilder max_distance / min_score):
    # min_score keeps score ≥ bound; max_distance keeps (1 - cosine) ≤
    # bound (cosine space). Mutually exclusive in the reference.
    min_score: float | None = None
    max_distance: float | None = None
    # post_filter (reference FilteredCollector wrap,
    # search/query/HybridCollectorManager.java:164-167): applied at COLLECT
    # time — scores are computed as if unfiltered, failing docs just never
    # enter the top-k. A Column predicate or SQL expression over corpus
    # columns. Distinct from ``filter``, which is pushed BEFORE scoring.
    post_filter: Column | str | None = None


def enrich(specs: list[QuerySpec], default_model_id: str | None = None,
           field_defaults: dict[str, str] | None = None) -> list[QuerySpec]:
    """neural_query_enricher: set default model ids on specs lacking one
    (per-field default wins over the global default)."""
    for s in specs:
        if s.query_type in ("neural", "neural_sparse") and s.model_id is None:
            s.model_id = (field_defaults or {}).get(s.field) or default_model_id
    return specs


def rewrite(
    spec: QuerySpec, analyzers: dict[str, object] | None = None
) -> QuerySpec:
    """The reference's doRewrite: run 'inference' to produce the vector /
    token map. Uses the deterministic stub models (processors.py) so query
    and document representations agree.

    neural_sparse tokenization precedence mirrors
    NeuralSparseQueryBuilder.doRewrite/shouldUseAnalyzer
    (query/NeuralSparseQueryBuilder.java:360-415): explicit query_tokens
    end the rewrite untouched, and a negative or non-finite weight among
    them raises ValueError; setting BOTH model_id and analyzer raises;
    an analyzer name resolves against ``analyzers`` (a registry of
    analysis.WordPieceAnalyzer-shaped objects) and analyzes the query
    text; otherwise the stub model infers. (The reference additionally
    falls back to the 'bert-uncased' DEFAULT_ANALYZER when both are null
    on new-enough clusters — this engine keeps the stub model as that
    default so token maps stay aligned with the stub document encoder.)

    Returns a COPY — the caller's spec is never mutated, so a reused spec
    whose query_text changes between searches re-infers instead of serving
    a stale cached vector/token map."""
    import dataclasses
    import hashlib
    import math

    from ..extras.hashing import H60_MAX
    from ..processors import EMBED_DIM
    from ..tokenizer import tokenize_py

    spec = dataclasses.replace(spec)

    if spec.query_type == "neural" and spec.vector is None:
        toks = tokenize_py(spec.query_text or "")
        fp = hashlib.md5(" ".join(toks).encode()).hexdigest()
        spec.vector = [
            2.0 * (int(hashlib.md5(f"{fp}#{j}".encode()).hexdigest()[:15], 16) / H60_MAX)
            - 1.0
            for j in range(EMBED_DIM)
        ]
    if spec.query_type == "neural_sparse" and spec.query_tokens is not None:
        # index and corpus routes alike: the index kernels prune on
        # contributions ≥ 0 (the reference's scores ≥ 0)
        bad = {
            t: w for t, w in spec.query_tokens.items()
            if not (math.isfinite(w) and w >= 0)
        }
        if bad:
            raise ValueError(
                f"neural_sparse query_tokens weights must be finite and "
                f">= 0, got {bad}"
            )
    if spec.query_type == "neural_sparse" and spec.query_tokens is None:
        if spec.model_id is not None and spec.analyzer is not None:
            raise ValueError(
                f"Cannot use both [model_id: {spec.model_id}] and "
                f"[analyzer: {spec.analyzer}] for neural sparse query "
                "tokenization. Specify only one tokenization method."
            )
        if spec.analyzer is not None:
            an = (analyzers or {}).get(spec.analyzer)
            if an is None:
                raise ValueError(
                    f"Analyzer [{spec.analyzer}] not found in shard "
                    "context."
                )
            spec.query_tokens = an.analyze(spec.query_text or "")
            return spec
        toks = tokenize_py(spec.query_text or "")
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        spec.query_tokens = {
            t: float(c) * (1.0 + int(hashlib.md5(t.encode()).hexdigest()[:15], 16) / H60_MAX)
            for t, c in tf.items()
        }
    return spec


def _check_fuzzy_combo(spec: QuerySpec) -> None:
    if spec.operator != "or" or spec.minimum_should_match is not None:
        raise ValueError(
            "fuzziness composes with operator='or' and no "
            "minimum_should_match only (a fuzzy coverage gate needs "
            "per-token-group counting, which this engine doesn't implement)"
        )


def execute(
    spec: QuerySpec,
    docs: DataFrame,
    id_col: str = "doc_id",
    analyzers: dict[str, object] | None = None,
) -> DataFrame:
    """Score one rewritten sub-query → (doc_id, score). The optional filter
    is applied BEFORE scoring (the reference pushes the hybrid filter into
    every sub-query, query/HybridQueryBuilder.java:111-122)."""
    spec = rewrite(spec, analyzers=analyzers)
    if spec.min_score is not None and spec.max_distance is not None:
        raise ValueError(
            "min_score and max_distance cannot both be set"
        )  # NeuralQueryBuilder validates the same exclusivity
    scoped = docs.filter(spec.filter) if spec.filter is not None else docs
    if spec.query_type in ("neural", "neural_knn"):
        from ..extras.similarity import cosine_expr

        q = F.array(*[F.lit(float(x)).cast("float") for x in (spec.vector or [])])
        out = scoped.select(
            F.col(id_col).alias("doc_id"),
            cosine_expr(F.col(spec.field), q).alias("score"),
        )
        if spec.min_score is not None:
            out = out.filter(F.col("score") >= spec.min_score)
        if spec.max_distance is not None:
            out = out.filter((1.0 - F.col("score")) <= spec.max_distance)
        return out
    if spec.query_type == "neural_sparse":
        from .sparse import sparse_score

        return sparse_score(
            scoped, spec.query_tokens or {}, features_col=spec.field, id_col=id_col
        )
    if spec.query_type == "match":
        if spec.fuzziness is not None:
            _check_fuzzy_combo(spec)
            from .fuzzy import fuzzy_match_scored_scan

            return fuzzy_match_scored_scan(
                scoped,
                spec.query_text or "",
                fuzziness=spec.fuzziness,
                prefix_length=spec.prefix_length,
                transpositions=spec.fuzzy_transpositions,
                max_expansions=spec.max_expansions,
                id_col=id_col,
                text_col=spec.field,
            )
        from ..gate import bm25_scored
        from ..tokenizer import tokenize_py
        from .bm25 import parse_min_match

        clauses = sorted(set(tokenize_py(spec.query_text or "")))
        mm = parse_min_match(
            spec.operator, spec.minimum_should_match, len(clauses)
        )
        return bm25_scored(
            scoped.withColumnRenamed(id_col, "doc_id"), ["doc_id"],
            spec.query_text or "", ndp=None, min_match=mm,
        )
    if spec.query_type == "match_phrase":
        from .phrase import phrase_scored_scan

        return phrase_scored_scan(
            scoped,
            spec.query_text or "",
            id_col=id_col,
            text_col=spec.field,
            slop=spec.slop,
        )
    if spec.query_type == "match_phrase_prefix":
        from .phrase import phrase_prefix_scored_scan

        return phrase_prefix_scored_scan(
            scoped,
            spec.query_text or "",
            max_expansions=spec.max_expansions,
            id_col=id_col,
            text_col=spec.field,
        )
    if spec.query_type in ("prefix", "wildcard", "regexp", "terms"):
        from .multiterm import multiterm_scored_scan

        if spec.query_type == "terms" and spec.lookup is not None:
            raise ValueError(
                "terms lookup must be resolved before execution — route "
                "the spec through Engine.search with lookup_tables "
                "attached"
            )
        return multiterm_scored_scan(
            scoped,
            spec.values if spec.query_type == "terms" else (spec.value or ""),
            kind=spec.query_type,
            boost=spec.boost,
            id_col=id_col,
            text_col=spec.field,
        )
    if spec.query_type == "term":
        from .multiterm import term_scored_scan

        return term_scored_scan(
            scoped, spec.value or "", id_col=id_col, text_col=spec.field
        )
    if spec.query_type == "terms_set":
        from .multiterm import terms_set_scored_scan

        return terms_set_scored_scan(
            scoped,
            spec.values or [],
            spec.minimum_should_match_field,
            id_col=id_col,
            text_col=spec.field,
        )
    if spec.query_type == "distance_feature":
        from .distance_feature import distance_feature_scored

        if spec.origin is None or spec.df_pivot is None:
            raise ValueError("distance_feature needs origin and pivot")
        return distance_feature_scored(
            scoped,
            spec.field,
            spec.origin,
            spec.df_pivot,
            boost=spec.boost,
            id_col=id_col,
        )
    if spec.query_type == "rank_feature":
        from .rank_feature import rank_feature_scored

        return rank_feature_scored(
            scoped,
            spec.field,
            function=spec.rf_function,
            pivot=spec.pivot,
            scaling_factor=spec.scaling_factor,
            exponent=spec.exponent,
            boost=spec.boost,
            id_col=id_col,
        )
    if spec.query_type == "match_none":
        # MatchNoDocsQuery: the empty scored set
        return docs.sparkSession.range(0).select(
            F.col("id").alias("doc_id"),
            F.lit(0.0).cast("double").alias("score"),
        )
    if spec.query_type == "match_all":
        # MatchAllDocsQuery: every scoped doc at the constant boost —
        # ranks by doc_id ascending (constant-score collector order)
        return scoped.select(
            F.col(id_col).alias("doc_id"),
            F.lit(float(spec.boost)).alias("score"),
        )
    if spec.query_type == "ids":
        # IdsQuery: verbatim doc-id membership, constant score
        vals = [int(v) for v in (spec.values or [])]
        if not vals:
            return scoped.sparkSession.range(0).select(
                F.col("id").alias("doc_id"),
                F.lit(0.0).cast("double").alias("score"),
            )
        return scoped.filter(
            F.col(id_col).cast("long").isin(vals)
        ).select(
            F.col(id_col).alias("doc_id"),
            F.lit(float(spec.boost)).alias("score"),
        )
    if spec.query_type == "query_string":
        from .qs import query_string_scored

        return query_string_scored(
            scoped,
            spec.query_text or "",
            default_operator=spec.operator,
            default_field=spec.field,
            analyzed_fields=(
                set(spec.analyzed_fields) if spec.analyzed_fields else None
            ),
            minimum_should_match=spec.minimum_should_match,
            id_col=id_col,
        )
    if spec.query_type == "more_like_this":
        from ..gate import bm25_scored
        from .bm25 import parse_min_match
        from .mlt import (
            MLT_DEFAULTS,
            corpus_df_for,
            mlt_select,
            resolve_like,
        )

        texts = resolve_like(
            spec.like, spec.like_ids, scoped, id_col=id_col,
            text_col=spec.field,
        )
        n_docs = scoped.count()
        terms = mlt_select(
            texts,
            lambda cands: corpus_df_for(scoped, cands, text_col=spec.field),
            n_docs,
            max_query_terms=spec.max_query_terms,
            min_term_freq=spec.min_term_freq,
            min_doc_freq=spec.min_doc_freq,
            max_doc_freq=spec.max_doc_freq,
            min_word_length=spec.min_word_length,
            max_word_length=spec.max_word_length,
            stop_words=spec.stop_words or (),
        )
        if not terms:
            return scoped.sparkSession.range(0).select(
                F.col("id").alias("doc_id"),
                F.lit(0.0).cast("double").alias("score"),
            )
        msm = (
            spec.minimum_should_match
            if spec.minimum_should_match is not None
            else MLT_DEFAULTS["minimum_should_match"]
        )
        mm = parse_min_match("or", msm, len(terms))
        out = bm25_scored(
            scoped.withColumnRenamed(id_col, "doc_id"), ["doc_id"],
            " ".join(terms), ndp=None, min_match=mm,
        )
        if not spec.include and spec.like_ids:
            out = out.filter(
                ~F.col("doc_id")
                .cast("long")
                .isin([int(i) for i in spec.like_ids])
            )
        return out
    if spec.query_type == "range":
        # host RangeQueryBuilder → Lucene point/term range: constant-score
        # membership. The predicate is a plain Catalyst comparison so it
        # pushes down to the parquet/Iceberg scan (min/max page pruning) —
        # that pushdown IS the scale story for structured ranges; no
        # secondary index needed.
        bounds = [
            (spec.gt, "__gt__"), (spec.gte, "__ge__"),
            (spec.lt, "__lt__"), (spec.lte, "__le__"),
        ]
        if all(v is None for v, _ in bounds):
            raise ValueError("range query needs at least one of gt/gte/lt/lte")
        try:
            dt = scoped.schema[spec.field].dataType
        except KeyError:
            raise ValueError(f"range field {spec.field!r} not in corpus")
        pred = None
        for v, op in bounds:
            if v is None:
                continue
            p = getattr(F.col(spec.field), op)(F.lit(v).cast(dt))
            pred = p if pred is None else (pred & p)
        return scoped.filter(pred).select(
            F.col(id_col).alias("doc_id"),
            F.lit(float(spec.boost)).alias("score"),
        )
    if spec.query_type == "exists":
        # host ExistsQueryBuilder: docs with ANY value for the field —
        # null never matches (Lucene indexes no terms for a null field)
        if spec.field not in scoped.columns:
            raise ValueError(f"exists field {spec.field!r} not in corpus")
        return scoped.filter(F.col(spec.field).isNotNull()).select(
            F.col(id_col).alias("doc_id"),
            F.lit(float(spec.boost)).alias("score"),
        )
    if spec.query_type == "fuzzy":
        from .fuzzy import fuzzy_match_scored_scan

        return fuzzy_match_scored_scan(
            scoped,
            "",
            fuzziness=(
                spec.fuzziness if spec.fuzziness is not None else "AUTO"
            ),
            prefix_length=spec.prefix_length,
            transpositions=spec.fuzzy_transpositions,
            max_expansions=spec.max_expansions,
            id_col=id_col,
            text_col=spec.field,
            raw_tokens=[spec.value or ""],
        )
    if spec.query_type == "simple_query_string":
        from .sqs import sqs_scored

        return sqs_scored(
            scoped,
            spec.query_text or "",
            default_operator=spec.operator,
            id_col=id_col,
            text_col=spec.field,
        )
    if spec.query_type == "match_bool_prefix":
        # autocomplete form (MatchBoolPrefixQueryBuilder): every token a
        # SHOULD term clause except the last, which matches as a prefix
        # (constant score) — exactly the sqs fold over 'tok1 tok2 last*'
        # (tokens are [a-z0-9]+ so the rebuilt string re-analyzes to the
        # same clause list)
        from ..tokenizer import tokenize_py
        from .sqs import sqs_scored

        toks = tokenize_py(spec.query_text or "")
        if not toks:
            return docs.sparkSession.range(0).select(
                F.col("id").alias("doc_id"),
                F.lit(0.0).cast("double").alias("score"),
            )
        q = " ".join(toks[:-1] + [toks[-1] + "*"])
        return sqs_scored(
            scoped,
            q,
            default_operator=spec.operator,
            id_col=id_col,
            text_col=spec.field,
        )
    if spec.query_type == "multi_match":
        return multi_match_scored(
            scoped,
            spec.query_text or "",
            spec.fields or [spec.field],
            match_type=spec.match_type,
            tie_breaker=spec.tie_breaker,
            id_col=id_col,
            slop=spec.slop,
            max_expansions=spec.max_expansions,
        )
    raise ValueError(f"unknown query type: {spec.query_type}")


def multi_match_scored(
    docs: DataFrame,
    query_text: str,
    fields: list[str],
    match_type: str = "best_fields",
    tie_breaker: float = 0.0,
    id_col: str = "doc_id",
    slop: int = 0,
    max_expansions: int = 50,
) -> DataFrame:
    """multi_match → (doc_id, score): each field scored as its OWN
    sub-query with its own statistics (per-field n_docs/avgdl/df — Lucene
    keeps statistics per field), boost multiplied, then combined in ONE
    doc-keyed aggregation. The reference host's six multi_match types:

    * best_fields (DisjunctionMaxQuery): max + tie_breaker · (sum − max);
    * most_fields (bool should): plain sum;
    * cross_fields: term-centric blended-df combine — delegated to
      ``query.multimatch.cross_fields_scored`` (BlendedTermQuery
      semantics);
    * phrase / phrase_prefix / bool_prefix: each field runs the
      corresponding sub-query (match_phrase with ``slop``,
      match_phrase_prefix with ``max_expansions``, match_bool_prefix),
      combined dis-max + tie_breaker — the MultiMatchQuery field-centric
      DisjunctionMaxQuery build.

    "name^2.5" field syntax carries the boost, like the reference host's
    multi_match."""
    if match_type == "cross_fields":
        from .multimatch import cross_fields_scored

        return cross_fields_scored(
            docs, query_text, fields, tie_breaker=tie_breaker, id_col=id_col
        )
    if match_type not in (
        "best_fields",
        "most_fields",
        "phrase",
        "phrase_prefix",
        "bool_prefix",
    ):
        raise ValueError(
            f"multi_match type must be best_fields|most_fields|"
            f"cross_fields|phrase|phrase_prefix|bool_prefix, got "
            f"{match_type!r}"
        )
    from ..gate import bm25_scored

    if not fields:
        raise ValueError("multi_match needs at least one field")
    base = docs.withColumnRenamed(id_col, "doc_id")

    def field_scored(name: str) -> DataFrame:
        scoped = base.select("doc_id", F.col(name).alias("text"))
        if match_type == "phrase":
            from .phrase import phrase_scored_scan

            return phrase_scored_scan(scoped, query_text, slop=slop)
        if match_type == "phrase_prefix":
            from .phrase import phrase_prefix_scored_scan

            return phrase_prefix_scored_scan(
                scoped, query_text, max_expansions=max_expansions
            )
        if match_type == "bool_prefix":
            from ..tokenizer import tokenize_py
            from .sqs import sqs_scored

            toks = tokenize_py(query_text)
            if not toks:
                return scoped.sparkSession.range(0).select(
                    F.col("id").alias("doc_id"),
                    F.lit(0.0).cast("double").alias("score"),
                )
            q = " ".join(toks[:-1] + [toks[-1] + "*"])
            return sqs_scored(scoped, q)
        return bm25_scored(scoped, ["doc_id"], query_text, ndp=None)

    from .multimatch import parse_field_boosts

    tall = None
    for name, b in parse_field_boosts(fields):
        sc = field_scored(name).select(
            "doc_id", (F.col("score") * b).alias("score")
        )
        tall = sc if tall is None else tall.unionAll(sc)
    agg = tall.groupBy("doc_id").agg(
        F.max("score").alias("mx"), F.sum("score").alias("sm")
    )
    if match_type == "most_fields":
        return agg.select("doc_id", F.col("sm").alias("score"))
    # best_fields and the phrase/prefix family are all field-centric
    # DisjunctionMaxQuery builds: max + tie_breaker · rest
    return agg.select(
        "doc_id",
        (
            F.col("mx") + F.lit(tie_breaker) * (F.col("sm") - F.col("mx"))
        ).alias("score"),
    )


# ---------------------------------------------------------------------------
# field sort + search_after
# ---------------------------------------------------------------------------
def _lex_after(sort_cols: list[tuple[str, str]], after: list) -> Column:
    """Lexicographic (sort tuple) > (after tuple) predicate, honoring each
    column's direction — the PagingFieldCollector contract."""
    pred = None
    prefix_eq = None
    for (c, direction), av in zip(sort_cols, after):
        col = F.col(c)
        strict = col < F.lit(av) if direction == "desc" else col > F.lit(av)
        clause = strict if prefix_eq is None else prefix_eq & strict
        pred = clause if pred is None else pred | clause
        eq = col == F.lit(av)
        prefix_eq = eq if prefix_eq is None else prefix_eq & eq
    return pred


def sort_topk(
    df: DataFrame,
    sort_cols: list[tuple[str, str]],
    k: int,
    search_after: list | None = None,
    tiebreak: str = "doc_id",
) -> DataFrame:
    """Field-sorted top-k with optional search_after pagination. The
    search_after predicate is a plain filter — Catalyst pushes it to the
    scan, so deep pagination never re-collects earlier pages."""
    cols = sort_cols + [(tiebreak, "asc")]
    if search_after is not None:
        if len(search_after) != len(cols):
            raise ValueError(
                "search_after must provide one value per sort column "
                "(including the doc_id tiebreak)"
            )
        df = df.filter(_lex_after(cols, search_after))
    order = [
        F.desc(c) if d == "desc" else F.asc(c) for c, d in cols
    ]
    w = topk_rank_window(*order)
    return (
        df.orderBy(*order).limit(k).withColumn("rank", F.row_number().over(w).cast("int"))
    )
