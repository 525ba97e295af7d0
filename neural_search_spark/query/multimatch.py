"""Index-backed multi_match: per-field BM25 over per-field block indexes.

Reference semantics (the OpenSearch host behavior the reference's hybrid
branches compose with, same contract as the corpus twin
``query/neural.multi_match_scored``): statistics live per field — each
field is its own inverted index with its own n_docs / avgdl / df, exactly
like a Lucene segment's per-field terms dictionary — each field scores the
query as its own BM25 match, the ``name^boost`` boost multiplies that
field's score, and the per-doc combine is

* ``best_fields`` — DisjunctionMaxQuery: ``max + tie_breaker · (sum − max)``;
* ``most_fields`` — bool-should sum;
* ``cross_fields`` — term-centric: per term, the dis-max of the fields'
  contributions under ONE blended idf (max df and max n_docs across the
  fields), then a sum over terms.

A query is a tree of the BM25 kernels (``query/bm25.py``) over the field
indexes, one handle per field, planned by ``_plan``: a leaf per (field,
term) weighted by the term's idf, a ``Sum`` per field scaled by its
boost, and then a ``DisMax`` of the field sums (best_fields), a ``Sum``
of them (most_fields), or a ``Sum`` of per-term ``DisMax`` nodes over
one-leaf field sums (cross_fields). Every product is idf · tf-norm, then
× boost. A single query is its batch with one spec, and both run BM25's
two routes: the driver evaluator when the Σdf over every field is at
most ``DRIVER_MAX_POSTINGS`` (zero Spark jobs), else the MaxScore shard
function over the union of the fields' postings, grouped by a key that
keeps each doc's postings of every field together whatever mix of
n_shards the fields use (``bm25._shard_scored``).

``multi_match_field_topk`` (types phrase and bool_prefix) and SAYT
combine per-field top-k pages instead of postings: ``_dismax_union_topk``
runs the driver evaluator over the pages' entries, each page a leaf.

Deletes: each field index's tombstone set masks during decode (Lucene
liveDocs), same contract as ``bm25_topk``.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.build import tid_py
from ..ranking import empty_batch_page, local_page
from ..tokenizer import tokenize_py
from .bm25 import (
    BM25Index,
    DisMax,
    Leaf,
    Sum,
    _ranked,
    _tree_batch_page,
    _tree_page,
    driver_route,
    lucene_idf,
)


def parse_field_boosts(fields: list[str]) -> list[tuple[str, float]]:
    """Split the host's ``"name^2.5"`` field syntax into (name, boost).
    A negative or non-finite boost raises ValueError, as Lucene's
    ``BoostQuery`` does — the per-field top-k unions are exact only for
    non-negative boosts."""
    out = []
    for f in fields:
        name, _, raw = f.partition("^")
        boost = float(raw) if raw else 1.0
        if not math.isfinite(boost) or math.copysign(1.0, boost) < 0:
            raise ValueError(
                f"field boost must be a non-negative finite number, got {f!r}"
            )
        out.append((name, boost))
    return out


def _field_index_list(
    field_indexes: dict[str, BM25Index], fields: list[str]
) -> tuple[list[BM25Index], list[float]]:
    """(index, boost) per named field, in field order."""
    fb = parse_field_boosts(fields)
    if not fb:
        raise ValueError("multi_match needs at least one field")
    for name, _ in fb:
        if name not in field_indexes:
            raise KeyError(
                f"multi_match field {name!r} has no attached index "
                f"(have: {sorted(field_indexes)})"
            )
    return [field_indexes[n] for n, _ in fb], [b for _, b in fb]


def _plan(
    field_indexes: dict[str, BM25Index],
    queries: list[tuple[str, str]],
    fields: list[str],
    match_type: str,
    tie_breaker: float,
) -> tuple[list[BM25Index], int, list[tuple[str, object]]]:
    """Resolve a batch of (query_id, text) pairs against the per-field
    dictionaries → (indexes, Σdf of the batch vocabulary over every
    field, a (query_id, tree) spec per query with at least one
    in-vocabulary term). Each field's idfs come from its own
    statistics; cross_fields blends them instead — max df and max
    n_docs across the fields — so a term carries ONE idf everywhere (the
    corpus twin's single-n_docs semantics; per-field indexes over one
    corpus have equal n_docs)."""
    if match_type not in ("best_fields", "most_fields", "cross_fields"):
        raise ValueError(
            f"multi_match type must be best_fields|most_fields|"
            f"cross_fields, got {match_type!r}"
        )
    if not 0.0 <= tie_breaker <= 1.0:
        # Lucene's DisjunctionMaxQuery rejects it too; the kernels prune
        # on the dis-max being monotone
        raise ValueError(
            f"multi_match tie_breaker must be in [0, 1], got {tie_breaker!r}"
        )
    indexes, boosts = _field_index_list(field_indexes, fields)
    q_terms = {qid: sorted(set(tokenize_py(text))) for qid, text in queries}
    all_terms = sorted({t for ts in q_terms.values() for t in ts})
    stats = [index.term_stats(all_terms) for index in indexes]
    if match_type == "cross_fields":
        bdf: dict[str, int] = {}
        for st in stats:
            for t, df in st.items():
                bdf[t] = max(bdf.get(t, 0), df)
        n_docs = max(index.n_docs for index in indexes)
        idf_of = [{t: lucene_idf(n_docs, bdf[t]) for t in st} for st in stats]
    else:
        idf_of = [
            {t: lucene_idf(index.n_docs, df) for t, df in st.items()}
            for index, st in zip(indexes, stats)
        ]
    specs = []
    for qid, ts in q_terms.items():
        idfs = [{tid_py(t): f[t] for t in ts if t in f} for f in idf_of]
        if not any(idfs):
            continue
        if match_type == "cross_fields":
            root = Sum(tuple(
                DisMax(
                    tuple(
                        Sum((Leaf(h, tid, d[tid]),), 1, boosts[h])
                        for h, d in enumerate(idfs) if tid in d
                    ),
                    tie_breaker,
                )
                for tid in dict.fromkeys(t for d in idfs for t in d)
            ))
        else:
            per_field = tuple(
                Sum(tuple(Leaf(h, t, w) for t, w in d.items()), 1, boosts[h])
                for h, d in enumerate(idfs) if d
            )
            root = (
                Sum(per_field) if match_type == "most_fields"
                else DisMax(per_field, tie_breaker)
            )
        specs.append((qid, root))
    return indexes, sum(sum(st.values()) for st in stats), specs


def multi_match_index_topk(
    field_indexes: dict[str, BM25Index],
    query_text: str,
    fields: list[str],
    match_type: str = "best_fields",
    tie_breaker: float = 0.0,
    k: int = 10,
    mode: str = "auto",
) -> DataFrame:
    """multi_match served from per-field block indexes →
    (doc_id, score, rank), rank-ordered score desc / doc_id asc like every
    index kernel (float32 final cast, so ties match the other paths).

    match_type: best_fields, most_fields or cross_fields (the term-centric
    blended-df combine, see ``cross_fields_scored``). The fields' indexes
    may use any mix of n_shards.

    mode: 'auto' (the driver evaluator when the total Σdf across all
    fields is at most DRIVER_MAX_POSTINGS), 'driver', or 'distributed'
    — the batch kernels with this one spec."""
    indexes, sum_df, specs = _plan(
        field_indexes, [("", query_text)], fields, match_type, tie_breaker
    )
    if not specs:
        return local_page(indexes[0].spark, [], np.float32([]))
    if driver_route(mode, sum_df):
        return _tree_page(indexes, specs, k, True)
    return _tree_batch_page(indexes, specs, k, False).select(
        "doc_id", "score", "rank"
    )


def multi_match_topk_batch(
    field_indexes: dict[str, BM25Index],
    queries: list[tuple[str, str]],
    fields: list[str],
    match_type: str = "best_fields",
    tie_breaker: float = 0.0,
    k: int = 10,
) -> DataFrame:
    """multi_match for a BATCH of queries — the msearch /
    cluster-throughput shape, the multi-field sibling of
    ``bm25.bm25_topk_batch``, on the same two routes: below the Σdf gate
    the driver evaluator scores every spec into one local page (no Spark
    job), above it the shard function scores them all in one job and a
    per-query window takes the global top-k.

    queries: [(query_id, query_text)] → (query_id, doc_id, score, rank).
    Queries with no in-vocabulary term in any field have no rows."""
    indexes, sum_df, specs = _plan(
        field_indexes, queries, fields, match_type, tie_breaker
    )
    if not specs:
        return empty_batch_page(indexes[0].spark)
    return _tree_batch_page(indexes, specs, k, driver_route("auto", sum_df))


def _dismax_union_topk(
    spark: SparkSession, pages: list[tuple[DataFrame, float]], k: int
) -> DataFrame:
    """(page, boost) per field → the boosted dis-max (tie_breaker=0) top-k
    page. Each page is that field's own top-k, so the result is exact by
    containment: a doc in the global top-k is inside the top-k of the
    field achieving its max, and a non-negative boost keeps each field's
    order. The driver evaluator combines the ≤k-row pages' Arrow entries
    (no JVM call when they are driver pages), each page one leaf of its
    field's sum."""
    entries = [page.toArrow() for page, _b in pages]
    root = DisMax(tuple(
        Sum((Leaf(h, 0, 1.0),), 1, boost)
        for h, (_p, boost) in enumerate(pages)
    ))

    def value(leaf):
        t = entries[leaf.h]
        return t["doc_id"].to_numpy(), t["score"].to_numpy().astype(np.float64)

    _q, ids, scores = _ranked([("", root)], k, value)
    return local_page(spark, ids, scores)


def multi_match_field_topk(
    field_indexes: dict[str, BM25Index],
    query_text: str,
    fields: list[str],
    match_type: str,
    k: int = 10,
    slop: int = 0,
    mode: str = "auto",
) -> DataFrame:
    """Index-served field-centric multi_match for the 'phrase' and
    'bool_prefix' types (tie_breaker=0 — the host default for these):
    each field's OWN index kernel produces its top-k (match_phrase needs
    that field's positions sidecar; match_bool_prefix its dictionary),
    and ``_dismax_union_topk`` combines the boosted pages. Raises if a
    phrase field's index lacks positions."""
    if match_type not in ("phrase", "bool_prefix"):
        raise ValueError(
            f"index-served field-centric types are phrase|bool_prefix, "
            f"got {match_type!r}"
        )
    indexes, boosts = _field_index_list(field_indexes, fields)
    pages = []
    for index, boost in zip(indexes, boosts):
        if match_type == "phrase":
            from .phrase import phrase_topk

            page = phrase_topk(index, query_text, k=k, mode=mode, slop=slop)
        else:
            from .multiterm import match_bool_prefix_topk

            page = match_bool_prefix_topk(index, query_text, k=k, mode=mode)
        pages.append((page, boost))
    return _dismax_union_topk(indexes[0].spark, pages, k)


def cross_fields_scored(
    docs: DataFrame,
    query_text: str,
    fields: list[str],
    tie_breaker: float = 0.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """multi_match type=cross_fields off the corpus → (doc_id, score):
    the TERM-centric combine (Lucene BlendedTermQuery under the
    cross_fields rewrite — reference host behavior, contrast with the
    field-centric best_fields/most_fields in
    ``query/neural.multi_match_scored``):

    * every query term's document frequency is BLENDED to the max across
      the fields (BlendedTermQuery.rewrite's adjusted df), so a term rare
      in one field but common in another scores with ONE idf everywhere —
      the fix for the "operator=and across first_name/last_name" problem
      cross_fields exists for;
    * per (doc, term): dis-max over the fields' tf-norms × boost
      (+ tie_breaker · rest);
    * per doc: sum over terms (bool SHOULD).

    Pure Catalyst: one tokenize pass per field, per-(term, field) df
    aggregation, blended df broadcast back, then (doc, term) → doc
    aggregations."""
    from .. import BM25_B, BM25_K1
    from ..tokenizer import tokenize_expr

    spark = docs.sparkSession
    fb = parse_field_boosts(fields)
    if not fb:
        raise ValueError("multi_match needs at least one field")
    terms = sorted(set(tokenize_py(query_text)))
    base = docs.withColumnRenamed(id_col, "doc_id")
    if not terms:
        return local_page(spark, [], []).drop("rank")
    qdf = spark.createDataFrame(pd.DataFrame({"term": terms}))
    n_docs = base.count()
    tall = None
    for fid, (name, boost) in enumerate(fb):
        toks = base.select(
            "doc_id", tokenize_expr(name).alias("toks")
        ).withColumn("dl", F.size("toks"))
        row = toks.agg(F.avg("dl").alias("a")).collect()[0]
        avgdl_f = float(row["a"] or 0.0) or 1.0
        tf = (
            toks.select("doc_id", "dl", F.explode("toks").alias("term"))
            .join(F.broadcast(qdf), "term")
            .groupBy("doc_id", "dl", "term")
            .agg(F.count("*").alias("tf"))
        )
        part = tf.select(
            "doc_id",
            "term",
            (
                F.lit(boost)
                * F.col("tf")
                / (
                    F.col("tf")
                    + F.lit(BM25_K1)
                    * (1.0 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl_f))
                )
            ).alias("wnorm"),
        )
        tall = part if tall is None else tall.unionAll(part)
        # per-field df = this field's (doc, term) row count; blending
        # must take the MAX across fields, never the sum, so each field
        # aggregates separately before the blend
        d = tf.groupBy("term").agg(F.count("*").alias("df"))
        dfs = d if fid == 0 else dfs.unionAll(d)
    blended = dfs.groupBy("term").agg(F.max("df").alias("bdf"))
    per_term = (
        tall.join(F.broadcast(blended), "term")
        .withColumn(
            "contrib",
            F.log(
                1.0
                + (F.lit(n_docs) - F.col("bdf") + 0.5) / (F.col("bdf") + 0.5)
            )
            * F.col("wnorm"),
        )
        .groupBy("doc_id", "term")
        .agg(F.max("contrib").alias("mx"), F.sum("contrib").alias("sm"))
        .withColumn(
            "tcontrib",
            F.col("mx") + F.lit(tie_breaker) * (F.col("sm") - F.col("mx")),
        )
    )
    return per_term.groupBy("doc_id").agg(
        F.sum("tcontrib").alias("score")
    )


