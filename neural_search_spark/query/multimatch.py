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

One kernel serves all three. A spec is ``(query_id, per-field tids,
idfs, boosts)``, planned once by ``_plan`` for both entries, and
``_combine`` turns a spec plus a ``contrib(fid, tid) → (ids, tf-norm)``
source into ``(ids, combined)``. The two routes differ only in the
source:

* **driver** (auto when the query's total Σdf across fields is under
  ``DRIVER_MAX_POSTINGS``): each field's driver cache is filled by one
  pyarrow read, then serves every term's tf-norms — zero Spark jobs.
* **distributed**: the shard function of ``multi_match_topk_batch`` with
  one spec. The per-field postings union is grouped by shard and each
  task decodes its rows once per (field, term) and combines every spec
  locally; the per-query window takes the global top-k.

Why a doc's combine is complete inside one group: ``shard_id`` is
``pmod(xxhash64(doc_id, 7), n)``, a function of the doc id alone. The
kernel groups by ``pmod(shard_id, g)`` with ``g`` the gcd of the
fields' ``n_shards``; since ``g`` divides every ``n``,
``pmod(pmod(h, n), g) == pmod(h, g)``, so every field's postings for a
doc land in the same group whatever mix of layouts the fields use. When
the layouts match, ``g == n_shards`` and the group key is ``shard_id``
itself.

``multi_match_field_topk`` (types phrase and bool_prefix) and SAYT
combine per-field top-k pages instead of postings: ``_dismax_union_topk``
collects the ≤k-row pages and runs the same combine on the driver.

Deletes: each field index's tombstone set masks during decode (Lucene
liveDocs), same contract as ``bm25_topk``.
"""

from __future__ import annotations

import math
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.build import tid_py
from ..index.cache import evict_fifo
from ..ranking import batch_page, empty_batch_page, local_page, sorted_union
from ..tokenizer import tokenize_py
from .bm25 import (
    BATCH_TOPK_SCHEMA,
    BM25Index,
    _decode_tfn,
    _driver_accumulate,
    _fill_driver_cache,
    driver_route,
    lucene_idf,
)

_NONE = (np.empty(0, np.int64), np.empty(0))


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


class MatchSpec(NamedTuple):
    """One query of the kernel: per field (in field order) its in-vocabulary
    tids and their idfs, and the field's boost."""

    query_id: str
    tids: list[list[int]]
    idfs: list[dict[int, float]]
    boosts: list[float]


def _plan(
    field_indexes: dict[str, BM25Index],
    queries: list[tuple[str, str]],
    fields: list[str],
    match_type: str,
) -> tuple[list[BM25Index], list[dict[str, int]], list[MatchSpec]]:
    """Resolve a batch of (query_id, text) pairs against the per-field
    dictionaries → (indexes, per-field {term: df} over the batch
    vocabulary, specs of the queries with at least one in-vocabulary
    term). Each field's idfs come from its own statistics; cross_fields
    blends them instead — max df and max n_docs across the fields — so a
    term carries ONE idf everywhere (the corpus twin's single-n_docs
    semantics; per-field indexes over one corpus have equal n_docs)."""
    if match_type not in ("best_fields", "most_fields", "cross_fields"):
        raise ValueError(
            f"multi_match type must be best_fields|most_fields|"
            f"cross_fields, got {match_type!r}"
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
        if any(idfs):
            specs.append(MatchSpec(qid, [list(d) for d in idfs], idfs, boosts))
    return indexes, stats, specs


def _fold(
    parts: list[tuple[np.ndarray, np.ndarray]], tie_breaker: float | None
) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc combine of (ids, scores) parts → (ids, combined): the sum,
    or with a tie_breaker the dis-max ``max + tie_breaker · (sum − max)``.
    A part lists each doc once (a term's postings, a page), so a lone
    part is already its own combine."""
    if len(parts) < 2:
        return parts[0] if parts else _NONE
    all_ids = np.concatenate([p[0] for p in parts])
    all_sc = np.concatenate([p[1] for p in parts])
    uniq, inv = sorted_union(all_ids)
    sm = np.bincount(inv, weights=all_sc, minlength=len(uniq))
    if tie_breaker is None:
        return uniq, sm
    mx = np.full(len(uniq), -np.inf)
    np.maximum.at(mx, inv, all_sc)
    return uniq, mx + tie_breaker * (sm - mx)


def _combine(
    spec: MatchSpec, contrib, match_type: str, tie_breaker: float
) -> tuple[np.ndarray, np.ndarray]:
    """One spec's per-doc multi_match scores from a ``contrib(fid, tid)
    → (ids, tf-norm)`` source → (ids, combined float64).

    best_fields / most_fields: each field sums idf · tf-norm over its
    terms and multiplies by its boost, then the fields dis-max (+
    tie_breaker) or sum. cross_fields: each term dis-maxes the fields'
    idf · tf-norm · boost (+ tie_breaker), then the terms sum."""
    if match_type == "cross_fields":
        per_term = []
        for tid in dict.fromkeys(t for tids in spec.tids for t in tids):
            parts = []
            for fid, idfs in enumerate(spec.idfs):
                if tid in idfs:
                    ids, tfn = contrib(fid, tid)
                    parts.append((ids, idfs[tid] * tfn * spec.boosts[fid]))
            per_term.append(_fold(parts, tie_breaker))
        return _fold(per_term, None)
    per_field = []
    for fid, tids in enumerate(spec.tids):
        parts = []
        for tid in tids:
            ids, tfn = contrib(fid, tid)
            parts.append((ids, spec.idfs[fid][tid] * tfn))
        ids, sm = _fold(parts, None)
        per_field.append((ids, sm * spec.boosts[fid]))
    return _fold(
        per_field, None if match_type == "most_fields" else tie_breaker
    )


def _top(
    ids: np.ndarray, combined: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k of combined scores, float32 desc / doc_id asc."""
    f32 = combined.astype(np.float32)
    sel = np.lexsort((ids, -f32.astype(np.float64)))[:k]
    return ids[sel], f32[sel]


def _shard_topk(
    indexes: list[BM25Index],
    stats: list[dict[str, int]],
    specs: list[MatchSpec],
    match_type: str,
    tie_breaker: float,
    k: int,
) -> DataFrame:
    """The shard function: every spec from ONE grouped pass over the
    union of the fields' postings → (query_id, doc_id, score) rows, a
    local top-k per spec and group. Groups are ``pmod(shard_id, g)`` with
    ``g`` the gcd of the fields' n_shards (why that is exact: the module
    docstring). Decoded (field, term) tf-norms are shared by every spec
    of the batch."""
    params = [(ix.k1, ix.b, ix.avgdl, ix.deletes) for ix in indexes]

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        fid_arr = pdf["fid"].to_numpy(dtype=np.int64)
        tid_arr = pdf["tid"].to_numpy(dtype=np.int64)
        cache: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}

        def contrib(fid, tid):
            got = cache.get((fid, tid))
            if got is None:
                rows = pdf[(fid_arr == fid) & (tid_arr == tid)]
                got = _decode_tfn(rows, *params[fid]) if len(rows) else _NONE
                cache[(fid, tid)] = got
            return got

        qids, ids, scores = [], [], []
        for spec in specs:
            top_ids, top_sc = _top(
                *_combine(spec, contrib, match_type, tie_breaker), k
            )
            qids += [spec.query_id] * len(top_ids)
            ids.append(top_ids)
            scores.append(top_sc)
        return pd.DataFrame(
            {
                "query_id": pd.Series(qids, dtype=str),
                "doc_id": np.concatenate(ids),
                "score": np.concatenate(scores),
            }
        )

    g = math.gcd(*(ix.n_shards for ix in indexes))
    blocks = None
    for fid, (index, st) in enumerate(zip(indexes, stats)):
        if not st:
            continue
        shard = F.col("shard_id")
        if index.n_shards != g:
            shard = F.pmod(shard, F.lit(g)).alias("shard_id")
        part = index.postings_for(sorted(st)).select(
            shard, "tid", "docs", "tfs", "dls",
            F.lit(fid).cast("long").alias("fid"),
        )
        blocks = part if blocks is None else blocks.unionAll(part)
    return blocks.groupBy("shard_id").applyInPandas(
        score_shard, BATCH_TOPK_SCHEMA
    )


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

    mode: 'auto' (driver combine when the total Σdf across all fields is
    at most DRIVER_MAX_POSTINGS), 'driver', or 'distributed' (the batch
    kernel with this one spec)."""
    indexes, stats, specs = _plan(
        field_indexes, [("", query_text)], fields, match_type
    )
    spark = indexes[0].spark
    if not specs:
        return local_page(spark, [], np.float32([]))
    if not driver_route(mode, sum(sum(st.values()) for st in stats)):
        return batch_page(
            _shard_topk(indexes, stats, specs, match_type, tie_breaker, k), k
        ).select("doc_id", "score", "rank")
    spec = specs[0]
    # ONE batched pyarrow read fills each field's driver cache for every
    # query term; the per-term accumulates below read the cache
    for index, tids in zip(indexes, spec.tids):
        _fill_driver_cache(index, tids)

    def contrib(fid, tid):
        ids, tfn, _n = _driver_accumulate(indexes[fid], {tid: 1.0})
        return ids, tfn

    ids, scores = _top(*_combine(spec, contrib, match_type, tie_breaker), k)
    for index in indexes:
        evict_fifo(
            index._driver_cache,
            index.driver_cache_terms,
            index.driver_cache_bytes,
        )
    return local_page(spark, ids, scores)


def multi_match_topk_batch(
    field_indexes: dict[str, BM25Index],
    queries: list[tuple[str, str]],
    fields: list[str],
    match_type: str = "best_fields",
    tie_breaker: float = 0.0,
    k: int = 10,
) -> DataFrame:
    """multi_match for a BATCH of queries in ONE Spark job — the msearch /
    cluster-throughput shape, the multi-field sibling of
    ``bm25.bm25_topk_batch``.

    queries: [(query_id, query_text)] → (query_id, doc_id, score, rank).
    The shard function (``_shard_topk``) finishes each doc's cross-field
    combine inside its group, so the global merge is the same small
    per-query window the single-field batch uses. Queries with no
    in-vocabulary term in any field have no rows."""
    indexes, stats, specs = _plan(field_indexes, queries, fields, match_type)
    if not specs:
        return empty_batch_page(indexes[0].spark)
    return batch_page(
        _shard_topk(indexes, stats, specs, match_type, tie_breaker, k), k
    )


def _dismax_union_topk(
    spark: SparkSession, pages: list[tuple[DataFrame, float]], k: int
) -> DataFrame:
    """(page, boost) per field → the boosted dis-max (tie_breaker=0) top-k
    page. Each page is that field's own top-k, so the result is exact by
    containment: a doc in the global top-k is inside the top-k of the
    field achieving its max, and a non-negative boost keeps each field's
    order. The ≤k-row pages are collected (no Spark job when they are
    driver pages) and combined on the driver by ``_combine``, each page
    acting as one term of its field."""
    rows = [page.select("doc_id", "score").collect() for page, _ in pages]
    spec = MatchSpec(
        "", [[0]] * len(pages), [{0: 1.0}] * len(pages), [b for _, b in pages]
    )

    def contrib(fid, _tid):
        return (
            np.array([r[0] for r in rows[fid]], dtype=np.int64),
            np.array([r[1] for r in rows[fid]], dtype=np.float64),
        )

    return local_page(
        spark, *_top(*_combine(spec, contrib, "best_fields", 0.0), k)
    )


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


