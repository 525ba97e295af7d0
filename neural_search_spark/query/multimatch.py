"""Index-backed multi_match: per-field BM25 over per-field block indexes.

Reference semantics (the OpenSearch host behavior the reference's hybrid
branches compose with, same contract as the corpus twin
``query/neural.multi_match_scored``): statistics live per field — each
field is its own inverted index with its own n_docs / avgdl / df, exactly
like a Lucene segment's per-field terms dictionary — each field scores the
query as its own BM25 match, the ``name^boost`` boost multiplies that
field's score, and the per-doc combine is

* ``best_fields`` — DisjunctionMaxQuery: ``max + tie_breaker · (sum − max)``;
* ``most_fields`` — bool-should sum.

This module serves those scores from ATTACHED per-field indexes without
touching the corpus, closing the one query type that previously always
corpus-scanned even with indexes available.

Execution strategy (100-TB notes):

* **driver mode** (auto when the query's total Σdf across fields is under
  ``DRIVER_MAX_POSTINGS``): every field's full matched set decodes through
  that index's bounded driver cache (the coordinator cheap-query pattern
  shared with ``bm25_topk``), and the combine is one numpy pass — zero
  Spark jobs on the hot serving path.
* **distributed, best_fields with tie_breaker == 0** (the OpenSearch
  default): per-field MaxScore-pruned ``bm25_topk`` → union → one doc-keyed
  max. EXACT by containment: if doc d is in the global dis-max top-k, then
  in the field f achieving d's max there cannot be k docs with a higher
  f-score (each would out-rank d globally), so d is inside f's own top-k
  list and its max survives the union. A positive boost rescales a field's
  scores monotonically, so per-field pruning order is unchanged. No full
  postings decode anywhere — the Spark analog of running block-max WAND
  under a DisjunctionMaxQuery.
* **distributed, general** (``most_fields`` or ``tie_breaker > 0``): the
  combined score needs every candidate's OTHER-field scores, which
  truncated per-field lists cannot provide. Decode each field's postings
  for the query terms only (bounded by Σdf — the bytes any disjunctive
  scorer reads), partially aggregate per doc INSIDE each mapInPandas task
  (map-side combine), then ONE doc_id shuffle where each field lands as a
  conditional sum — a single exchange regardless of the field count.

Deletes: each field index's tombstone set masks during decode (Lucene
liveDocs), same contract as ``bm25_topk``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.build import tid_py
from ..ranking import batch_page, empty_batch_page, local_page, topk_page
from ..tokenizer import tokenize_py
from .bm25 import (
    BATCH_TOPK_SCHEMA,
    BM25Index,
    _decode_tfn,
    _driver_scored_all,
    bm25_topk,
    driver_route,
    lucene_idf,
)


def parse_field_boosts(fields: list[str]) -> list[tuple[str, float]]:
    """Split the host's ``"name^2.5"`` field syntax into (name, boost)."""
    out = []
    for f in fields:
        name, _, boost = f.partition("^")
        out.append((name, float(boost) if boost else 1.0))
    return out


def _field_plan(index: BM25Index, query_text: str):
    """Per-field query resolution: in-vocabulary terms, their idfs (this
    field's own statistics), the field's Σdf cost bound, and the raw
    df stats (cross_fields blends these across fields)."""
    clauses = sorted(set(tokenize_py(query_text)))
    stats = index.term_stats(clauses)
    terms = [t for t in clauses if t in stats]
    idfs = {tid_py(t): lucene_idf(index.n_docs, stats[t]) for t in terms}
    return terms, idfs, sum(stats[t] for t in terms), stats


def _scored_partial_index(
    index: BM25Index, terms: list[str], idfs: dict[int, float], boost: float
) -> DataFrame:
    """Full matched set of one field, partially aggregated per task:
    (doc_id, score·boost) with NO shuffle — a doc may appear once per
    posting partition; the caller's single doc_id aggregation finishes the
    sum. Work is bounded by this field's Σdf."""
    k1, b, avgdl = index.k1, index.b, index.avgdl
    deletes = index.deletes

    def decode_part(it):
        for pdf in it:
            if pdf.empty:
                continue
            ids_parts, sc_parts = [], []
            for t, g in pdf.groupby("tid", sort=False):
                ids, tfn = _decode_tfn(g, k1, b, avgdl, deletes)
                ids_parts.append(ids)
                sc_parts.append(idfs[t] * tfn)
            if not ids_parts:
                continue
            all_ids = np.concatenate(ids_parts)
            acc_ids, inv = np.unique(all_ids, return_inverse=True)
            acc_sc = np.bincount(
                inv,
                weights=np.concatenate(sc_parts),
                minlength=len(acc_ids),
            )
            yield pd.DataFrame(
                {"doc_id": acc_ids, "score": acc_sc * boost}
            )

    return index.postings_for(terms).select(
        "tid", "docs", "tfs", "dls"
    ).mapInPandas(decode_part, "doc_id long, score double")


def _combine_np(
    parts: list[tuple[np.ndarray, np.ndarray]],
    match_type: str,
    tie_breaker: float,
) -> tuple[np.ndarray, np.ndarray]:
    """Driver combine: per-field (ids, boosted scores) → (ids, combined)."""
    all_ids = np.concatenate([p[0] for p in parts])
    all_sc = np.concatenate([p[1] for p in parts])
    uniq, inv = np.unique(all_ids, return_inverse=True)
    sm = np.bincount(inv, weights=all_sc, minlength=len(uniq))
    if match_type == "most_fields":
        return uniq, sm
    mx = np.full(len(uniq), -np.inf)
    np.maximum.at(mx, inv, all_sc)
    return uniq, mx + tie_breaker * (sm - mx)


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

    match_type 'cross_fields' uses the term-centric blended-df combine
    (see ``cross_fields_scored``); its distributed form runs through the
    co-partitioned batch kernel, so it needs the per-field indexes built
    with one n_shards (driver mode has no such constraint).

    mode: 'auto' (driver numpy combine when the total Σdf across all
    fields is at most DRIVER_MAX_POSTINGS), 'driver', or 'distributed'."""
    if match_type not in ("best_fields", "most_fields", "cross_fields"):
        raise ValueError(
            f"multi_match type must be best_fields|most_fields|"
            f"cross_fields, got {match_type!r}"
        )
    if not fields:
        raise ValueError("multi_match needs at least one field")
    plan = []
    spark = None
    for name, boost in parse_field_boosts(fields):
        if name not in field_indexes:
            raise KeyError(
                f"multi_match field {name!r} has no attached index "
                f"(have: {sorted(field_indexes)})"
            )
        index = field_indexes[name]
        spark = index.spark
        terms, idfs, sdf, stats = _field_plan(index, query_text)
        if terms:
            plan.append((index, boost, terms, idfs, sdf, stats))

    def _empty() -> DataFrame:
        return local_page(spark, [], np.float32([]))

    if not plan:
        return _empty()
    total_sdf = sum(p[4] for p in plan)
    driver = driver_route(mode, total_sdf)

    if driver:
        if match_type == "cross_fields":
            # term-centric: per term, dis-max the fields' blended-idf
            # contributions, then sum terms per doc. n_docs blends like
            # df (max across fields) so a term gets ONE idf everywhere —
            # the corpus twin's single-n_docs semantics (per-field
            # indexes over one corpus have equal n_docs anyway)
            bdf: dict[str, int] = {}
            for _i, _b, terms, _idfs, _s, stats in plan:
                for t in terms:
                    bdf[t] = max(bdf.get(t, 0), stats[t])
            n_docs_blend = max(p[0].n_docs for p in plan)
            term_parts: dict[str, list] = {}
            for index, boost, terms, _idfs, _s, _st in plan:
                # ONE batched pyarrow read fills this field's driver
                # cache for every query term; the per-term calls below
                # then decode from the LRU instead of re-scanning
                all_tids = [tid_py(t) for t in terms]
                _driver_scored_all(
                    index, {t: 0.0 for t in all_tids}, all_tids
                )
                for t in terms:
                    tid = tid_py(t)
                    ids, tfn, _n = _driver_scored_all(
                        index, {tid: 1.0}, [tid]
                    )
                    if len(ids):
                        term_parts.setdefault(t, []).append(
                            (
                                ids,
                                lucene_idf(n_docs_blend, bdf[t])
                                * tfn
                                * boost,
                            )
                        )
            per_term = [
                _combine_np(ps, "best_fields", tie_breaker)
                for ps in term_parts.values()
            ]
            if not per_term:
                return _empty()
            all_ids = np.concatenate([p[0] for p in per_term])
            uniq, inv = np.unique(all_ids, return_inverse=True)
            combined = np.bincount(
                inv,
                weights=np.concatenate([p[1] for p in per_term]),
                minlength=len(uniq),
            )
        else:
            parts = []
            for index, boost, terms, idfs, _s, _st in plan:
                ids, sc, _n = _driver_scored_all(
                    index, idfs, [tid_py(t) for t in terms]
                )
                if len(ids):
                    parts.append((ids, sc * boost))
            if not parts:
                return _empty()
            uniq, combined = _combine_np(parts, match_type, tie_breaker)
        f32 = combined.astype(np.float32)
        sel = np.lexsort((uniq, -f32.astype(np.float64)))[:k]
        return local_page(spark, uniq[sel], f32[sel])

    if match_type == "cross_fields":
        # distributed cross_fields = the co-partitioned batch kernel with
        # a batch of one (the blended per-term combine needs every
        # field's postings for a doc in one task)
        return multi_match_topk_batch(
            field_indexes,
            [("q", query_text)],
            fields,
            match_type=match_type,
            tie_breaker=tie_breaker,
            k=k,
        ).select("doc_id", "score", "rank")

    if match_type == "best_fields" and tie_breaker == 0.0:
        # pruned route (exactness argument in the module docstring): each
        # field's own MaxScore top-k, one doc-keyed max over the union
        tall = None
        for index, boost, _terms, _idfs, _s, _st in plan:
            part = bm25_topk(index, query_text, k=k, mode=mode).select(
                "doc_id",
                (F.col("score").cast("double") * F.lit(boost)).alias(
                    "score"
                ),
            )
            tall = part if tall is None else tall.unionAll(part)
        combined = tall.groupBy("doc_id").agg(
            F.max("score").alias("score")
        )
    else:
        # general route: full per-field matched sets, map-side partial
        # per-doc sums, ONE doc_id exchange carrying every field as a
        # conditional aggregate
        tall = None
        for fid, (index, boost, terms, idfs, _s, _st) in enumerate(plan):
            part = _scored_partial_index(index, terms, idfs, boost).select(
                "doc_id", "score", F.lit(fid).alias("fid")
            )
            tall = part if tall is None else tall.unionAll(part)
        per_field = [
            F.sum(F.when(F.col("fid") == i, F.col("score"))).alias(f"s{i}")
            for i in range(len(plan))
        ]
        wide = tall.groupBy("doc_id").agg(*per_field)
        cols = [F.col(f"s{i}") for i in range(len(plan))]
        sm = sum(
            (F.coalesce(c, F.lit(0.0)) for c in cols), F.lit(0.0)
        )
        if match_type == "most_fields":
            score = sm
        else:
            mx = F.greatest(*cols) if len(cols) > 1 else cols[0]
            score = mx + F.lit(tie_breaker) * (sm - mx)
        combined = wide.select("doc_id", score.alias("score"))

    return topk_page(
        combined.select(
            "doc_id", F.col("score").cast("float").alias("score")
        ),
        k,
    )


def _dismax_union_topk(
    parts: list[DataFrame], k: int
) -> DataFrame:
    """Union already-boosted per-field (doc_id, score) frames → one
    doc-keyed max → global top-k (score f32 desc, doc_id asc). Exact for
    tie_breaker=0 dis-max when each part is that field's correct top-k
    (containment argument in the module docstring)."""
    tall = parts[0]
    for p in parts[1:]:
        tall = tall.unionAll(p)
    return topk_page(
        tall.groupBy("doc_id")
        .agg(F.max("score").alias("score"))
        .select("doc_id", F.col("score").cast("float").alias("score")),
        k,
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
    the boosted union takes one doc-keyed max. Exact by the same
    containment argument as the best_fields pruned route — a doc in the
    global dis-max top-k is inside the top-k of the field achieving its
    max. Raises if a phrase field's index lacks positions."""
    if match_type not in ("phrase", "bool_prefix"):
        raise ValueError(
            f"index-served field-centric types are phrase|bool_prefix, "
            f"got {match_type!r}"
        )
    parts = []
    for name, boost in parse_field_boosts(fields):
        if name not in field_indexes:
            raise KeyError(
                f"multi_match field {name!r} has no attached index "
                f"(have: {sorted(field_indexes)})"
            )
        index = field_indexes[name]
        if match_type == "phrase":
            from .phrase import phrase_topk

            part = phrase_topk(index, query_text, k=k, mode=mode, slop=slop)
        else:
            from .multiterm import match_bool_prefix_topk

            part = match_bool_prefix_topk(index, query_text, k=k, mode=mode)
        parts.append(
            part.select(
                "doc_id",
                (F.col("score").cast("double") * F.lit(boost)).alias(
                    "score"
                ),
            )
        )
    return _dismax_union_topk(parts, k)


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

    Exactness without a doc_id shuffle: ``shard_id`` is
    pmod(xxhash64(doc_id, 7), n_shards) — a pure function of the doc id —
    so per-field indexes built with the SAME n_shards are co-partitioned
    by construction. The per-shard task therefore sees EVERY field's
    postings for each of its docs and finishes the per-doc cross-field
    combine locally (max/sum + tie_breaker); a doc's combined score is
    complete within its shard and the global merge is the same tiny
    per-query window top-k the single-field batch uses. Decoded
    (field, term) contributions are cached across the batch's queries, so
    hot terms decode once per shard, not once per query. Raises if the
    attached indexes disagree on n_shards (then they are not
    co-partitioned — rebuild with matching layout).

    match_type 'cross_fields' runs the term-centric blended-df combine
    (``cross_fields_scored`` semantics): per term, the fields' blended-idf
    contributions dis-max (+ tie_breaker · rest), then terms sum per doc —
    the co-location makes the per-(doc, term) combine exact inside each
    shard task."""
    if match_type not in ("best_fields", "most_fields", "cross_fields"):
        raise ValueError(
            f"multi_match type must be best_fields|most_fields|"
            f"cross_fields, got {match_type!r}"
        )
    fb = parse_field_boosts(fields)
    for name, _ in fb:
        if name not in field_indexes:
            raise KeyError(
                f"multi_match field {name!r} has no attached index "
                f"(have: {sorted(field_indexes)})"
            )
    n_shards = {field_indexes[n].n_shards for n, _ in fb}
    if len(n_shards) > 1:
        raise ValueError(
            "batched multi_match needs co-partitioned per-field indexes: "
            f"n_shards differ ({sorted(n_shards)}) — rebuild with one "
            "layout"
        )
    spark = field_indexes[fb[0][0]].spark
    q_terms = {qid: sorted(set(tokenize_py(text))) for qid, text in queries}
    all_terms = sorted({t for ts in q_terms.values() for t in ts})

    # per-field resolution: idfs (own stats — or blended max-df stats for
    # cross_fields), per-query in-vocab tids, decode params, tombstones
    all_stats = {
        name: field_indexes[name].term_stats(all_terms) for name, _ in fb
    }
    bdf: dict[str, int] = {}
    if match_type == "cross_fields":
        for stats in all_stats.values():
            for t, d in stats.items():
                bdf[t] = max(bdf.get(t, 0), d)
    # cross_fields blends n_docs like df (max across fields) so a term
    # carries ONE idf everywhere — the corpus twin's single-n_docs
    # semantics (equal across fields when built over one corpus)
    n_docs_blend = max(field_indexes[n].n_docs for n, _ in fb)
    field_plan = []
    for fid, (name, boost) in enumerate(fb):
        index = field_indexes[name]
        stats = all_stats[name]
        dfsrc = bdf if match_type == "cross_fields" else stats
        nd = n_docs_blend if match_type == "cross_fields" else index.n_docs
        idfs = {tid_py(t): lucene_idf(nd, dfsrc[t]) for t in stats}
        qtids = {
            qid: [tid_py(t) for t in ts if t in stats]
            for qid, ts in q_terms.items()
        }
        field_plan.append(
            (
                fid,
                index,
                boost,
                idfs,
                qtids,
                (index.k1, index.b, index.avgdl),
                index.deletes,
                sorted(stats),
            )
        )
    live_qids = [
        qid
        for qid in q_terms
        if any(p[4][qid] for p in field_plan)
    ]
    if not live_qids:
        return empty_batch_page(spark)

    # closure payload (small: per-field dicts over the batch vocabulary)
    plan_payload = [
        (fid, boost, idfs, {q: p4[q] for q in live_qids}, params, deletes)
        for fid, _idx, boost, idfs, p4, params, deletes, _t in field_plan
    ]
    mt, tb = match_type, tie_breaker

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"query_id": [], "doc_id": [], "score": []}
        ).astype({"query_id": str, "doc_id": np.int64, "score": np.float32})
        if pdf.empty:
            return empty
        fid_arr = pdf["fid"].to_numpy(dtype=np.int64)
        tid_arr = pdf["tid"].to_numpy(dtype=np.int64)
        present = set(zip(fid_arr.tolist(), tid_arr.tolist()))
        cache: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}

        def contrib(fid, tid, params, deletes):
            got = cache.get((fid, tid))
            if got is None:
                got = _decode_tfn(
                    pdf[(fid_arr == fid) & (tid_arr == tid)], *params,
                    deletes,
                )
                cache[(fid, tid)] = got
            return got

        out_qid: list[str] = []
        out_ids: list[np.ndarray] = []
        out_sc: list[np.ndarray] = []

        def emit(qid, uniq, combined):
            f32 = combined.astype(np.float32)
            sel = np.lexsort((uniq, -f32.astype(np.float64)))[:k]
            out_qid.extend([qid] * len(sel))
            out_ids.append(uniq[sel])
            out_sc.append(f32[sel])

        if mt == "cross_fields":
            for qid in live_qids:
                # ordered union of the query's tids across fields
                seen: set[int] = set()
                union_tids: list[int] = []
                for _f, _b, _i, qtids, _p, _d in plan_payload:
                    for tid in qtids[qid]:
                        if tid not in seen:
                            seen.add(tid)
                            union_tids.append(tid)
                term_ids, term_sc = [], []
                for tid in union_tids:
                    parts = []
                    for fid, boost, idfs, _q, params, deletes in plan_payload:
                        if tid not in idfs or (fid, tid) not in present:
                            continue
                        ids, tfn = contrib(fid, tid, params, deletes)
                        parts.append((ids, idfs[tid] * tfn * boost))
                    if parts:
                        u, c = _combine_np(parts, "best_fields", tb)
                        term_ids.append(u)
                        term_sc.append(c)
                if not term_ids:
                    continue
                all_ids = np.concatenate(term_ids)
                uniq, inv = np.unique(all_ids, return_inverse=True)
                combined = np.bincount(
                    inv,
                    weights=np.concatenate(term_sc),
                    minlength=len(uniq),
                )
                emit(qid, uniq, combined)
            if not out_qid:
                return empty
            return pd.DataFrame(
                {
                    "query_id": out_qid,
                    "doc_id": np.concatenate(out_ids),
                    "score": np.concatenate(out_sc),
                }
            )

        for qid in live_qids:
            parts: list[tuple[np.ndarray, np.ndarray]] = []
            for fid, boost, idfs, qtids, params, deletes in plan_payload:
                f_ids, f_sc = [], []
                for tid in qtids[qid]:
                    if (fid, tid) not in present:
                        continue
                    ids, tfn = contrib(fid, tid, params, deletes)
                    f_ids.append(ids)
                    f_sc.append(idfs[tid] * tfn)
                if not f_ids:
                    continue
                all_ids = np.concatenate(f_ids)
                acc_ids, inv = np.unique(all_ids, return_inverse=True)
                acc_sc = np.bincount(
                    inv, weights=np.concatenate(f_sc), minlength=len(acc_ids)
                )
                parts.append((acc_ids, acc_sc * boost))
            if not parts:
                continue
            uniq, combined = _combine_np(parts, mt, tb)
            emit(qid, uniq, combined)
        if not out_qid:
            return empty
        return pd.DataFrame(
            {
                "query_id": out_qid,
                "doc_id": np.concatenate(out_ids),
                "score": np.concatenate(out_sc),
            }
        )

    blocks = None
    for fid, index, _b, _i, _q, _p, _d, f_terms in field_plan:
        if not f_terms:
            continue
        part = index.postings_for(f_terms).select(
            "shard_id", "tid", "docs", "tfs", "dls",
            F.lit(fid).cast("long").alias("fid"),
        )
        blocks = part if blocks is None else blocks.unionAll(part)
    shard_topk = blocks.groupBy("shard_id").applyInPandas(
        score_shard, BATCH_TOPK_SCHEMA
    )
    return batch_page(shard_topk, k)
