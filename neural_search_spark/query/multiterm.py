"""Constant-score multi-term queries: `prefix` and `wildcard`.

Reference host behavior (OpenSearch core's PrefixQueryBuilder /
WildcardQueryBuilder, composable inside the plugin's hybrid/bool
branches): the default rewrite is CONSTANT_SCORE — Lucene builds a
bitset of every doc containing ANY matching term and scores each 1.0
(× boost), never enumerating per-term scoring clauses. That maps
cleanly onto Spark:

* index-backed: the matching terms come from the driver-side dictionary
  walk (`BM25Index.dictionary`, prefix range pushdown on the parquet
  row-group stats — for wildcards the LONGEST LITERAL PREFIX of the
  pattern prunes the read, like Lucene compiles the pattern to an
  automaton anchored on the common prefix); their postings decode to a
  distinct doc set. Small expansions stay on the driver (pyarrow);
  large ones decode in a distributed kernel.
* corpus scan: `exists(tokens, t -> predicate)` — whole-stage-codegen
  `startswith` / anchored `rlike`, no shuffle at all.

Wildcard syntax: `*` = any run (including empty), `?` = exactly one
character — translated to an anchored regex with every other character
escaped.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.build import tid_py
from ..ranking import batch_page, local_page, topk_page
from ..tokenizer import tokenize_expr
from .bm25 import BM25Index, _live_mask, driver_route


def wildcard_regex(pattern: str) -> str:
    """Anchored regex for a Lucene wildcard pattern (* → .*, ? → .)."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"


def wildcard_literal_prefix(pattern: str) -> str:
    """Longest literal prefix before the first wildcard — the dictionary
    range-pushdown key (empty for a leading wildcard = full dict walk)."""
    for i, ch in enumerate(pattern):
        if ch in "*?":
            return pattern[:i]
    return pattern


_LUCENE_REGEXP_OPTIONAL = set('~&<>@"')


def check_regexp_pattern(pattern: str) -> None:
    """The regexp query supports the operator subset shared by Lucene
    RegExp and standard regex syntax (concatenation, |, ?, *, +, {m,n},
    [...], (...), ., \\ escapes). Lucene's OPTIONAL operators —
    complement ``~``, intersection ``&``, interval ``<1-10>``, any-string
    ``@``, quoting ``"..."`` — are not implemented; an unescaped
    occurrence raises rather than silently matching differently
    (documented divergence; the reference host enables them via the
    ``flags`` parameter)."""
    esc = False
    for ch in pattern or "":
        if esc:
            esc = False
            continue
        if ch == "\\":
            esc = True
            continue
        if ch in _LUCENE_REGEXP_OPTIONAL:
            raise NotImplementedError(
                f"regexp operator {ch!r} (a Lucene RegExp optional "
                "operator) is not supported — use the shared "
                "concatenation/|/?/*/+/{{m,n}}/[...]/(...) subset"
            )


def regexp_literal_prefix(pattern: str) -> str:
    """Longest leading run of literal token characters ([a-z0-9]) — the
    dictionary range-pushdown key (regex metachars end it; a following
    quantifier would make the LAST literal optional, so back off one)."""
    out = []
    for i, ch in enumerate(pattern):
        if ch.isalnum() and ch.lower() == ch:
            out.append(ch)
        else:
            if out and ch in "?*{":
                out.pop()  # quantifier applies to the previous atom
            break
    return "".join(out)


def expand_pattern(
    index: BM25Index, pattern, kind: str
) -> list[tuple[str, int]]:
    """Dictionary terms matching a prefix/wildcard/regexp/verbatim-set,
    with dfs."""
    if kind == "terms":
        stats = index.term_stats(sorted({str(v) for v in (pattern or [])}))
        return sorted(stats.items())
    if kind == "prefix":
        return index.dictionary(prefix=pattern) if pattern else []
    if kind == "regexp":
        check_regexp_pattern(pattern)
        rx = re.compile(f"^(?:{pattern})$")
        lit = regexp_literal_prefix(pattern)
    else:
        rx = re.compile(wildcard_regex(pattern))
        lit = wildcard_literal_prefix(pattern)
    vocab = index.dictionary(prefix=lit or None)
    return [(t, df) for t, df in vocab if rx.match(t)]


def multiterm_topk(
    index: BM25Index,
    value: str,
    kind: str = "prefix",
    k: int = 10,
    boost: float = 1.0,
    mode: str = "auto",
) -> DataFrame:
    """Top-k docs containing ANY dictionary term matching the
    prefix/wildcard — constant score = boost, ties (i.e. everything)
    broken by doc_id ASC, the constant-score collector order. Returns
    (doc_id, score, rank)."""
    spark = index.spark
    exps = expand_pattern(index, value, kind)
    if not exps:
        return local_page(spark, [], [])
    terms = [t for t, _ in exps]
    sum_df = sum(df for _, df in exps)
    if driver_route(mode, sum_df):
        ids = _doc_ids_driver(index, terms)
        ids = np.unique(ids)
        live = _live_mask(ids, index.deletes)
        if live is not None:
            ids = ids[live]
        ids = ids[:k]
        return local_page(spark, ids, np.full(ids.size, float(boost)))
    deletes = index.deletes

    def decode_docs(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..index.codec import decode_doc_ids

        if pdf.empty:
            return pd.DataFrame({"doc_id": pd.Series(dtype="int64")})
        ids = np.unique(
            np.concatenate([decode_doc_ids(x) for x in pdf["docs"]])
        )
        live = _live_mask(ids, deletes)
        if live is not None:
            ids = ids[live]
        return pd.DataFrame({"doc_id": ids})

    blocks = index.postings_for(terms).select("shard_id", "docs")
    matched = blocks.groupBy("shard_id").applyInPandas(
        decode_docs, "doc_id long"
    )
    from ..ranking import topk_rank_window

    w = topk_rank_window(F.asc("doc_id"))
    return (
        matched.distinct()  # a doc can match several terms across shards
        .orderBy(F.asc("doc_id"))
        .limit(k)
        .select(
            "doc_id",
            F.lit(float(boost)).alias("score"),
            F.row_number().over(w).cast("int").alias("rank"),
        )
    )


def _doc_ids_driver(index: BM25Index, terms: list[str]) -> np.ndarray:
    """Driver pyarrow read of just the docs column for the given terms."""
    import pyarrow.dataset as ds

    from ..index.build import N_TERM_BUCKETS
    from ..index.codec import decode_doc_ids

    tids = sorted({tid_py(t) for t in terms})
    buckets = sorted({t % N_TERM_BUCKETS for t in tids})
    if index._postings_ds is None:
        index._postings_ds = ds.dataset(
            index._postings_path, format="parquet", partitioning="hive"
        )
    tbl = index._postings_ds.to_table(
        columns=["docs"],
        filter=ds.field("term_bucket").isin(buckets)
        & ds.field("tid").isin(tids),
    )
    parts = [decode_doc_ids(x) for x in tbl["docs"].to_pylist()]
    if not parts:
        return np.empty(0, dtype=np.int64)
    return np.concatenate(parts)


def match_bool_prefix_topk(
    index: BM25Index,
    query_text: str,
    k: int = 10,
    boost: float = 1.0,
    mode: str = "auto",
    tokens: list[str] | None = None,
) -> DataFrame:
    """Index-backed match_bool_prefix (MatchBoolPrefixQueryBuilder): every
    analyzed token is a SHOULD term clause except the last, which matches
    as a constant-score prefix. Score per doc = Σ idf·tfnorm over matched
    term clauses (duplicate tokens are duplicate clauses and sum) +
    boost·[any dictionary term with the prefix occurs] — identical values
    to the corpus sqs fold over ``tok1 … last*``, served from the index:
    one dictionary range read for the expansion and ONE pass over the
    clauses' postings (doc-sharded, so per-doc accumulation is local; no
    MaxScore skip — the constant-score clause makes bounds useless, and
    the work is the same Σdf a coverage-gated query decodes). Returns
    (doc_id, score, rank)."""
    from ..index.codec import decode_doc_ids, decode_varint
    from ..tokenizer import tokenize_py
    from .bm25 import lucene_idf

    spark = index.spark
    if tokens is None:
        # default analysis; `tokens` overrides for pre-analyzed fields
        # whose terms the frozen tokenizer must not re-split (e.g. the
        # search_as_you_type shingle subfields)
        tokens = tokenize_py(query_text)
    if not tokens:
        return local_page(spark, [], [])
    terms, last = tokens[:-1], tokens[-1]
    stats = index.term_stats(sorted(set(terms)))
    w_by_tid: dict[int, float] = {}
    sum_df = 0
    for t in terms:
        if t in stats:
            tid = tid_py(t)
            if tid not in w_by_tid:
                sum_df += stats[t]
            w_by_tid[tid] = w_by_tid.get(tid, 0.0) + lucene_idf(
                index.n_docs, stats[t]
            )
    exps = index.dictionary(prefix=last)
    prefix_tids = {tid_py(t) for t, _ in exps}
    sum_df += sum(df for _, df in exps)
    if not w_by_tid and not prefix_tids:
        return local_page(spark, [], [])
    k1, b, avgdl = index.k1, index.b, index.avgdl
    deletes = index.deletes
    fboost = float(boost)

    def accumulate(
        tid_a, docs_col, tfs_col, dls_col, top: int
    ) -> pd.DataFrame:
        ids_parts: list[np.ndarray] = []
        sc_parts: list[np.ndarray] = []
        hit_parts: list[np.ndarray] = []
        for i in range(len(tid_a)):
            t = int(tid_a[i])
            ids = decode_doc_ids(docs_col[i])
            live = _live_mask(ids, deletes)
            w = w_by_tid.get(t)
            if w is not None:
                tfs = decode_varint(tfs_col[i]).astype(np.float64)
                dls = decode_varint(dls_col[i]).astype(np.float64)
                if live is not None:
                    idw, tfs, dls = ids[live], tfs[live], dls[live]
                else:
                    idw = ids
                ids_parts.append(idw)
                sc_parts.append(
                    w * tfs / (tfs + k1 * (1.0 - b + b * dls / avgdl))
                )
            if t in prefix_tids:
                hit_parts.append(ids[live] if live is not None else ids)
        base = (
            np.concatenate(ids_parts)
            if ids_parts
            else np.empty(0, dtype=np.int64)
        )
        hits = (
            np.unique(np.concatenate(hit_parts))
            if hit_parts
            else np.empty(0, dtype=np.int64)
        )
        all_ids = np.unique(np.concatenate([base, hits]))
        if all_ids.size == 0:
            return pd.DataFrame({"doc_id": [], "score": []}).astype(
                {"doc_id": np.int64, "score": np.float32}
            )
        sc = np.zeros(all_ids.size, dtype=np.float64)
        if base.size:
            sc += np.bincount(
                np.searchsorted(all_ids, base),
                weights=np.concatenate(sc_parts),
                minlength=all_ids.size,
            )
        if hits.size:
            sc[np.searchsorted(all_ids, hits)] += fboost
        f32 = sc.astype(np.float32)
        sel = np.lexsort((all_ids, -f32.astype(np.float64)))[:top]
        return pd.DataFrame({"doc_id": all_ids[sel], "score": f32[sel]})

    all_terms = sorted(set(terms) & set(stats)) + [t for t, _ in exps]
    if driver_route(mode, sum_df):
        import pyarrow.dataset as ds

        from ..index.build import N_TERM_BUCKETS

        tids = sorted({tid_py(t) for t in all_terms})
        buckets = sorted({t % N_TERM_BUCKETS for t in tids})
        if index._postings_ds is None:
            index._postings_ds = ds.dataset(
                index._postings_path, format="parquet", partitioning="hive"
            )
        tbl = index._postings_ds.to_table(
            columns=["tid", "docs", "tfs", "dls"],
            filter=ds.field("term_bucket").isin(buckets)
            & ds.field("tid").isin(tids),
        )
        pdf = accumulate(
            tbl["tid"].to_numpy(),
            tbl["docs"].to_pylist(),
            tbl["tfs"].to_pylist(),
            tbl["dls"].to_pylist(),
            k,
        )
        return local_page(spark, pdf["doc_id"], pdf["score"])

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame({"doc_id": [], "score": []}).astype(
                {"doc_id": np.int64, "score": np.float32}
            )
        return accumulate(
            pdf["tid"].to_numpy(), pdf["docs"].to_numpy(),
            pdf["tfs"].to_numpy(), pdf["dls"].to_numpy(), k,
        )

    blocks = index.postings_for(all_terms).select(
        "shard_id", "tid", "docs", "tfs", "dls"
    )
    shard_topk = blocks.groupBy("shard_id").applyInPandas(
        score_shard, "doc_id long, score float"
    )
    return topk_page(shard_topk, k)


def match_bool_prefix_topk_batch(
    index: BM25Index,
    queries: list[tuple[str, str]],
    k: int = 10,
    boost: float = 1.0,
    mode: str = "auto",
    tokens_by_qid: dict[str, list[str]] | None = None,
) -> DataFrame:
    """match_bool_prefix for a BATCH of queries in ONE Spark job — the
    msearch / autocomplete-cluster shape, the bool_prefix sibling of
    ``bm25.bm25_topk_batch``.

    queries: [(query_id, query_text)] → (query_id, doc_id, score, rank),
    score-identical per query to ``match_bool_prefix_topk``.
    `tokens_by_qid` overrides analysis per query (pre-analyzed token
    streams, e.g. search_as_you_type shingle subfields).

    One pass over the union of every query's clauses' postings; per
    shard, decoded (ids, tfnorm) contributions are CACHED by tid across
    the batch's queries (tfnorm is query-independent), so hot terms —
    and the prefix expansions autocomplete queries share — decode once
    per shard, not once per query. Per-doc accumulation is local to the
    shard (doc-sharded postings), so the global merge is a tiny
    per-query window top-k.

    `mode`: 'auto' (default) serves the whole batch driver-side via one
    pyarrow point read when the union's Σdf fits DRIVER_MAX_POSTINGS
    (the coordinator-cheap-query pattern, zero Spark jobs); 'driver' /
    'distributed' force the route."""
    from ..index.codec import decode_doc_ids, decode_varint
    from ..tokenizer import tokenize_py
    from .bm25 import BATCH_TOPK_SCHEMA, lucene_idf

    spark = index.spark
    # --- per-query plan: term-clause weights + prefix expansion tids ---
    toks_by_qid: dict[str, list[str]] = {}
    for qid, text in queries:
        toks = (
            tokens_by_qid.get(qid)
            if tokens_by_qid is not None
            else tokenize_py(text)
        )
        if toks:
            toks_by_qid[qid] = list(toks)
    if not toks_by_qid:
        return spark.createDataFrame([], schema=BATCH_TOPK_SCHEMA).withColumn(
            "rank", F.lit(0).cast("int")
        )
    all_clause_terms = sorted(
        {t for toks in toks_by_qid.values() for t in toks[:-1]}
    )
    stats = index.term_stats(all_clause_terms)
    n_docs = index.n_docs
    w_by_qid: dict[str, dict[int, float]] = {}
    pfx_by_qid: dict[str, frozenset[int]] = {}
    exp_terms: set[str] = set()
    exp_cache: dict[str, frozenset[int]] = {}
    df_by_tid: dict[int, int] = {tid_py(t): d for t, d in stats.items()}
    for qid, toks in toks_by_qid.items():
        terms, last = toks[:-1], toks[-1]
        w: dict[int, float] = {}
        for t in terms:
            if t in stats:
                tid = tid_py(t)
                w[tid] = w.get(tid, 0.0) + lucene_idf(n_docs, stats[t])
        got = exp_cache.get(last)
        if got is None:
            exps = index.dictionary(prefix=last)
            exp_terms.update(t for t, _ in exps)
            for t, d in exps:
                df_by_tid.setdefault(tid_py(t), d)
            got = frozenset(tid_py(t) for t, _ in exps)
            exp_cache[last] = got
        if w or got:
            w_by_qid[qid] = w
            pfx_by_qid[qid] = got
    if not w_by_qid:
        return spark.createDataFrame([], schema=BATCH_TOPK_SCHEMA).withColumn(
            "rank", F.lit(0).cast("int")
        )
    all_terms = sorted(set(stats) | exp_terms)
    k1, b, avgdl = index.k1, index.b, index.avgdl
    deletes = index.deletes
    fboost = float(boost)

    def accumulate_queries(contrib, present) -> pd.DataFrame:
        """Per-query Σ w·tfnorm + boost·[prefix hit] from a shared
        tid → (ids, tfnorm) source; emits ≤k rows per query (exact at
        the shard level because a doc's postings are shard-local, and
        exact driver-side because the read covers every shard)."""
        out_qid: list[str] = []
        out_ids: list[np.ndarray] = []
        out_sc: list[np.ndarray] = []
        for qid, w_by_tid in w_by_qid.items():
            ids_parts: list[np.ndarray] = []
            sc_parts: list[np.ndarray] = []
            hit_parts: list[np.ndarray] = []
            for tid, wv in w_by_tid.items():
                if tid not in present:
                    continue
                ids, tfn = contrib(tid)
                ids_parts.append(ids)
                sc_parts.append(wv * tfn)
            for tid in pfx_by_qid[qid]:
                if tid in present:
                    hit_parts.append(contrib(tid)[0])
            base = (
                np.concatenate(ids_parts)
                if ids_parts
                else np.empty(0, dtype=np.int64)
            )
            hits = (
                np.unique(np.concatenate(hit_parts))
                if hit_parts
                else np.empty(0, dtype=np.int64)
            )
            all_ids = np.unique(np.concatenate([base, hits]))
            if all_ids.size == 0:
                continue
            sc = np.zeros(all_ids.size, dtype=np.float64)
            if base.size:
                sc += np.bincount(
                    np.searchsorted(all_ids, base),
                    weights=np.concatenate(sc_parts),
                    minlength=all_ids.size,
                )
            if hits.size:
                sc[np.searchsorted(all_ids, hits)] += fboost
            f32 = sc.astype(np.float32)
            sel = np.lexsort((all_ids, -f32.astype(np.float64)))[:k]
            out_qid.extend([qid] * len(sel))
            out_ids.append(all_ids[sel])
            out_sc.append(f32[sel])
        if not out_qid:
            return pd.DataFrame(
                {"query_id": [], "doc_id": [], "score": []}
            ).astype(
                {"query_id": str, "doc_id": np.int64, "score": np.float32}
            )
        return pd.DataFrame(
            {
                "query_id": out_qid,
                "doc_id": np.concatenate(out_ids),
                "score": np.concatenate(out_sc),
            }
        )

    need_tids = set()
    for qid in w_by_qid:
        need_tids.update(w_by_qid[qid])
        need_tids.update(pfx_by_qid[qid])
    sum_df = sum(df_by_tid.get(t, 0) for t in need_tids)
    if driver_route(mode, sum_df):
        # whole batch from one pyarrow point read — zero Spark jobs; the
        # decode cache is shared across queries the same way
        import pyarrow.dataset as ds

        from ..index.build import N_TERM_BUCKETS

        tids = sorted(need_tids)
        buckets = sorted({t % N_TERM_BUCKETS for t in tids})
        if index._postings_ds is None:
            index._postings_ds = ds.dataset(
                index._postings_path, format="parquet", partitioning="hive"
            )
        tbl = index._postings_ds.to_table(
            columns=["tid", "docs", "tfs", "dls"],
            filter=ds.field("term_bucket").isin(buckets)
            & ds.field("tid").isin(tids),
        )
        tid_a = tbl["tid"].to_numpy()
        docs_col = tbl["docs"].to_pylist()
        tfs_col = tbl["tfs"].to_pylist()
        dls_col = tbl["dls"].to_pylist()
        order = np.argsort(tid_a, kind="stable")
        sorted_tids = tid_a[order]  # hoisted: one O(rows) copy, not 2/miss
        cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}

        def contrib_driver(tid: int) -> tuple[np.ndarray, np.ndarray]:
            got = cache.get(tid)
            if got is None:
                lo = np.searchsorted(sorted_tids, tid, side="left")
                hi = np.searchsorted(sorted_tids, tid, side="right")
                rows = order[lo:hi]
                ids = np.concatenate(
                    [decode_doc_ids(docs_col[i]) for i in rows]
                )
                tfs = np.concatenate(
                    [decode_varint(tfs_col[i]) for i in rows]
                ).astype(np.float64)
                dls = np.concatenate(
                    [decode_varint(dls_col[i]) for i in rows]
                ).astype(np.float64)
                live = _live_mask(ids, deletes)
                if live is not None:
                    ids, tfs, dls = ids[live], tfs[live], dls[live]
                tfn = tfs / (tfs + k1 * (1.0 - b + b * dls / avgdl))
                got = (ids, tfn)
                cache[tid] = got
            return got

        pdf = accumulate_queries(contrib_driver, set(np.unique(tid_a)))
        pdf = pdf.sort_values(
            ["query_id", "score", "doc_id"],
            ascending=[True, False, True],
            kind="mergesort",
        )
        pdf["rank"] = (
            pdf.groupby("query_id").cumcount().to_numpy() + 1
        ).astype(np.int32)
        return spark.createDataFrame(
            pdf,
            schema="query_id string, doc_id long, score float, rank int",
        )

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame(
                {"query_id": [], "doc_id": [], "score": []}
            ).astype(
                {"query_id": str, "doc_id": np.int64, "score": np.float32}
            )
        tid_arr = pdf["tid"].to_numpy(dtype=np.int64)
        present = set(np.unique(tid_arr))
        cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}

        def contrib(tid: int) -> tuple[np.ndarray, np.ndarray]:
            got = cache.get(tid)
            if got is None:
                rows = pdf[tid_arr == tid]
                ids = np.concatenate(
                    [decode_doc_ids(x) for x in rows["docs"]]
                )
                tfs = np.concatenate(
                    [decode_varint(x) for x in rows["tfs"]]
                ).astype(np.float64)
                dls = np.concatenate(
                    [decode_varint(x) for x in rows["dls"]]
                ).astype(np.float64)
                live = _live_mask(ids, deletes)
                if live is not None:
                    ids, tfs, dls = ids[live], tfs[live], dls[live]
                tfn = tfs / (tfs + k1 * (1.0 - b + b * dls / avgdl))
                got = (ids, tfn)
                cache[tid] = got
            return got

        return accumulate_queries(contrib, present)

    blocks = index.postings_for(all_terms).select(
        "shard_id", "tid", "docs", "tfs", "dls"
    )
    shard_topk = blocks.groupBy("shard_id").applyInPandas(
        score_shard, BATCH_TOPK_SCHEMA
    )
    return batch_page(shard_topk, k)


def term_topk(
    index: BM25Index, value: str, k: int = 10, mode: str = "auto"
) -> DataFrame:
    """Un-analyzed `term` query (Lucene TermQuery, BM25-scored): the
    VERBATIM value is looked up in the dictionary — no tokenization or
    lowercasing, so a value the analyzer would have rewritten simply
    misses, exactly like a raw TermQuery against an analyzed field.
    Returns (doc_id, score, rank) via the standard BM25 kernels."""
    from .bm25 import lucene_idf, weighted_term_topk

    stats = index.term_stats([value]) if value else {}
    if value not in stats:
        return local_page(index.spark, [], np.float32([]))
    w = {value: lucene_idf(index.n_docs, stats[value])}
    return weighted_term_topk(index, w, k=k, mode=mode)


def term_scored_scan(
    docs: DataFrame,
    value: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Index-free `term` scorer → (doc_id, score double), scoped-frame
    stats like every other scan (one tokenize pass, one doc-keyed agg)."""
    from .. import BM25_B, BM25_K1

    spark = docs.sparkSession
    empty = local_page(spark, [], []).drop("rank")
    if not value:
        return empty
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        tokenize_expr(text_col).alias("toks"),
    ).withColumn("dl", F.size("toks"))
    srow = toks.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(srow["n"]), float(srow["avgdl"] or 1.0)
    tf = toks.select(
        "doc_id",
        "dl",
        F.size(F.filter("toks", lambda t: t == value)).alias("tf"),
    ).filter(F.col("tf") > 0)
    dfrow = tf.agg(F.count(F.lit(1)).alias("df")).collect()[0]
    df = int(dfrow["df"])
    if df == 0:
        return empty
    from .bm25 import lucene_idf

    idf = lucene_idf(n_docs, df)
    return tf.select(
        "doc_id",
        (
            F.lit(idf)
            * F.col("tf")
            / (
                F.col("tf")
                + F.lit(BM25_K1)
                * (1.0 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))
            )
        ).alias("score"),
    )


def terms_set_scored_scan(
    docs: DataFrame,
    values: list[str],
    msm_field: str | None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Index-free `terms_set` scorer → (doc_id, score double) — the host
    TermsSetQueryBuilder → Lucene CoveringQuery shape: each value is a
    verbatim term clause; a doc matches when its matched-clause count ≥
    max(1, its ``msm_field`` value) (null msm → 1; msm above the clause
    count is per-doc unmatchable); score = Σ matched clauses' BM25 term
    scores (CoveringQuery sums its sub-scorers).

    Plan shape (100-TB path): one tokenize pass, clause tfs as map-side
    array filters (no explode — the clause set is a query constant), dfs
    via one small agg over the matched subset, one final projection. The
    per-doc msm column rides the same scan; no join, no extra shuffle."""
    from .. import BM25_B, BM25_K1
    from .bm25 import lucene_idf

    spark = docs.sparkSession
    empty_scan = local_page(spark, [], []).drop("rank")
    vals = sorted({str(v) for v in (values or [])})
    if not vals:
        return empty_scan
    msm = (
        F.coalesce(F.col(msm_field).cast("long"), F.lit(1))
        if msm_field
        else F.lit(1)
    )
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        tokenize_expr(text_col).alias("toks"),
        F.greatest(msm, F.lit(1)).alias("msm"),
    ).withColumn("dl", F.size("toks"))
    srow = toks.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(srow["n"]), float(srow["avgdl"] or 1.0)
    def _eq(v):
        # NB: a 2-arg lambda would make F.filter pass (element, index)
        return lambda t: t == v

    tf_cols = [
        F.size(F.filter("toks", _eq(v))).alias(f"tf{i}")
        for i, v in enumerate(vals)
    ]
    per_doc = toks.select("doc_id", "dl", "msm", *tf_cols).withColumn(
        "matched",
        sum(
            (F.when(F.col(f"tf{i}") > 0, 1).otherwise(0) for i in range(len(vals))),
            F.lit(0),
        ),
    )
    hits = per_doc.filter(F.col("matched") >= F.col("msm"))
    # dfs come from the SCOPED frame like every scan scorer (one agg)
    dfs = toks.agg(
        *[
            F.sum(
                F.when(F.size(F.filter("toks", _eq(v))) > 0, 1).otherwise(0)
            ).alias(f"df{i}")
            for i, v in enumerate(vals)
        ]
    ).collect()[0]
    idfs = [
        lucene_idf(n_docs, int(dfs[f"df{i}"] or 0)) if int(dfs[f"df{i}"] or 0) else 0.0
        for i in range(len(vals))
    ]
    parts = [
        F.when(
            F.col(f"tf{i}") > 0,
            F.lit(idfs[i])
            * F.col(f"tf{i}")
            / (
                F.col(f"tf{i}")
                + F.lit(BM25_K1)
                * (1.0 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))
            ),
        ).otherwise(F.lit(0.0))
        for i in range(len(vals))
    ]
    out = hits.select(
        "doc_id", sum(parts[1:], parts[0]).alias("score")
    )
    return out


def multiterm_scored_scan(
    docs: DataFrame,
    value: str,
    kind: str = "prefix",
    boost: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Index-free constant-score scan → (doc_id, score double): a pure
    map-side `exists` over the token array — no shuffle, no stats."""
    empty_scan = docs.sparkSession.range(0).select(
        F.col("id").alias("doc_id"), F.lit(0.0).alias("score")
    )
    if kind == "terms":
        vals = sorted({str(v) for v in (value or [])})
        if not vals:
            return empty_scan
        pred = lambda t: t.isin(vals)  # noqa: E731
    elif kind == "prefix":
        if not value:
            return empty_scan
        pred = lambda t: t.startswith(value)  # noqa: E731
    elif kind == "regexp":
        check_regexp_pattern(value)
        rx = f"^(?:{value})$"
        pred = lambda t: t.rlike(rx)  # noqa: E731
    else:
        rx = wildcard_regex(value)
        pred = lambda t: t.rlike(rx)  # noqa: E731
    return docs.filter(
        F.exists(tokenize_expr(text_col), pred)
    ).select(
        F.col(id_col).alias("doc_id"), F.lit(float(boost)).alias("score")
    )
