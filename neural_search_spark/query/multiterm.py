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
from ..index.codec import decode_doc_ids_batch
from ..ranking import empty_batch_page, local_page
from ..tokenizer import tokenize_expr, tokenize_py
from .bm25 import (
    AnyLeaf,
    BM25Index,
    Leaf,
    Sum,
    _live_docs,
    _live_mask,
    _read_postings,
    _tree_batch_page,
    _tree_page,
    driver_route,
    lucene_idf,
)


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
        tbl = _read_postings(index, {tid_py(t) for t in terms}, ["docs"])
        ids = np.unique(decode_doc_ids_batch(tbl["docs"])[0])
        live = _live_mask(ids, index.deletes)
        if live is not None:
            ids = ids[live]
        ids = ids[:k]
        return local_page(spark, ids, np.full(ids.size, float(boost)))
    deletes = index.deletes

    def decode_docs(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"doc_id": _live_docs(pdf["docs"], deletes)})

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
    to the corpus sqs fold over ``tok1 … last*``. This is the batch
    kernel with this one query and a global top-k; ``tokens`` overrides
    the default analysis for pre-analyzed fields whose terms the frozen
    tokenizer must not re-split (e.g. the search_as_you_type shingle
    subfields). Returns (doc_id, score, rank)."""
    specs, sum_df = _bool_prefix_specs(
        index, [("", query_text)], boost,
        None if tokens is None else {"": tokens},
    )
    if not specs:
        return local_page(index.spark, [], [])
    return _tree_page([index], specs, k, driver_route(mode, sum_df))


def match_bool_prefix_topk_batch(
    index: BM25Index,
    queries: list[tuple[str, str]],
    k: int = 10,
    boost: float = 1.0,
    mode: str = "auto",
    tokens_by_qid: dict[str, list[str]] | None = None,
) -> DataFrame:
    """match_bool_prefix for a BATCH of queries, on the driver below the
    gate, else in ONE Spark job — the msearch / autocomplete-cluster
    shape, the bool_prefix sibling of ``bm25.bm25_topk_batch``.

    queries: [(query_id, query_text)] → (query_id, doc_id, score, rank).
    `tokens_by_qid` overrides analysis per query (pre-analyzed token
    streams, e.g. search_as_you_type shingle subfields).

    Each query is a tree of the BM25 kernels: one ``Sum`` of its term
    leaves followed by an ``AnyLeaf`` of its prefix expansion, scoring
    ``boost`` and decoding doc ids only. The distributed route is the
    MaxScore shard function over the union of every query's postings: a
    term or an expansion two queries share (autocomplete queries share
    prefixes) decodes once per shard, the expansion is one more leaf
    bounded by ``boost``, and the global merge is a per-query window
    top-k.

    `mode`: 'auto' (default) serves the whole batch on the driver (the
    driver evaluator, zero Spark jobs) when the union's Σdf fits
    DRIVER_MAX_POSTINGS; 'driver' / 'distributed' force the route."""
    specs, sum_df = _bool_prefix_specs(index, queries, boost, tokens_by_qid)
    if not specs:
        return empty_batch_page(index.spark)
    return _tree_batch_page([index], specs, k, driver_route(mode, sum_df))


def _bool_prefix_specs(
    index: BM25Index,
    queries: list[tuple[str, str]],
    boost: float,
    tokens_by_qid: dict[str, list[str]] | None,
) -> tuple[list[tuple[str, Sum]], int]:
    """Every query's (query_id, tree) spec — none when it cannot match —
    and the Σdf of the union of their terms and expansions."""
    toks_by_qid: dict[str, list[str]] = {}
    for qid, text in queries:
        toks = (
            tokens_by_qid.get(qid)
            if tokens_by_qid is not None
            else tokenize_py(text)
        )
        if toks:
            toks_by_qid[qid] = list(toks)
    stats = index.term_stats(
        sorted({t for toks in toks_by_qid.values() for t in toks[:-1]})
    )
    df_by_tid: dict[int, int] = {tid_py(t): d for t, d in stats.items()}
    exp_cache: dict[str, frozenset[int]] = {}
    specs: list[tuple[str, Sum]] = []
    for qid, toks in toks_by_qid.items():
        weights: dict[int, float] = {}
        for t in toks[:-1]:
            if t in stats:
                tid = tid_py(t)
                weights[tid] = weights.get(tid, 0.0) + lucene_idf(
                    index.n_docs, stats[t]
                )
        last = toks[-1]
        if last not in exp_cache:
            exps = index.dictionary(prefix=last)
            for t, d in exps:
                df_by_tid.setdefault(tid_py(t), d)
            exp_cache[last] = frozenset(tid_py(t) for t, _ in exps)
        leaves = tuple(Leaf(0, t, w) for t, w in weights.items())
        if exp_cache[last]:
            leaves += (AnyLeaf(0, exp_cache[last], float(boost)),)
        if leaves:
            specs.append((qid, Sum(leaves)))
    need = {t for _q, w in specs for leaf in w.children for t in (
        leaf.tids if isinstance(leaf, AnyLeaf) else (leaf.tid,)
    )}
    return specs, sum(df_by_tid[t] for t in need)


def term_topk(
    index: BM25Index, value: str, k: int = 10, mode: str = "auto"
) -> DataFrame:
    """Un-analyzed `term` query (Lucene TermQuery, BM25-scored): the
    VERBATIM value is looked up in the dictionary — no tokenization or
    lowercasing, so a value the analyzer would have rewritten simply
    misses, exactly like a raw TermQuery against an analyzed field.
    Returns (doc_id, score, rank) via the standard BM25 kernels."""
    from .bm25 import weighted_term_topk

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
