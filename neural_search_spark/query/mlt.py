"""more_like_this query — host MoreLikeThisQueryBuilder / Lucene
MoreLikeThis semantics, Spark-first.

Two phases, mirroring Lucene's MLT:

1. **Term selection** (driver-side, like-doc-bounded): tokenize the
   ``like`` texts (plus the texts of any ``like_ids``, fetched from the
   corpus), keep terms passing min_term_freq / min_doc_freq /
   max_doc_freq / word-length / stop-word gates, rank by the classic
   MLT score tf(term in like) · idf with idf = ln(N/(df+1)) + 1
   (Lucene TFIDFSimilarity's idf, what MoreLikeThis.retrieveTerms
   ranks by), and keep the top ``max_query_terms`` (default 25).
   Selection is deterministic: score desc, term asc.

2. **Query execution**: the selected terms ARE a match query with
   ``minimum_should_match`` (default '30%', the host's default) — BM25
   sum over matched terms with the coverage gate, served by the block
   index kernels when an index is attached, the corpus scan otherwise.
   ``include=false`` (host default) excludes the like docs themselves.

Scale notes: selection's df lookups are candidate-term-bounded — a
lookup in the index's resident term dictionary when one is attached,
one filtered tall aggregation over the corpus otherwise (candidates ≤
distinct terms of the like docs, so the collect is like-doc-sized, not
corpus-sized). The served query is then an ordinary ≤25-term match —
the same block-max kernels and bounds as any match query.
"""

from __future__ import annotations

import math
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tokenizer import tokenize_expr, tokenize_py

MLT_DEFAULTS = dict(
    max_query_terms=25,
    min_term_freq=2,
    min_doc_freq=5,
    max_doc_freq=None,
    min_word_length=0,
    max_word_length=None,
    stop_words=(),
    minimum_should_match="30%",
    include=False,
)


def like_term_freqs(texts: list[str]) -> dict[str, int]:
    """Aggregate tf across all like texts (Lucene MLT sums the
    per-field term frequencies of every like input)."""
    tf: dict[str, int] = {}
    for t in texts:
        for tok in tokenize_py(t or ""):
            tf[tok] = tf.get(tok, 0) + 1
    return tf


def candidate_terms(
    tf: dict[str, int],
    *,
    min_term_freq: int = 2,
    min_word_length: int = 0,
    max_word_length: int | None = None,
    stop_words=(),
) -> dict[str, int]:
    """The pre-df gates (cheap, driver-side) — applied BEFORE the df
    lookup so the dictionary read stays candidate-bounded."""
    stop = set(stop_words or ())
    return {
        t: f
        for t, f in tf.items()
        if f >= min_term_freq
        and len(t) >= min_word_length
        and (max_word_length is None or len(t) <= max_word_length)
        and t not in stop
    }


def select_terms(
    cand_tf: dict[str, int],
    df_of: dict[str, int],
    n_docs: int,
    *,
    max_query_terms: int = 25,
    min_doc_freq: int = 5,
    max_doc_freq: int | None = None,
) -> list[str]:
    """Rank candidates by tf·idf (idf = ln(N/(df+1)) + 1) and keep the
    top max_query_terms. Terms absent from the corpus (df 0 via a miss
    in df_of) never pass min_doc_freq ≥ 1."""
    scored = []
    for t, f in cand_tf.items():
        df = df_of.get(t, 0)
        if df < max(1, min_doc_freq):
            continue
        if max_doc_freq is not None and df > max_doc_freq:
            continue
        idf = math.log(n_docs / (df + 1.0)) + 1.0
        scored.append((-(f * idf), t))
    scored.sort()
    return [t for _, t in scored[:max_query_terms]]


def corpus_df_for(
    corpus: DataFrame, terms: list[str], text_col: str = "text"
) -> dict[str, int]:
    """df for an explicit (bounded) term set over a corpus scan: one
    tall aggregation, candidate-filtered before the shuffle."""
    if not terms:
        return {}
    rows = (
        corpus.select(
            F.explode(
                F.array_distinct(tokenize_expr(text_col))
            ).alias("t")
        )
        .filter(F.col("t").isin(list(terms)))
        .groupBy("t")
        .agg(F.count("*").alias("df"))
        .collect()
    )
    return {r.t: int(r.df) for r in rows}


def resolve_like(
    like: list[str] | None,
    like_ids: list[int] | None,
    corpus: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> list[str]:
    """Materialize the like texts: verbatim strings plus the texts of
    like_ids fetched from the corpus (id-set-bounded collect)."""
    texts = list(like or [])
    if like_ids:
        if corpus is None:
            raise ValueError("more_like_this like_ids need a corpus")
        got = {
            int(r[0]): r[1]
            for r in corpus.filter(
                F.col(id_col).cast("long").isin([int(i) for i in like_ids])
            )
            .select(id_col, text_col)
            .collect()
        }
        missing = [i for i in like_ids if int(i) not in got]
        if missing:
            raise ValueError(f"more_like_this like_ids not found: {missing}")
        texts.extend(got[int(i)] for i in like_ids)
    if not texts:
        raise ValueError("more_like_this needs 'like' texts or 'like_ids'")
    return texts


def mlt_select(
    like_texts: list[str],
    df_lookup,
    n_docs: int,
    **opts,
) -> list[str]:
    """Full selection pipeline. df_lookup: callable(list[str]) ->
    {term: df} — index.term_stats or a corpus_df_for closure."""
    o = {**MLT_DEFAULTS, **opts}
    cand = candidate_terms(
        like_term_freqs(like_texts),
        min_term_freq=o["min_term_freq"],
        min_word_length=o["min_word_length"],
        max_word_length=o["max_word_length"],
        stop_words=o["stop_words"],
    )
    if not cand:
        return []
    df_of = df_lookup(sorted(cand))
    return select_terms(
        cand,
        df_of,
        n_docs,
        max_query_terms=o["max_query_terms"],
        min_doc_freq=o["min_doc_freq"],
        max_doc_freq=o["max_doc_freq"],
    )
