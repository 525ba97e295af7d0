"""_termvectors / _mtermvectors — per-document term vectors.

Reference host surface (public OpenSearch API: TermVectorsRequest →
TermVectorsResponse; `org.opensearch.action.termvectors`): for fields
whose term vectors were NOT stored at index time the API re-analyzes the
document's ``_source`` value on the fly, returning per-term
``term_freq`` with token ``position`` / ``start_offset`` /
``end_offset``; ``term_statistics=true`` attaches ``doc_freq`` and
``ttf`` (total term frequency) read from the index, and
``field_statistics`` adds the field-level ``sum_doc_freq`` /
``doc_count`` / ``sum_ttf`` aggregates. ``_mtermvectors`` is the same
response for a batch of ids.

Spark-first shape — the request is per-document, so nothing here may
scan the corpus proportionally to its size:

* the document fetch is the ``_mget`` point-read shape: one broadcast
  semi-join against the id list, pruned to a handful of parquet row
  groups by min/max stats at any corpus size;
* re-analysis runs driver-side on the ≤len(ids) fetched rows only
  (the host's on-the-fly analyze does exactly this on the shard that
  holds the doc);
* term statistics are binary searches of the index handle's resident
  term dictionary, the vocabulary-sized terms table read once
  (``BM25Index.term_stats`` / ``term_stats_full``) — no Spark job;
* field statistics are sums over the same resident dictionary.

``termvectors_frame`` is the distributed twin for the index-free case
(and the oracle-checkable gate shape): tf from the fetched rows, df via
one corpus pass whose exploded term stream is filtered map-side by the
broadcast term set before the counting shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tokenizer import TOKEN_RE, tokenize_expr

__all__ = [
    "analyze_with_offsets",
    "termvectors_response",
    "termvectors_frame",
]


def analyze_with_offsets(text: str) -> list[tuple[str, int, int, int]]:
    """(term, position, start_offset, end_offset) per token — the frozen
    analyzer's stream with the offset attributes the host's re-analysis
    path emits. Offsets index the ORIGINAL string (lowercasing [a-z0-9]
    never changes length or position)."""
    if not text:
        return []
    return [
        (m.group(), i, m.start(), m.end())
        for i, m in enumerate(TOKEN_RE.finditer(text.lower()))
    ]


def termvectors_response(
    corpus: DataFrame,
    ids: list[int],
    index=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    term_statistics: bool = False,
    field_statistics: bool = False,
    positions: bool = True,
    offsets: bool = True,
) -> dict:
    """The host response shape: {id: {"found": bool, "terms": {term:
    {"term_freq": n[, "doc_freq", "ttf"][, "tokens": [{"position",
    "start_offset", "end_offset"}, ...]]}}[, "field_statistics"]}}.

    ``index`` (a BM25Index) is required for term_statistics /
    field_statistics — the host reads those from shard stats; without a
    stored index there is nothing to read them from."""
    if (term_statistics or field_statistics) and index is None:
        raise ValueError(
            "term_statistics/field_statistics need an index to read "
            "df/ttf from (the host reads shard-level stats)"
        )
    ids = [int(i) for i in ids]
    idf = corpus.sparkSession.createDataFrame(
        [(i,) for i in ids], schema=f"{id_col} long"
    )
    rows = (
        corpus.join(F.broadcast(idf), id_col, "left_semi")
        .select(id_col, text_col)
        .collect()
    )
    texts = {int(r[id_col]): r[text_col] for r in rows}

    # one batched dictionary point-read for every distinct term across
    # the requested docs (not one read per doc)
    stats: dict[str, tuple[int, int]] = {}
    if term_statistics:
        all_terms = sorted(
            {
                t
                for txt in texts.values()
                for t, _, _, _ in analyze_with_offsets(txt or "")
            }
        )
        stats = index.term_stats_full(all_terms)

    out: dict = {}
    for i in ids:
        if i not in texts:
            out[i] = {"found": False}
            continue
        terms: dict[str, dict] = {}
        for term, pos, start, end in analyze_with_offsets(texts[i] or ""):
            e = terms.setdefault(term, {"term_freq": 0, "tokens": []})
            e["term_freq"] += 1
            tok: dict = {}
            if positions:
                tok["position"] = pos
            if offsets:
                tok["start_offset"] = start
                tok["end_offset"] = end
            if tok:
                e["tokens"].append(tok)
        if not (positions or offsets):
            for e in terms.values():
                e.pop("tokens")
        if term_statistics:
            for term, e in terms.items():
                df_, cf_ = stats.get(term, (0, 0))
                e["doc_freq"] = df_
                e["ttf"] = cf_
        doc: dict = {"found": True, "terms": terms}
        if field_statistics:
            doc["field_statistics"] = index.field_stats()
        out[i] = doc
    return out


def termvectors_frame(
    corpus: DataFrame,
    ids: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
    with_df: bool = True,
) -> DataFrame:
    """Distributed / index-free twin: (id, term, term_freq[, doc_freq])
    rows for the requested docs. tf explodes the ≤len(ids) fetched rows;
    df is ONE corpus pass whose exploded term stream is filtered
    map-side by the broadcast term set (only matching terms enter the
    distinct-count shuffle — at 10^12 turns the shuffle carries
    |matching postings|, never the corpus)."""
    spark = corpus.sparkSession
    idf = spark.createDataFrame(
        [(int(i),) for i in ids], schema=f"{id_col} long"
    )
    fetched = corpus.join(F.broadcast(idf), id_col, "left_semi").select(
        id_col, tokenize_expr(text_col).alias("__toks")
    )
    tf = (
        fetched.select(id_col, F.explode("__toks").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("term_freq"))
    )
    if not with_df:
        return tf
    # the docs' own vocabulary is small (≤ ids × dl); broadcast it into
    # the corpus pass so the df count only shuffles matching terms
    vocab = tf.select("term").distinct()
    df_counts = (
        corpus.select(
            F.col(id_col).alias("__d"),
            F.explode(F.array_distinct(tokenize_expr(text_col))).alias(
                "term"
            ),
        )
        .join(F.broadcast(vocab), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    return tf.join(F.broadcast(df_counts), "term").select(
        id_col, "term", "term_freq", "doc_freq"
    )
