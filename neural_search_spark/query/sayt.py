"""search_as_you_type — the host's autocomplete FIELD TYPE (distinct
from the completion suggester): indexing a field as search_as_you_type
creates shingle subfields `._2gram` / `._3gram`, and the canonical query
is a multi_match of type bool_prefix across the root field and the
shingle subfields, so that the growing query string matches documents on
progressively longer word n-grams while the trailing (possibly partial)
token matches as a prefix.

Reference surface (public OpenSearch API): SearchAsYouTypeFieldMapper's
shingle subfields + the documented `multi_match type=bool_prefix` query
over `[field, field._2gram, field._3gram]`.

Spark-first shape:

* **Index time** — `shingle_col(col, n)` derives each subfield's token
  stream as pure Catalyst (`transform(sequence(...), i ->
  array_join(slice(toks, i, n), ' '))` — whole-stage codegen, no UDF),
  and each subfield is an ordinary block index built with
  `IndexBuilder(..., tokens_col=...)` (the pre-analyzed-field path): the
  same salted skew-safe build, dictionary, and serving kernels, just
  with multi-word terms. Nothing about the inverted-index machinery is
  shingle-aware — exactly Lucene's shape, where the subfield is a
  normal field with a shingle analyzer.
* **Query time** — per subfield, the query's OWN shingle stream: all
  complete shingles are SHOULD term clauses, the LAST shingle (which
  ends in the user's partial token) is a constant-score prefix clause —
  `match_bool_prefix_topk(..., tokens=shingles)` serves it from that
  subfield's index (one dictionary range read + one postings pass).
  Fields with fewer query tokens than their shingle size contribute
  nothing (the host omits those clauses the same way). The per-field
  top-k frames combine with a doc-keyed dis-max (multi_match
  tie_breaker=0, the host default) — exact by the containment argument
  in query/multimatch.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ranking import batch_page, local_page
from ..tokenizer import tokenize_expr, tokenize_py

__all__ = [
    "shingle_col",
    "shingles_py",
    "build_sayt_indexes",
    "search_as_you_type_topk",
    "search_as_you_type_batch",
]


def shingles_py(tokens: list[str], n: int) -> list[str]:
    """Word n-grams as single space-joined terms (query-side analysis,
    identical to shingle_col)."""
    if n <= 1:
        return list(tokens)
    return [
        " ".join(tokens[i: i + n]) for i in range(len(tokens) - n + 1)
    ]


def shingle_col(col: Column | str, n: int) -> Column:
    """array<string> of word n-gram shingles of the analyzed text — pure
    Catalyst, stays in whole-stage codegen."""
    toks = tokenize_expr(col) if isinstance(col, str) else col
    if n <= 1:
        return toks
    return _shingle_expr(toks, n)


def _shingle_expr(toks: Column, n: int) -> Column:
    # slice/array_join over a sequence of start offsets; docs shorter
    # than the shingle size yield an EMPTY array (Spark's sequence(1, 0)
    # would descend, so gate it with a when)
    starts = F.when(
        F.size(toks) >= n,
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
    ).otherwise(F.expr("array()").cast("array<int>"))
    return F.transform(
        starts, lambda i: F.array_join(F.slice(toks, i, n), " ")
    )


def build_sayt_indexes(
    spark: SparkSession,
    out_dir: str,
    transcripts: DataFrame,
    text_col: str = "text",
    max_shingle: int = 3,
    grams: tuple[int, ...] | None = None,
    concurrent: bool = True,
    **builder_kw,
):
    """Build the root index + shingle subfield indexes under
    `{out_dir}/gram{n}`. Returns {n: BM25Index} for n in `grams`
    (default 1..max_shingle; pass e.g. ``grams=(2, 3)`` when the root
    field already has an index).

    ONE corpus scan + tokenize feeds every subfield build: the base
    token array is materialized and PERSISTED once, and each subfield's
    shingle stream is a pure-Catalyst transform over that bound column —
    the per-field builds then reuse the identical salted/skew-safe
    pipeline via the pre-analyzed tokens_col path. This mirrors Lucene's
    shape, where one analysis chain per document feeds all
    search_as_you_type subfields in the same indexing pass; at 100 TB
    the corpus scan+tokenize must not run once per subfield. (For a
    corpus too large for cluster cache, checkpoint the tokenized form to
    parquet first and pass that frame — the builds below only ever read
    the persisted columns.)

    concurrent=True (default) submits the per-field builds from one
    Python thread per field: Spark schedules their jobs together, so
    one field's driver-side phases (dictionary/stats collects, parquet
    commits) overlap another field's executor-bound stages instead of
    serializing the whole pipeline per field — measured ~1.6× on the
    bench's (2,3) pair at sf0.1 (interleaved A/B, quiet window). Results are byte-identical to the
    sequential path (each field's build is independent)."""
    from ..index.build import IndexBuilder
    from .bm25 import BM25Index

    if not isinstance(out_dir, str):
        # a swapped DataFrame argument would otherwise become a
        # directory named after the frame's repr
        raise TypeError(
            f"out_dir must be a str path, got {type(out_dir).__name__}"
        )
    if not (2 <= max_shingle <= 4):
        raise ValueError("max_shingle must be 2..4 (host allows 2..4)")
    sizes = tuple(grams) if grams is not None else tuple(
        range(1, max_shingle + 1)
    )
    if any(not 1 <= n <= 4 for n in sizes):
        raise ValueError(
            f"shingle sizes must be 1..4 (the root field plus the host's "
            f"2..4 subfields), got {sizes}"
        )
    # materialize the base token array in its own column FIRST: passing
    # the tokenize expression tree into the transform lambda would
    # re-evaluate tokenization per shingle position (O(dl²) — measured
    # 12× build cost), while a bound column reference is evaluated once
    from pyspark import StorageLevel

    base = transcripts.withColumn(
        "__sayt_base", tokenize_expr(text_col)
    ).persist(StorageLevel.MEMORY_AND_DISK)

    def _build_one(n: int) -> tuple[int, str]:
        path = f"{out_dir}/gram{n}"
        if n == 1:
            src = base
            kw = dict(builder_kw, tokens_col="__sayt_base")
        else:
            src = base.withColumn(
                "__sayt_toks", _shingle_expr(F.col("__sayt_base"), n)
            )
            kw = dict(builder_kw, tokens_col="__sayt_toks")
        IndexBuilder(spark, path, **kw).build(src)
        return n, path

    try:
        if concurrent and len(sizes) > 1:
            from concurrent.futures import ThreadPoolExecutor

            # materialize the shared token cache BEFORE the concurrent
            # builds: otherwise both kick off the same uncached scan and
            # serialize on per-partition block locks instead of reading
            base.count()
            with ThreadPoolExecutor(max_workers=len(sizes)) as ex:
                built = list(ex.map(_build_one, sizes))
        else:
            built = [_build_one(n) for n in sizes]
    finally:
        base.unpersist()
    return {n: BM25Index(spark, path) for n, path in built}


def search_as_you_type_topk(
    indexes: dict,
    query_text: str,
    k: int = 10,
    mode: str = "auto",
) -> DataFrame:
    """The canonical SAYT query: multi_match type=bool_prefix over the
    root + shingle subfields (tie_breaker=0 dis-max). `indexes` is
    {shingle_size: BM25Index} as returned by build_sayt_indexes."""
    from .multimatch import _dismax_union_topk
    from .multiterm import match_bool_prefix_topk

    tokens = tokenize_py(query_text)
    parts = []
    for n in sorted(indexes):
        sh = shingles_py(tokens, n)
        if not sh:
            continue  # query shorter than the shingle size
        part = match_bool_prefix_topk(
            indexes[n], query_text, k=k, mode=mode, tokens=sh
        )
        parts.append(
            part.select(
                "doc_id", F.col("score").cast("double").alias("score")
            )
        )
    if not parts:
        return local_page(indexes[min(indexes)].spark, [], [])
    return _dismax_union_topk(parts, k)


def search_as_you_type_batch(
    indexes: dict,
    queries: list[tuple[str, str]],
    k: int = 10,
) -> DataFrame:
    """SAYT for a BATCH of queries — the autocomplete-cluster throughput
    shape: ONE Spark job per subfield index for the whole query set
    (``match_bool_prefix_topk_batch``, decode cache shared across the
    batch's queries — autocomplete batches share prefixes heavily), then
    one doc-keyed dis-max (tie_breaker=0) + per-query window top-k.

    queries: [(query_id, query_text)] → (query_id, doc_id, score, rank),
    score-identical per query to ``search_as_you_type_topk`` by the same
    per-field top-k containment argument (final score = max over fields,
    so every final top-k doc is in some field's per-query top-k)."""
    from .multiterm import match_bool_prefix_topk_batch

    spark = indexes[min(indexes)].spark
    toks_by_qid = {
        qid: tokenize_py(text) for qid, text in queries
    }
    parts = []
    for n in sorted(indexes):
        sh_by_qid = {
            qid: sh
            for qid, toks in toks_by_qid.items()
            if (sh := shingles_py(toks, n))
        }
        if not sh_by_qid:
            continue  # every query shorter than this shingle size
        part = match_bool_prefix_topk_batch(
            indexes[n],
            [(qid, "") for qid in sh_by_qid],
            k=k,
            tokens_by_qid=sh_by_qid,
        )
        parts.append(
            part.select(
                "query_id",
                "doc_id",
                # match the single-query path's public schema (double)
                F.col("score").cast("double").alias("score"),
            )
        )
    if not parts:
        return spark.createDataFrame(
            [], schema="query_id string, doc_id long, score double, rank int"
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    dismax = allp.groupBy("query_id", "doc_id").agg(
        F.max("score").alias("score")
    )
    return batch_page(dismax, k)
