"""Fuzzy matching: `match` with `fuzziness` (Lucene FuzzyQuery expansion).

Reference host behavior (OpenSearch core's MatchQuery with fuzziness,
which the plugin's hybrid text branches can carry): each analyzed token
becomes a FuzzyQuery — dictionary terms within `fuzziness` edits sharing
the first `prefix_length` characters, capped at `max_expansions` picked
CLOSEST-FIRST (FuzzyTermsEnum's top-terms queue orders by boost desc,
term asc). Scoring follows TopTermsBlendedFreqScoringRewrite →
BlendedTermQuery:

* boost(e) = 1 − distance(e)/min(len(e), len(token))
  (FuzzyTermsEnum: exact hits keep boost 1.0);
* document frequency is BLENDED across a token's expansion group —
  df_blend = max df in the group — so closer-but-rarer variants can't
  out-idf the exact term;
* a doc's score sums every matched expansion's
  boost · idf(df_blend) · tfnorm (SHOULD-clause disjunction).

Distances: `transpositions=True` (the OpenSearch default) uses the
OPTIMAL STRING ALIGNMENT variant (restricted Damerau-Levenshtein —
a transposition costs 1 but substrings can't be edited again after
transposing), matching Lucene's LevenshteinAutomata(transpositions);
`False` is plain Levenshtein. fuzziness="AUTO" resolves per token:
0 edits below 3 chars, 1 for 3-5, 2 above (OpenSearch Fuzziness.AUTO).

Spark-first shape: expansion is a DRIVER-side walk of the vocabulary-
sized dictionary (the coordinator-cheap pattern — Lucene's FuzzyTermsEnum
walks the terms index the same way; vocabulary ≪ corpus at any scale,
and prefix_length > 0 prunes the read to a parquet row-group range).
Web-scale caveat, enforced by default: a 100 TB text corpus's raw
vocabulary (typos included) can reach 10^8+ terms, where an unpruned
per-query DP walk stops being coordinator-cheap — prefix_length=0 over a
dictionary larger than ``UNPRUNED_DICT_LIMIT`` raises at call time
unless ``allow_unpruned_dictionary=True``. Set prefix_length ≥ 1 (the
standard operational guidance for fuzzy queries; 1 char ≈ 36× less
dictionary per query under this tokenizer, 2 chars ≈ 1300×), or
pre-filter the dictionary by df floor. Lucene's answer is Levenshtein AUTOMATA
intersected with the terms FST — the same pruning expressed as a trie
walk; the banded-DP + prefix-range walk here is the columnar equivalent.
Serving reuses the BM25 kernels verbatim with per-term weights
w = boost · idf_blend (`bm25.weighted_term_topk`), so fuzzy queries get
the same MaxScore/driver paths as plain match. The index-free corpus
scan derives the vocabulary and dfs from the scoped frame (filtered
sub-query stats convention) and scores through one broadcast weights
join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ranking import local_page
from ..tokenizer import tokenize_expr, tokenize_py
from .bm25 import BM25Index, lucene_idf, weighted_term_topk

# safe-by-default cap on the prefix_length=0 full-dictionary walk: above
# this vocabulary size a per-query unpruned DP scan stops being
# coordinator-cheap, so the guard raises with the standard mitigations
# (prefix_length >= 1, or the explicit allow_unpruned_dictionary opt-in)
UNPRUNED_DICT_LIMIT = 1_000_000


def _guard_unpruned_walk(
    index: BM25Index, what: str, allow_unpruned_dictionary: bool
) -> None:
    if allow_unpruned_dictionary:
        return
    nt = index.n_terms()
    if nt > UNPRUNED_DICT_LIMIT:
        raise ValueError(
            f"{what} with prefix_length=0 would walk the full "
            f"{nt}-term dictionary (> UNPRUNED_DICT_LIMIT="
            f"{UNPRUNED_DICT_LIMIT}) per query — set prefix_length >= 1 "
            "(prunes the walk to a parquet row-group range) or pass "
            "allow_unpruned_dictionary=True to override"
        )


def levenshtein(a: str, b: str) -> int:
    """Plain Levenshtein distance (insert/delete/substitute), DP rows."""
    if a == b:
        return 0
    if not a or not b:
        return len(a) + len(b)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        for j, cb in enumerate(b, 1):
            cur[j] = min(
                prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)
            )
        prev = cur
    return prev[-1]


def osa_distance(a: str, b: str) -> int:
    """Optimal-string-alignment distance: Levenshtein + adjacent
    transposition costing 1, where transposed pairs can't be re-edited —
    the restricted Damerau-Levenshtein Lucene's fuzzy automata implement
    (NOT the unrestricted variant: osa('ca','abc') = 3, full DL = 2)."""
    if a == b:
        return 0
    if not a or not b:
        return len(a) + len(b)
    d = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
    for i in range(len(a) + 1):
        d[i][0] = i
    for j in range(len(b) + 1):
        d[0][j] = j
    for i in range(1, len(a) + 1):
        for j in range(1, len(b) + 1):
            cost = a[i - 1] != b[j - 1]
            d[i][j] = min(
                d[i - 1][j] + 1, d[i][j - 1] + 1, d[i - 1][j - 1] + cost
            )
            if (
                i > 1
                and j > 1
                and a[i - 1] == b[j - 2]
                and a[i - 2] == b[j - 1]
            ):
                d[i][j] = min(d[i][j], d[i - 2][j - 2] + 1)
    return d[-1][-1]


def resolve_fuzziness(fuzziness, token: str) -> int:
    """'AUTO' → 0/1/2 by token length (OpenSearch Fuzziness.AUTO
    breakpoints 3 and 6); ints pass through, capped at Lucene's
    MAXIMUM_SUPPORTED_DISTANCE of 2."""
    if isinstance(fuzziness, str):
        if fuzziness.upper() != "AUTO":
            return min(int(fuzziness), 2)
        n = len(token)
        return 0 if n < 3 else (1 if n <= 5 else 2)
    return min(int(fuzziness), 2)


def fuzzy_expansions(
    vocab: list[tuple[str, int]],
    token: str,
    fuzziness="AUTO",
    prefix_length: int = 0,
    transpositions: bool = True,
    max_expansions: int = 50,
) -> list[tuple[str, int, float]]:
    """(term, df, boost) expansions of one token against a (term, df)
    dictionary, closest-first (boost desc, term asc), ≤ max_expansions.
    Length banding (|len diff| ≤ maxEdits) prunes before the DP."""
    max_edits = resolve_fuzziness(fuzziness, token)
    dist = osa_distance if transpositions else levenshtein
    pre = token[:prefix_length]
    n = len(token)
    out = []
    for term, df in vocab:
        if abs(len(term) - n) > max_edits:
            continue
        if pre and not term.startswith(pre):
            continue
        d = 0 if term == token else dist(term, token)
        if d > max_edits:
            continue
        boost = 1.0 - d / min(len(term), n) if d else 1.0
        out.append((term, df, boost))
    out.sort(key=lambda x: (-x[2], x[0]))
    return out[: max(int(max_expansions), 0)]


def fuzzy_term_weights(
    vocab: list[tuple[str, int]],
    tokens: list[str],
    n_docs: int,
    fuzziness="AUTO",
    prefix_length: int = 0,
    transpositions: bool = True,
    max_expansions: int = 50,
) -> dict[str, float]:
    """Blended per-term weights for a fuzzy match query: per token,
    expansions get w = boost · idf(max df of the token's group); a term
    reached from several tokens (several SHOULD clauses on the same term)
    sums its weights, like duplicate BooleanQuery clauses."""
    weights: dict[str, float] = {}
    for tok in tokens:
        exps = fuzzy_expansions(
            vocab, tok, fuzziness, prefix_length, transpositions,
            max_expansions,
        )
        if not exps:
            continue
        df_blend = max(df for _, df, _ in exps)
        idf_b = lucene_idf(n_docs, df_blend)
        for term, _, boost in exps:
            weights[term] = weights.get(term, 0.0) + boost * idf_b
    return weights


def fuzzy_match_topk(
    index: BM25Index,
    query_text: str,
    k: int = 10,
    fuzziness="AUTO",
    prefix_length: int = 0,
    transpositions: bool = True,
    max_expansions: int = 50,
    mode: str = "auto",
    allow_unpruned_dictionary: bool = False,
    raw_tokens: list[str] | None = None,
) -> DataFrame:
    """Index-backed fuzzy match top-k → (doc_id, score, rank): dictionary
    expansion on the driver (prefix range pushdown when prefix_length>0),
    then the standard BM25 kernels with blended weights.

    prefix_length=0 walks the FULL dictionary per query; above
    ``UNPRUNED_DICT_LIMIT`` terms this raises unless
    ``allow_unpruned_dictionary=True`` (the 100-TB-safe default — see the
    module docstring's web-scale caveat)."""
    spark = index.spark
    # raw_tokens: the standalone `fuzzy` query's un-analyzed contract —
    # the verbatim value(s) expand against the dictionary with no
    # tokenization (case/punctuation differences count as edits)
    tokens = (
        [t for t in raw_tokens if t]
        if raw_tokens is not None
        else tokenize_py(query_text)
    )
    if not tokens:
        return local_page(spark, [], np.float32([]))
    if prefix_length <= 0:
        _guard_unpruned_walk(index, "fuzzy match", allow_unpruned_dictionary)
    if prefix_length > 0:
        vocab = []
        seen: set[str] = set()
        for tok in sorted({t[:prefix_length] for t in tokens}):
            for term, df in index.dictionary(prefix=tok):
                if term not in seen:
                    seen.add(term)
                    vocab.append((term, df))
    else:
        vocab = index.dictionary()
    weights = fuzzy_term_weights(
        vocab, tokens, index.n_docs, fuzziness, prefix_length,
        transpositions, max_expansions,
    )
    return weighted_term_topk(index, weights, k=k, mode=mode)


def fuzzy_match_scored_scan(
    docs: DataFrame,
    query_text: str,
    fuzziness="AUTO",
    prefix_length: int = 0,
    transpositions: bool = True,
    max_expansions: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    raw_tokens: list[str] | None = None,
) -> DataFrame:
    """Index-free fuzzy match scores → (doc_id, score double): vocabulary
    and dfs come from the SCOPED frame (two vocabulary-bounded driver
    collects — the filtered-sub-query stats convention), scoring is one
    tokenize→explode pass joined to the broadcast weights table."""
    spark = docs.sparkSession
    empty = local_page(spark, [], []).drop("rank")
    tokens = (
        [t for t in raw_tokens if t]
        if raw_tokens is not None
        else tokenize_py(query_text)
    )
    if not tokens:
        return empty
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        tokenize_expr(text_col).alias("toks"),
    ).withColumn("dl", F.size("toks"))
    srow = toks.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(srow["n"]), float(srow["avgdl"] or 1.0)
    tokpos = toks.select("doc_id", "dl", F.explode("toks").alias("term"))
    vocab = [
        (r["term"], int(r["df"]))
        for r in tokpos.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .collect()
    ]
    weights = fuzzy_term_weights(
        vocab, tokens, n_docs, fuzziness, prefix_length, transpositions,
        max_expansions,
    )
    if not weights:
        return empty
    from .. import BM25_B, BM25_K1

    wdf = spark.createDataFrame(
        pd.DataFrame(
            {"term": list(weights), "w": np.array(list(weights.values()))}
        )
    )
    tf = (
        tokpos.join(F.broadcast(wdf), "term")
        .groupBy("doc_id", "dl", "term", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tf.withColumn(
            "contrib",
            F.col("w")
            * F.col("tf")
            / (
                F.col("tf")
                + F.lit(BM25_K1)
                * (1.0 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
