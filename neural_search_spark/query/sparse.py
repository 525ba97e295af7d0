"""neural_sparse scoring + prune utilities + two-phase execution.

Reference semantics:
* scoring (query/NeuralSparseQueryBuilder.java:497-506): the sparse query is
  a bag of (token, query_weight); doc score = Σ over shared tokens of
  query_weight × doc_weight (Lucene FeatureField linear), scores ≥ 0.
* prune (util/prune/PruneUtils.java:34-159), four strategies:
    top_k     — keep the k highest-weight tokens
    max_ratio — keep tokens with w ≥ ratio · max(w)
    abs_value — keep tokens with w ≥ threshold
    alpha_mass — sort desc, keep while running sum ≤ alpha · total
  Ties in top_k/alpha_mass are iteration-order-dependent in the reference
  (HashMap order); this engine breaks ties deterministically by token asc.
* two-phase (processor/NeuralSparseTwoPhaseProcessor.java:37-252): split
  query tokens with max_ratio (default 0.4); phase 1 scores only high-weight
  tokens and takes a candidate window of size k·expansion_rate (default 5.0,
  capped at 10000); phase 2 adds the low-weight tokens' contributions for the
  candidates only, then re-ranks. When every phase-1-matched doc fits the
  window, results equal single-pass scoring exactly.

Everything is DataFrame ops: explode → broadcast join → groupBy sum; prune as
Window expressions over the exploded form (and an equivalent Arrow pandas UDF
over MapType for ingest pipelines).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..ranking import topk_page

DEFAULT_TWO_PHASE_PRUNE_RATIO = 0.4  # NeuralSparseTwoPhaseProcessor.java:50
DEFAULT_EXPANSION_RATE = 5.0
MAX_WINDOW_SIZE = 10000

PRUNE_TYPES = ("top_k", "max_ratio", "abs_value", "alpha_mass")


# --------------------------------------------------------------------------
# scoring
# --------------------------------------------------------------------------
def sparse_score(
    docs: DataFrame,
    query_tokens: dict[str, float],
    features_col: str = "features",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score docs with MapType feature column against query token weights.
    Returns (doc_id, score) for docs sharing ≥1 token, score = Σ q_w·d_w."""
    spark = docs.sparkSession
    q = spark.createDataFrame(
        pd.DataFrame(
            {"token": list(query_tokens), "q_w": list(query_tokens.values())}
        )
    )
    exploded = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(features_col).alias("token", "d_w"),
    )
    return (
        exploded.join(F.broadcast(q), "token")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("q_w") * F.col("d_w")).cast("float").cast("double").alias("score")
        )
    )


def sparse_topk(
    docs: DataFrame, query_tokens: dict[str, float], k: int = 10, **kw
) -> DataFrame:
    scored = sparse_score(docs, query_tokens, **kw)
    return topk_page(scored, k)


def sparse_topk_two_phase(
    docs: DataFrame,
    query_tokens: dict[str, float],
    k: int = 10,
    prune_ratio: float = DEFAULT_TWO_PHASE_PRUNE_RATIO,
    expansion_rate: float = DEFAULT_EXPANSION_RATE,
    max_window_size: int = MAX_WINDOW_SIZE,
    features_col: str = "features",
    id_col: str = "doc_id",
) -> DataFrame:
    """Two-phase sparse top-k: high-weight tokens generate candidates, the
    low-weight (typically hot) tokens are only joined against the candidate
    window — the same candidate-then-rescore trick the reference wires through
    a QueryRescorer (NeuralSparseTwoPhaseProcessor.java:92-160)."""
    high, low = split_tokens_max_ratio(query_tokens, prune_ratio)
    window = int(k * expansion_rate)
    if window > max_window_size:
        # reference THROWS instead of clamping
        # (NeuralSparseTwoPhaseProcessor.java:183-189)
        raise ValueError(
            f"two-phase window k*expansion_rate = {window} exceeds "
            f"max_window_size = {max_window_size}"
        )
    phase1 = sparse_score(docs, high, features_col, id_col)
    candidates = phase1.orderBy(F.desc("score"), F.asc("doc_id")).limit(window)
    if low:
        spark = docs.sparkSession
        q2 = spark.createDataFrame(
            pd.DataFrame({"token": list(low), "q_w": list(low.values())})
        )
        exploded = docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(features_col).alias("token", "d_w"),
        )
        add = (
            exploded.join(F.broadcast(q2), "token")
            .join(F.broadcast(candidates.select("doc_id")), "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.sum(F.col("q_w") * F.col("d_w")).alias("add_score"))
        )
        rescored = (
            candidates.join(add, "doc_id", "left")
            .withColumn(
                "score",
                (F.col("score") + F.coalesce(F.col("add_score"), F.lit(0.0)))
                .cast("float")
                .cast("double"),
            )
            .drop("add_score")
        )
    else:
        rescored = candidates
    return topk_page(rescored, k)


# --------------------------------------------------------------------------
# prune — driver-side (query token maps)
# --------------------------------------------------------------------------
def prune_tokens(
    tokens: dict[str, float], prune_type: str, ratio: float
) -> dict[str, float]:
    if prune_type == "top_k":
        # ties broken by token asc (deterministic, matches prune_exploded)
        kept = sorted(tokens.items(), key=lambda kv: (-kv[1], kv[0]))[
            : int(ratio)
        ]
        return dict(kept)
    if prune_type == "max_ratio":
        mx = max(tokens.values(), default=0.0)
        return {t: w for t, w in tokens.items() if w >= ratio * mx}
    if prune_type == "abs_value":
        return {t: w for t, w in tokens.items() if w >= ratio}
    if prune_type == "alpha_mass":
        total = sum(tokens.values())
        out, run = {}, 0.0
        for t, w in sorted(tokens.items(), key=lambda kv: (-kv[1], kv[0])):
            run += w
            if run <= ratio * total:
                out[t] = w
            else:
                break
        return out
    raise ValueError(f"unknown prune type: {prune_type}")


def split_tokens_max_ratio(
    tokens: dict[str, float], ratio: float
) -> tuple[dict[str, float], dict[str, float]]:
    """PruneUtils.splitSparseVector with max_ratio: (high, low)."""
    mx = max(tokens.values(), default=0.0)
    high = {t: w for t, w in tokens.items() if w >= ratio * mx}
    low = {t: w for t, w in tokens.items() if w < ratio * mx}
    return high, low


# --------------------------------------------------------------------------
# prune — DataFrame-side (document feature maps, ingest pipeline)
# --------------------------------------------------------------------------
def prune_features_map(
    docs: DataFrame, prune_type: str, ratio: float, features_col: str = "features"
) -> DataFrame:
    """Prune a MapType(String,Float) column via an Arrow pandas UDF (the
    sparse_encoding ingest processor's prune step,
    processor/SparseEncodingProcessor.java:84-92)."""

    @F.pandas_udf(T.MapType(T.StringType(), T.FloatType()))
    def _prune(maps: pd.Series) -> pd.Series:
        return maps.map(
            lambda m: prune_tokens(dict(m), prune_type, ratio)
            if m is not None
            else None
        )

    return docs.withColumn(features_col, _prune(F.col(features_col)))


def prune_exploded(
    exploded: DataFrame,
    prune_type: str,
    ratio: float,
    id_col: str = "doc_id",
    token_col: str = "token",
    weight_col: str = "weight",
) -> DataFrame:
    """Same prune semantics as pure Window expressions over the tall form
    (id, token, weight) — SQL-expressible, used for oracle parity."""
    w = Window.partitionBy(id_col)
    wt = F.col(weight_col)
    if prune_type == "top_k":
        rn = F.row_number().over(
            w.orderBy(F.desc(weight_col), F.asc(token_col))
        )
        return exploded.withColumn("_rn", rn).filter(
            F.col("_rn") <= int(ratio)
        ).drop("_rn")
    if prune_type == "max_ratio":
        return exploded.withColumn("_mx", F.max(wt).over(w)).filter(
            wt >= F.lit(ratio) * F.col("_mx")
        ).drop("_mx")
    if prune_type == "abs_value":
        return exploded.filter(wt >= F.lit(ratio))
    if prune_type == "alpha_mass":
        run = F.sum(wt).over(
            w.orderBy(F.desc(weight_col), F.asc(token_col)).rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        total = F.sum(wt).over(w)
        return (
            exploded.withColumn("_run", run)
            .withColumn("_tot", total)
            .filter(F.col("_run") <= F.lit(ratio) * F.col("_tot"))
            .drop("_run", "_tot")
        )
    raise ValueError(f"unknown prune type: {prune_type}")
