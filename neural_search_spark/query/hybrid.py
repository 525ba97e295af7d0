"""Hybrid-search layer: score normalization, combination and the top-k
merge of the reference's coordinator step
(processor/NormalizationProcessorWorkflow.java:64-107).

Each sub-query's hits are bounded to ``pagination_depth`` before
normalization (HybridCollectorManager.java:595-610), so the step fuses at
most 5 × depth rows: two numpy functions over a tall pandas frame.
``normalize`` adds ``norm_score`` to (subq, doc_id, score), each sub-query
over its own rows; ``combine`` returns (doc_id, score) by score desc,
doc_id asc (SORTING_TIE_BREAKER, processor/combination/ScoreCombiner.java
:43-56). ``hybrid_topk``, ``hybrid_explain`` and the engine call them on
branch pages read with ``toArrow()`` (a driver page costs no Spark job);
a tall DataFrame reaches them through ``groupBy(...).applyInPandas``.
Sub-query sums run in row order, each doc's combined sums in sub-query
order, and every normalized and combined score is rounded to float32.

Technique semantics verified line-by-line against the reference:

* min_max  (processor/normalization/MinMaxScoreNormalizationTechnique.java)
  - min/max per sub-query; max==min==s → 1.0 (SINGLE_RESULT_SCORE :46)
  - no lower_bounds → IGNORE mode: n=(s-min)/(max-min), n==0 → 0.001
    (MIN_SCORE :45, Mode.IGNORE :369-375)
  - lower_bounds per sub-query, modes (Mode enum :344-411):
      apply: (s-lb)/(max-lb) unless max<lb or s<lb → (s-min)/(max-min)
      clip:  s<min → 0; else apply-style without the s<lb fallback
      ignore: as no-bounds
* l2       (L2ScoreNormalizationTechnique.java:141-143): s/sqrt(Σs²);
  norm==0 → 0.001 (MIN_SCORE, not 0)
* z_score  (ZScoreNormalizationTechnique.java:204-222): sample std
  (commons-math DescriptiveStatistics = n-1); s==mean → max; std==0 → min;
  else (s-mean)/std, ≤0 → 0.001
* rrf      (RRFNormalizationTechnique.java:63-64,137): 1/(rank_constant +
  rank), rank 1-based over score desc / doc_id asc, rounded to 10 dp
  HALF_UP (BigDecimal :137) then cast float

Combination (processor/combination/*.java; missing sub-query slots are 0.0 —
ScoreCombiner.java:291-305 — so they count weight in arithmetic/rrf but are
skipped by geometric/harmonic):

* arithmetic_mean: Σ(w·s | s≥0) / (Σw over s≥0 ∪ missing); 0 if denom 0
* geometric_mean : exp(Σ(w·ln s | s>0)/Σw); 0 if no positive score
* harmonic_mean  : Σw / Σ(w/s) over s>0; 0 if none
* rrf            : Σ(w·s | s≥0) — weighted SUM, no division
  (RRFScoreCombinationTechnique.java:42-62)

Weights default to 1.0 per sub-query (ScoreCombinationUtil.java:88-90).
Max 5 sub-queries (query/HybridQueryBuilder.java:67).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..ranking import LocalPage, local_page, topk_rank_window

MAX_NUMBER_OF_SUB_QUERIES = 5  # reference query/HybridQueryBuilder.java:67
MIN_SCORE = 0.001
SINGLE_RESULT_SCORE = 1.0
DEFAULT_RANK_CONSTANT = 60

NORMALIZATION_TECHNIQUES = ("min_max", "l2", "z_score", "rrf")
COMBINATION_TECHNIQUES = (
    "arithmetic_mean",
    "geometric_mean",
    "harmonic_mean",
    "rrf",
)


@dataclass
class LowerBound:
    """Per-sub-query lower bound for min_max (mode: apply|clip|ignore)."""

    mode: str = "apply"
    min_score: float = 0.0


def _check(n_subqueries, normalization, combination, weights, rank_constant,
           pagination_depth) -> None:
    """Raise ValueError on any hybrid option the reference rejects."""
    if not 1 <= n_subqueries <= MAX_NUMBER_OF_SUB_QUERIES:
        raise ValueError(
            f"hybrid query accepts 1..{MAX_NUMBER_OF_SUB_QUERIES} sub-queries"
        )
    if normalization not in NORMALIZATION_TECHNIQUES:
        raise ValueError(f"unknown normalization technique: {normalization!r}")
    if combination not in COMBINATION_TECHNIQUES:
        raise ValueError(f"unknown combination technique: {combination!r}")
    if weights is not None:
        if len(weights) != n_subqueries:
            raise ValueError("number of weights must match number of sub-queries")
        if not all(math.isfinite(w) for w in weights):
            raise ValueError(f"hybrid weights must be finite, got {list(weights)}")
    if not 1 <= rank_constant <= 10000:
        raise ValueError("rank_constant must be in [1, 10000]")
    # reference: depth must be >0 (HybridQuery.java:70-73) and under the
    # max result window (HybridQueryBuilder.validatePaginationDepth)
    if pagination_depth is not None and not 1 <= pagination_depth <= 10000:
        raise ValueError("pagination_depth must be in [1, 10000]")


def _half_up(x: float) -> float:
    """``x`` rounded to 10 decimals HALF_UP from its shortest decimal form —
    the reference's BigDecimal rounding (and Spark's ``round``); numpy's
    ``round`` is half-to-even and differs at exact ties such as 1/2048."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-10"), ROUND_HALF_UP))


def _minmax(s, mn, mx, plain, lb: LowerBound | None) -> np.ndarray:
    if lb is None or lb.mode == "ignore":
        return np.where(plain == 0.0, MIN_SCORE, plain)
    bounded = (s - lb.min_score) / (mx - lb.min_score)
    if lb.mode == "apply":
        return np.where((mx < lb.min_score) | (s < lb.min_score), plain, bounded)
    if lb.mode == "clip":
        return np.where(s < mn, 0.0, np.where(mx < lb.min_score, plain, bounded))
    raise ValueError(f"invalid lower_bounds mode: {lb.mode}")


def _sample_std(x: list[float]) -> float:
    """Sample std by the streaming update Spark's ``stddev_samp`` runs
    (n-1, as commons-math's DescriptiveStatistics); NaN for one value."""
    n = mean = m2 = 0.0
    for v in x:
        n += 1.0
        delta = v - mean
        delta_n = delta / n
        mean += delta_n
        m2 += delta * (delta - delta_n)
    return math.sqrt(m2 / (n - 1.0)) if n > 1.0 else math.nan


def normalize(
    tall: pd.DataFrame,
    technique: str = "min_max",
    lower_bounds: list[LowerBound | None] | None = None,
    rank_constant: int = DEFAULT_RANK_CONSTANT,
) -> pd.DataFrame:
    """``tall``'s (subq, doc_id, score) rows with ``norm_score`` added,
    each sub-query normalized over its own rows. An undefined score (a
    bound equal to the max) is NaN and counts as a missing slot."""
    subq = tall["subq"].to_numpy(np.int64)
    s = tall["score"].to_numpy(np.float64)
    n = int(subq.max()) + 1 if subq.size else 0
    count = np.bincount(subq, minlength=n)
    with np.errstate(divide="ignore", invalid="ignore"):
        if technique in ("min_max", "z_score"):
            g = pd.Series(s).groupby(subq)
            mn = g.transform("min").to_numpy()
            mx = g.transform("max").to_numpy()
        if technique == "min_max":
            plain = (s - mn) / (mx - mn)
            if lower_bounds is None:
                out = _minmax(s, mn, mx, plain, None)
            else:
                if len(lower_bounds) > MAX_NUMBER_OF_SUB_QUERIES:
                    raise ValueError("lower bounds exceed the sub-query maximum")
                out = np.full(s.size, np.nan)
                for j, lb in enumerate(lower_bounds):
                    rows = subq == j
                    out[rows] = _minmax(s, mn, mx, plain, lb)[rows]
            # single-result edge case first: max==min==s → 1.0
            out = np.where((mx == mn) & (mx == s), SINGLE_RESULT_SCORE, out)
        elif technique == "l2":
            norm = np.sqrt(np.bincount(subq, weights=s * s, minlength=n))[subq]
            out = np.where(norm == 0.0, MIN_SCORE, s / norm)
        elif technique == "z_score":
            mean = (np.bincount(subq, weights=s, minlength=n) / count)[subq]
            std = np.array(
                [_sample_std(s[subq == j].tolist()) for j in range(n)]
            )[subq]
            z = (s - mean) / std
            z = np.where(z <= 0.0, MIN_SCORE, z)
            out = np.where(s == mean, mx, np.where(np.isnan(std) | (std == 0.0), mn, z))
        elif technique == "rrf":
            # 1-based rank per sub-query over score desc, doc_id asc
            order = np.lexsort((tall["doc_id"].to_numpy(), -s, subq))
            first = np.concatenate(([0], np.cumsum(count)[:-1]))
            rank = np.empty(s.size, dtype=np.int64)
            rank[order] = np.arange(s.size) - first[subq[order]] + 1
            table = [_half_up(1.0 / (rank_constant + r))
                     for r in range(1, int(count.max(initial=0)) + 1)]
            out = np.asarray(table, dtype=np.float64)[rank - 1]
        else:
            raise ValueError(f"unknown normalization technique: {technique}")
    return tall.assign(norm_score=np.asarray(out, np.float32).astype(np.float64))


def combine(
    normed: pd.DataFrame,
    n_subqueries: int,
    technique: str = "arithmetic_mean",
    weights: list[float] | None = None,
) -> pd.DataFrame:
    """One combined score per doc of ``normed`` (subq, doc_id,
    norm_score) → (doc_id, score), score desc, doc_id asc."""
    wts = list(weights) if weights is not None else [1.0] * n_subqueries
    total_w = float(sum(wts))
    subq = normed["subq"].to_numpy(np.int64)
    s = normed["norm_score"].to_numpy(np.float64)
    ids, slot = np.unique(normed["doc_id"].to_numpy(np.int64), return_inverse=True)
    w = np.asarray(wts, dtype=np.float64)[subq]

    def total(v: np.ndarray) -> np.ndarray:
        # per doc, summed in sub-query order; a missing slot adds 0.0
        acc = np.zeros(ids.size)
        for j in range(n_subqueries):
            rows = subq == j
            acc = acc + np.bincount(slot[rows], weights=v[rows], minlength=ids.size)
        return acc

    pos = s > 0.0
    with np.errstate(divide="ignore", invalid="ignore"):
        if technique in ("arithmetic_mean", "rrf"):
            # missing slots count weight (a 0.0 score passes the s>=0 gate)
            num = total(np.where(s >= 0.0, w * s, 0.0))
            den = total_w - total(np.where(s < 0.0, w, 0.0))
            val = num / den if technique == "arithmetic_mean" else num
            out = np.where(den == 0.0, 0.0, val)
        elif technique == "geometric_mean":
            pos_w = total(np.where(pos, w, 0.0))
            ln_sum = total(np.where(pos, w * np.log(np.where(pos, s, 1.0)), 0.0))
            out = np.where(pos_w == 0.0, 0.0, np.exp(ln_sum / pos_w))
        elif technique == "harmonic_mean":
            pos_w = total(np.where(pos, w, 0.0))
            harm = total(np.where(pos, w / s, 0.0))
            out = np.where(harm > 0.0, pos_w / harm, 0.0)
        else:
            raise ValueError(f"unknown combination technique: {technique}")
    score = out.astype(np.float32).astype(np.float64)
    order = np.lexsort((ids, -score))
    return pd.DataFrame({"doc_id": ids[order], "score": score[order]})


def _branch_tall(branches: list[DataFrame], depth: int | None) -> pd.DataFrame:
    """The branches' rows as one tall (subq, doc_id, score) frame, each
    branch ordered by score desc, doc_id asc and bounded to ``depth``.
    A driver page is read from its Arrow table; any other branch is
    bounded in Spark first (a TakeOrderedAndProject), then read."""
    parts = []
    for j, b in enumerate(branches):
        if depth is not None and not isinstance(b, LocalPage):
            b = b.orderBy(F.desc("score"), F.asc("doc_id")).limit(depth)
        t = b.toArrow()
        ids = t.column("doc_id").to_numpy().astype(np.int64)
        s = t.column("score").to_numpy().astype(np.float64)
        top = np.lexsort((ids, -s))[:depth]
        parts.append(pd.DataFrame({"subq": j, "doc_id": ids[top], "score": s[top]}))
    return pd.concat(parts, ignore_index=True)


def fuse(
    branches: list[DataFrame],
    normalization: str = "min_max",
    combination: str = "arithmetic_mean",
    weights: list[float] | None = None,
    lower_bounds: list[LowerBound | None] | None = None,
    rank_constant: int = DEFAULT_RANK_CONSTANT,
    pagination_depth: int | None = None,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(normalized tall, combined ranking) of the branch DataFrames."""
    _check(len(branches), normalization, combination, weights,
           rank_constant, pagination_depth)
    normed = normalize(
        _branch_tall(branches, pagination_depth), normalization,
        lower_bounds=lower_bounds, rank_constant=rank_constant,
    )
    return normed, combine(normed, len(branches), combination, weights)


def hybrid_topk(
    branches: list[DataFrame],
    k: int = 10,
    normalization: str = "min_max",
    combination: str = "arithmetic_mean",
    weights: list[float] | None = None,
    lower_bounds: list[LowerBound | None] | None = None,
    rank_constant: int = DEFAULT_RANK_CONSTANT,
    pagination_depth: int | None = None,
) -> LocalPage:
    """Full hybrid pipeline over per-sub-query scored DataFrames, each with
    columns (doc_id, score) — the reference's per-sub-query TopDocs lists
    (CompoundTopDocs). Returns the (doc_id, score, rank) page."""
    _, combined = fuse(branches, normalization, combination, weights,
                       lower_bounds, rank_constant, pagination_depth)
    top = combined.head(k)
    return local_page(branches[0].sparkSession, top["doc_id"], top["score"])


def hybrid_explain(
    branches: list[DataFrame],
    k: int = 10,
    normalization: str = "min_max",
    combination: str = "arithmetic_mean",
    weights: list[float] | None = None,
    lower_bounds: list[LowerBound | None] | None = None,
    rank_constant: int = DEFAULT_RANK_CONSTANT,
    pagination_depth: int | None = None,
) -> LocalPage:
    """Explain mode (reference hybrid_score_explanation response processor,
    processor/ExplanationResponseProcessor.java): for the final top-k docs,
    one row per (doc, sub-query) with the raw score, normalized score,
    weight, technique names and the combined score — the intermediate
    columns the normal pipeline folds away."""
    normed, combined = fuse(branches, normalization, combination, weights,
                            lower_bounds, rank_constant, pagination_depth)
    wts = np.asarray(weights if weights is not None else [1.0] * len(branches))
    top = combined.head(k).rename(columns={"score": "combined_score"})
    rows = top.merge(normed, on="doc_id")
    rows = rows.assign(
        subq=rows["subq"].astype(np.int32),
        raw_score=rows["score"],
        weight=wts[rows["subq"].to_numpy()].astype(np.float64),
        normalization_technique=normalization,
        combination_technique=combination,
    )[["doc_id", "subq", "raw_score", "norm_score", "weight", "combined_score",
       "normalization_technique", "combination_technique"]]
    return LocalPage(
        branches[0].sparkSession, pa.Table.from_pandas(rows, preserve_index=False)
    )


def inner_hits(
    parents: DataFrame,
    children: DataFrame,
    k_children: int = 3,
    child_score_col: str = "chunk_score",
    child_key_cols: tuple[str, ...] = ("chunk_idx",),
) -> DataFrame:
    """Inner hits: per-parent top child sub-documents attached to the parent
    result (reference query/HybridQueryBuilder.java:287-289,419-423 extracts
    inner-hit contexts; e2e HybridQueryInnerHitsIT). For a semantic-field
    corpus the children are the parent doc's chunks.

    parents:  (doc_id, score, rank) — the already-bounded top-k hits.
    children: (doc_id, <child_key_cols>, <child_score_col>, ...).

    Returns one row per (parent, child) with parent_score/parent_rank and a
    1-based child_rank ordered by child score desc / child keys asc.

    Scale shape: the k parent rows broadcast into a hash-semi join against
    the (potentially corpus-sized) child table, so child scoring stays a
    map-side pass; the per-parent rank window sees ≤ the matched children
    of k parents — never a global window."""
    p = F.broadcast(
        parents.select(
            "doc_id",
            F.col("score").alias("parent_score"),
            F.col("rank").alias("parent_rank"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc(child_score_col), *[F.asc(c) for c in child_key_cols]
    )
    return (
        children.join(p, "doc_id")
        .withColumn("child_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("child_rank") <= k_children)
    )


def rerank_by_field(
    results: DataFrame, source: DataFrame, target_field: str, k: int | None = None
) -> DataFrame:
    """rerank.by_field: replace _score with a numeric field from the source
    doc and re-sort desc (reference processor/rerank/ByFieldRerankProcessor.java:72-208).
    results: (doc_id, score, ...); source must contain doc_id + target_field."""
    out = (
        results.select("doc_id")
        .join(source.select("doc_id", target_field), "doc_id")
        .withColumn("score", F.col(target_field).cast("double"))
        .drop(target_field)
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )
    if k is not None:
        out = out.limit(k)
    w = topk_rank_window(F.desc("score"), F.asc("doc_id"))
    return out.withColumn("rank", F.row_number().over(w).cast("int"))


def collapse_top1(
    scored: DataFrame, collapse_field: str, k: int = 10
) -> DataFrame:
    """Field-collapse: best doc per collapse-field value, then global top-k —
    the reference's HybridCollapsingTopDocsCollector (per-group hit queues,
    search/collector/HybridCollapsingTopDocsCollector.java:42-500) expressed
    as the Spark dedup-by-rank idiom."""
    wg = Window.partitionBy(collapse_field).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    best = scored.withColumn("_rn", F.row_number().over(wg)).filter(
        F.col("_rn") == 1
    ).drop("_rn")
    w = topk_rank_window(F.desc("score"), F.asc("doc_id"))
    return (
        best.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )
