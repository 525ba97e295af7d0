"""Rank evaluation — the reference host's `_rank_eval` API (the Lucene
/ OpenSearch RankEval module: `RankEvalRequest` → per-request ranked
hits joined against human relevance ratings → one quality metric per
request plus the arithmetic-mean overall score).

Metrics implemented, matching the published OpenSearch semantics:

* ``precision`` @k — relevant-retrieved / retrieved-considered, with
  ``relevant_rating_threshold`` (default 1) and ``ignore_unlabeled``
  (default False: an unrated hit counts against precision; True: it is
  dropped from the denominator).
* ``recall`` @k — relevant-retrieved / total-relevant-in-ratings.
* ``mean_reciprocal_rank`` @k — 1/rank of the first relevant hit, 0 if
  none in the window.
* ``dcg`` @k — Σ (2^rating − 1) / log2(rank + 1) over the window with
  unlabeled hits contributing 0; ``normalize: true`` divides by the
  ideal DCG computed from the request's OWN ratings sorted descending
  (NDCG), 0 when the ideal is 0.
* ``expected_reciprocal_rank`` @k — Cascade-model ERR with
  ``maximum_relevance`` M: R_i = (2^g_i − 1)/2^M and
  ERR = Σ_r (1/r)·R_r·Π_{i<r}(1 − R_i), unlabeled g = 0.

Execution shape (the 100-TB story): the request batch routes through
``Engine.msearch`` — plain match requests share ONE read of their
union's postings + decode cache (`bm25_topk_batch`), phrase/span
requests share one positions read; each batch is scored on the driver
when its union's Σdf is under the gate, else in one Spark job — so
evaluating a 10 000-query judgment set is a handful of Spark jobs at
most, not 10 000. The metric math itself is pure
Catalyst over the (query_id, doc_id, rank) hit frame joined to the
ratings frame: window functions + exp/ln cumulative products, zero
Python UDFs, so it runs where the hits already are and never collects
anything wider than one row per request.

Reference parity notes: the reference plugin has no rank-eval code of
its own — it relies on the host's RankEval module; cited here as the
host-API surface a reference user would exercise against this engine
(metric formulas per the OpenSearch `rank_eval` API documentation and
Lucene's `EvaluationMetric` implementations).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

__all__ = ["compute_metric", "ratings_frame", "METRICS"]

METRICS = (
    "precision",
    "recall",
    "mean_reciprocal_rank",
    "dcg",
    "expected_reciprocal_rank",
)


def ratings_frame(
    spark: SparkSession, requests: list[dict[str, Any]]
) -> DataFrame:
    """Flatten [{id, ratings: [[doc_id, rating], ...]}] into a
    (query_id, doc_id, rating) frame. Ratings are per-request judgment
    lists, tiny by construction (human labels), so one createDataFrame
    is the right transport; duplicate (query_id, doc_id) pairs raise —
    a double-rated doc silently double-counts recall otherwise."""
    rows: list[tuple[str, int, int]] = []
    seen: set[tuple[str, int]] = set()
    for req in requests:
        qid = str(req["id"])
        for pair in req.get("ratings", []):
            doc_id, rating = int(pair[0]), int(pair[1])
            key = (qid, doc_id)
            if key in seen:
                raise ValueError(
                    f"request {qid!r} rates doc {doc_id} twice"
                )
            seen.add(key)
            rows.append((qid, doc_id, rating))
    return spark.createDataFrame(
        rows, schema="query_id string, doc_id long, rating int"
    )


def _parse_metric(metric: dict[str, Any]) -> tuple[str, dict[str, Any]]:
    if not isinstance(metric, dict) or len(metric) != 1:
        raise ValueError(
            "metric must be a one-key dict, e.g. {'precision': {'k': 10}}"
        )
    ((name, opts),) = metric.items()
    if name not in METRICS:
        raise ValueError(f"unknown metric {name!r}; one of {METRICS}")
    opts = dict(opts or {})
    if name == "expected_reciprocal_rank" and "maximum_relevance" not in opts:
        raise ValueError(
            "expected_reciprocal_rank requires maximum_relevance"
        )
    return name, opts


def metric_k(metric: dict[str, Any]) -> int:
    """The evaluation window size the metric asks for (default 10)."""
    _, opts = _parse_metric(metric)
    return int(opts.get("k", 10))


def compute_metric(
    hits: DataFrame,
    ratings: DataFrame,
    metric: dict[str, Any],
    query_ids: list[str],
) -> DataFrame:
    """Per-request metric over ranked hits: (query_id, metric_score,
    unrated_docs), one row per entry of ``query_ids`` (a request whose
    query matched nothing still gets its row, score 0.0 — the reference
    reports these rather than dropping them).

    ``hits``: (query_id, doc_id, rank) with rank 1-based per query;
    ``ratings``: (query_id, doc_id, rating). Everything is Catalyst —
    the cumulative ERR product is exp(Σ ln(1−R)) with an any-prior-R=1
    flag instead of ln(0).
    """
    name, opts = _parse_metric(metric)
    k = int(opts.get("k", 10))
    spark = hits.sparkSession

    w = hits.filter(F.col("rank") <= k).join(
        ratings, ["query_id", "doc_id"], "left"
    )
    unrated = F.sum(
        F.when(F.col("rating").isNull(), 1).otherwise(0)
    ).alias("unrated_docs")

    if name == "precision":
        thr = int(opts.get("relevant_rating_threshold", 1))
        ignore_unlabeled = bool(opts.get("ignore_unlabeled", False))
        rel = F.sum(
            F.when(F.col("rating") >= thr, 1).otherwise(0)
        ).cast("double")
        denom = (
            F.count(F.col("rating")).cast("double")
            if ignore_unlabeled
            else F.count(F.lit(1)).cast("double")
        )
        per = w.groupBy("query_id").agg(
            F.when(denom > 0, rel / denom).otherwise(0.0).alias(
                "metric_score"
            ),
            unrated,
        )
    elif name == "recall":
        thr = int(opts.get("relevant_rating_threshold", 1))
        total_rel = ratings.groupBy("query_id").agg(
            F.sum(
                F.when(F.col("rating") >= thr, 1).otherwise(0)
            ).alias("_total_rel")
        )
        got = w.groupBy("query_id").agg(
            F.sum(
                F.when(F.col("rating") >= thr, 1).otherwise(0)
            ).alias("_rel_got"),
            unrated,
        )
        per = (
            got.join(total_rel, "query_id", "left")
            .withColumn(
                "metric_score",
                F.when(
                    F.coalesce(F.col("_total_rel"), F.lit(0)) > 0,
                    F.col("_rel_got").cast("double")
                    / F.col("_total_rel"),
                ).otherwise(0.0),
            )
            .select("query_id", "metric_score", "unrated_docs")
        )
    elif name == "mean_reciprocal_rank":
        thr = int(opts.get("relevant_rating_threshold", 1))
        first = F.min(
            F.when(F.col("rating") >= thr, F.col("rank"))
        ).alias("_first")
        per = (
            w.groupBy("query_id")
            .agg(first, unrated)
            .withColumn(
                "metric_score",
                F.when(
                    F.col("_first").isNotNull(),
                    F.lit(1.0) / F.col("_first"),
                ).otherwise(0.0),
            )
            .select("query_id", "metric_score", "unrated_docs")
        )
    elif name == "dcg":
        normalize = bool(opts.get("normalize", False))
        gain = (
            F.pow(F.lit(2.0), F.coalesce(F.col("rating"), F.lit(0)))
            - 1.0
        ) / (F.log2(F.col("rank") + 1.0))
        per = w.groupBy("query_id").agg(
            F.coalesce(F.sum(gain), F.lit(0.0)).alias("metric_score"),
            unrated,
        )
        if normalize:
            ideal_w = Window.partitionBy("query_id").orderBy(
                F.desc("rating"), F.asc("doc_id")
            )
            ideal = (
                ratings.withColumn(
                    "rank", F.row_number().over(ideal_w)
                )
                .filter(F.col("rank") <= k)
                .groupBy("query_id")
                .agg(
                    F.sum(
                        (F.pow(F.lit(2.0), F.col("rating")) - 1.0)
                        / F.log2(F.col("rank") + 1.0)
                    ).alias("_idcg")
                )
            )
            per = (
                per.join(ideal, "query_id", "left")
                .withColumn(
                    "metric_score",
                    F.when(
                        F.coalesce(F.col("_idcg"), F.lit(0.0)) > 0,
                        F.col("metric_score") / F.col("_idcg"),
                    ).otherwise(0.0),
                )
                .select("query_id", "metric_score", "unrated_docs")
            )
    else:  # expected_reciprocal_rank
        max_rel = int(opts["maximum_relevance"])
        r_i = (
            F.pow(F.lit(2.0), F.coalesce(F.col("rating"), F.lit(0)))
            - 1.0
        ) / float(2**max_rel)
        prior = (
            Window.partitionBy("query_id")
            .orderBy("rank")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        stepped = (
            w.withColumn("_r", r_i)
            # Π_{i<r}(1−R_i) as exp(Σ ln(1−R_i)); a prior R_i == 1 would
            # be ln(0), so carry it as a flag that zeroes the product
            .withColumn(
                "_ln1m",
                F.when(
                    F.col("_r") < 1.0, F.log(1.0 - F.col("_r"))
                ).otherwise(F.lit(0.0)),
            )
            .withColumn(
                "_saturated",
                F.coalesce(
                    F.max(
                        F.when(F.col("_r") >= 1.0, 1).otherwise(0)
                    ).over(prior),
                    F.lit(0),
                ),
            )
            .withColumn(
                "_p",
                F.when(F.col("_saturated") == 1, 0.0).otherwise(
                    F.exp(
                        F.coalesce(
                            F.sum("_ln1m").over(prior), F.lit(0.0)
                        )
                    )
                ),
            )
        )
        per = stepped.groupBy("query_id").agg(
            F.coalesce(
                F.sum(
                    F.col("_p") * F.col("_r") / F.col("rank")
                ),
                F.lit(0.0),
            ).alias("metric_score"),
            unrated,
        )

    ids = spark.createDataFrame(
        [(str(q),) for q in query_ids], schema="query_id string"
    )
    return (
        ids.join(per, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("metric_score"), F.lit(0.0)).alias(
                "metric_score"
            ),
            F.coalesce(F.col("unrated_docs"), F.lit(0))
            .cast("int")
            .alias("unrated_docs"),
        )
        .orderBy("query_id")
    )
