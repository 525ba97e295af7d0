"""Final-page helpers: the (doc_id, score, rank) page every top-k path
returns, ordered by score descending with doc_id ascending as the
tie-break and ranked 1..n (the reference's TopDocs rank field).

Two ways build that page:

* ``local_page`` — a driver-ranked page (index kernels on the driver
  route, and their empty pages). The numpy arrays go through a
  ``pyarrow.Table`` into an Arrow-backed local relation, which
  ``collect()`` serves without launching a Spark job. The search engine
  returns such a page as is.
* ``topk_page`` — a distributed result bounded by
  ``orderBy(...).limit(k)`` (a TakeOrderedAndProject: per-partition heap
  plus driver merge, no full sort) and then ranked by ``row_number`` over
  ``topk_rank_window``.
  The window's input is ≤ k rows BY CONSTRUCTION, so moving it to one
  partition is intended; but an empty partition spec makes WindowExec
  log "No Partition Defined ... serious performance degradation" on
  every query, burying real regressions in bench-log greps. The window
  uses a constant-zero, NON-FOLDABLE partition key instead: all rows
  share partition 0 (identical semantics/ranks) and WindowExec stays
  quiet. A plain ``lit(0)`` would not work — Catalyst folds foldable
  partition keys away and the warning returns.

Batch kernels (msearch) return (query_id, doc_id, score, rank) pages:
``batch_page`` ranks per query_id and keeps rank ≤ k, and
``empty_batch_page`` is the typed page of a batch nothing matched.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window, WindowSpec
from pyspark.sql import functions as F


def local_page(spark: SparkSession, ids, scores) -> DataFrame:
    """(doc_id long, score, rank int) page from already-ordered arrays.
    The score type follows ``scores`` (float32 → float, otherwise
    double), so pass a typed empty array for an empty page."""
    ids = np.asarray(ids, dtype=np.int64)
    scores = np.asarray(scores)
    if scores.dtype != np.float32:
        scores = scores.astype(np.float64)
    rank = np.arange(1, ids.size + 1, dtype=np.int32)
    return spark.createDataFrame(
        pa.table({"doc_id": ids, "score": scores, "rank": rank})
    )


def _const_zero() -> Column:
    # rand() is flagged non-deterministic, so the optimizer must keep it;
    # ×0 pins every row to partition key 0
    return (F.rand(42) * 0).cast("int")


def topk_rank_window(
    *order: Column, partition_cols: list[str] | None = None
) -> WindowSpec:
    """Window for ranking an already-k-bounded result set. With
    ``partition_cols`` (e.g. a batch's query_id) the rank restarts per
    group and the real keys distribute the window normally."""
    if partition_cols:
        return Window.partitionBy(*partition_cols).orderBy(*order)
    return Window.partitionBy(_const_zero()).orderBy(*order)


def topk_page(scored: DataFrame, k: int) -> DataFrame:
    """Top-k (…, rank) page of a distributed (doc_id, score, …) frame:
    score desc, doc_id asc, ranked 1..n."""
    order = (F.desc("score"), F.asc("doc_id"))
    return (
        scored.orderBy(*order)
        .limit(k)
        .withColumn(
            "rank", F.row_number().over(topk_rank_window(*order)).cast("int")
        )
    )


def batch_page(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, doc_id, score, rank) per-query top-k of a batch
    kernel's (query_id, doc_id, score) rows."""
    w = topk_rank_window(
        F.desc("score"), F.asc("doc_id"), partition_cols=["query_id"]
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def empty_batch_page(spark: SparkSession) -> DataFrame:
    """The (query_id, doc_id, score float, rank) page of an empty batch."""
    return spark.createDataFrame(
        pa.table(
            {
                "query_id": pa.array([], pa.string()),
                "doc_id": pa.array([], pa.int64()),
                "score": pa.array([], pa.float32()),
                "rank": pa.array([], pa.int32()),
            }
        )
    )
