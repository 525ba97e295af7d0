"""Final-page helpers: the (doc_id, score, rank) page every top-k path
returns, ordered by score descending with doc_id ascending as the
tie-break and ranked 1..n (the reference's TopDocs rank field).

Two ways build that page:

* ``local_page`` — a driver-ranked page (index kernels on the driver
  route, and their empty pages), returned as a ``LocalPage``: a
  DataFrame that holds the page's ``pyarrow.Table``. ``collect()``,
  ``toPandas()``, ``toArrow()``, ``count()``, ``take``/``head``/
  ``first``, ``isEmpty()``, ``isLocal()`` and the schema are answered
  from that table in Python, with no JVM call at all; the Spark
  relation (``spark.createDataFrame(table)``, an Arrow-backed local
  relation) is built once, on first use, only when a Spark operator
  (``select``, ``join``, ``unionAll``, ``queryExecution``, …) is
  applied to the page. The search engine returns such a page as is,
  as the reference's coordinator returns its merged top-k.
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
``local_batch_page`` is the driver route's ``LocalPage`` (like
``local_page``), ``batch_page`` ranks a distributed result per query_id
and keeps rank ≤ k, and ``empty_batch_page`` is the typed page of a
batch nothing matched.

``sorted_union`` is the per-doc accumulate's key step: the sorted
distinct doc ids of a few concatenated id runs and each input's slot.
"""

from __future__ import annotations

from functools import cached_property

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Row, SparkSession, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType


class LocalPage(ClassicDataFrame):
    """A driver page: a DataFrame whose rows are a ``pyarrow.Table`` held
    in Python. Reading the page (``collect``, ``toPandas``, ``toArrow``,
    ``count``, ``take``/``head``/``first``, ``isEmpty``, ``isLocal``,
    the schema) never calls the JVM; ``_jdf`` — the relation every other
    DataFrame method works on — is ``spark.createDataFrame(table)``,
    built on first use and kept."""

    def __new__(cls, *args):
        # the classic DataFrame's __new__ runs __init__ with (jdf, session)
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, table: pa.Table):
        self._session = spark
        self._sc = spark._sc
        self.is_cached = False
        self._support_repr_html = False
        self._table = table
        self._relation = None

    @property
    def _jdf(self):
        if self._relation is None:
            self._relation = self._session.createDataFrame(self._table)._jdf
        return self._relation

    @cached_property
    def schema(self) -> StructType:
        return from_arrow_schema(self._table.schema)

    def collect(self) -> list[Row]:
        fields = self._table.column_names
        rows = []
        for values in zip(*(c.to_pylist() for c in self._table.columns)):
            row = Row(*values)
            row.__fields__ = fields
            rows.append(row)
        return rows

    def take(self, num: int) -> list[Row]:
        return self.collect()[: max(num, 0)]

    def toPandas(self):
        return self._table.to_pandas()

    def toArrow(self) -> pa.Table:
        return self._table

    def count(self) -> int:
        return self._table.num_rows

    def isEmpty(self) -> bool:
        return self._table.num_rows == 0

    def isLocal(self) -> bool:
        return True


def local_page(spark: SparkSession, ids, scores) -> LocalPage:
    """(doc_id long, score, rank int) page from already-ordered arrays.
    The score type follows ``scores`` (float32 → float, otherwise
    double), so pass a typed empty array for an empty page."""
    ids = np.asarray(ids, dtype=np.int64)
    scores = np.asarray(scores)
    if scores.dtype != np.float32:
        scores = scores.astype(np.float64)
    rank = np.arange(1, ids.size + 1, dtype=np.int32)
    return LocalPage(
        spark, pa.table({"doc_id": ids, "score": scores, "rank": rank})
    )


def sorted_union(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``np.unique(ids, return_inverse=True)`` for ids that are a
    concatenation of a few sorted runs (a candidate set, one doc-ordered
    postings list per term): a stable argsort merges the runs (timsort)
    instead of re-sorting them, and a flag/cumsum numbers the distinct
    ids. Returns the sorted distinct ids and each input's slot in them."""
    perm = np.argsort(ids, kind="stable")
    s = ids[perm]
    first = np.empty(s.size, dtype=bool)
    first[:1] = True
    np.not_equal(s[1:], s[:-1], out=first[1:])
    inv = np.empty(s.size, dtype=np.intp)
    inv[perm] = np.cumsum(first) - 1
    return s[first], inv


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


def local_batch_page(spark: SparkSession, qids, ids, scores) -> LocalPage:
    """(query_id, doc_id long, score float, rank int) page from per-row
    arrays in which each query's rows are contiguous and already
    ordered; rank restarts at 1 on every query."""
    qids = np.asarray(qids, dtype=object)
    n = qids.size
    row = np.arange(n)
    first = np.ones(n, dtype=bool)
    first[1:] = qids[1:] != qids[:-1]
    rank = row - np.maximum.accumulate(np.where(first, row, 0)) + 1
    return LocalPage(
        spark,
        pa.table(
            {
                "query_id": pa.array(qids, pa.string()),
                "doc_id": np.asarray(ids, dtype=np.int64),
                "score": np.asarray(scores, dtype=np.float32),
                "rank": rank.astype(np.int32),
            }
        ),
    )


def empty_batch_page(spark: SparkSession) -> LocalPage:
    """The (query_id, doc_id, score float, rank) page of an empty batch."""
    return local_batch_page(spark, [], [], [])
