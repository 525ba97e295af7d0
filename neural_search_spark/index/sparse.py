"""Sparse (feature-weight) postings index — the FeatureField analog.

The reference scores neural_sparse queries against Lucene FeatureField
postings (query/NeuralSparseQueryBuilder.java:497-506: doc score =
Σ query_weight × doc_weight over shared tokens); SURVEY.md §1 maps this to
"posting-list form identical to the BM25 index with weight payloads".
Without an index, every sparse query is a full corpus explode+shuffle —
this module gives sparse/two-phase queries the same pruned-scan path the
BM25 block index gives match queries:

  tall features (doc_id, token, weight)
    ──► tid = h60(token); shard_id = hash(doc_id) % n_shards
    ──► hot-token salting by df (same range-salt plan as the BM25 build)
    ──► JVM block build: sort_array(collect_list) → slice → per-block
        doc_id varint-delta + raw-f32 weight payloads + max_weight
        (the block bound MaxScore prunes with); a negative or
        non-finite weight fails the build, because pruning needs
        weights ≥ 0
    ──► parquet partitioned by term_bucket (query prunes to its tokens'
        buckets) + terms / stats / lineage tables.

Query side: ``SparseIndex`` is a ``query.bm25.PostingsIndex`` whose
posting contribution is its stored weight, so a sparse query is the BM25
kernels with one spec ``("", {tid: q_w}, 1)`` — the driver route (one
pyarrow read into the decoded-postings cache, a numpy accumulate, a local
page) up to ``DRIVER_MAX_POSTINGS``, else the MaxScore shard function
skipping blocks by their ``max_weight``. Two-phase
(processor/NeuralSparseTwoPhaseProcessor.java:37-252 semantics) takes its
candidate window from that kernel over the high-weight tokens and
rescores the candidates with ``bm25._candidate_scores``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..query.bm25 import (
    PostingsIndex,
    _candidate_scores,
    _driver_topk,
    _shard_scored,
    driver_route,
)
from ..ranking import local_page

from .. import BLOCK_SIZE
from .build import (
    N_TERM_BUCKETS,
    _parquet_complete,
    _range_salt,
    tid_expr,
    tid_py,
)
from .codec import decode_doc_ids, decode_f32, decode_f32_batch

SPARSE_FORMAT_VERSION = 1
BAD_WEIGHT = "sparse document weights must be finite and >= 0"


def _encode_udfs():
    """Batch-vectorized like index.build._encode_udfs: one codec pass per
    Arrow batch (byte-identical to per-row encode), so a huge sparse
    vocabulary of near-singleton blocks stays cheap."""
    from .codec import encode_doc_ids_batch

    def _flat(col: pd.Series, dt) -> tuple[np.ndarray, np.ndarray]:
        lens = np.fromiter(
            (len(a) for a in col), dtype=np.int64, count=len(col)
        )
        if int(lens.sum()) == 0:
            return np.empty(0, dtype=dt), lens
        return np.concatenate([np.asarray(a) for a in col]), lens

    @F.pandas_udf(T.BinaryType())
    def enc_docs(col: pd.Series) -> pd.Series:
        flat, lens = _flat(col, np.int64)
        return pd.Series(encode_doc_ids_batch(flat.astype(np.int64), lens))

    @F.pandas_udf(T.BinaryType())
    def enc_w(col: pd.Series) -> pd.Series:
        # float32 payloads are fixed-width: one concatenated tobytes +
        # per-row slicing (still byte-identical to per-row encode_f32)
        lens = np.fromiter(
            (len(a) for a in col), dtype=np.int64, count=len(col)
        )
        if int(lens.sum()) == 0:
            return pd.Series([b""] * len(col))
        buf = np.concatenate(
            [np.asarray(a, dtype=np.float32) for a in col]
        ).astype("<f4").tobytes()
        ends = np.cumsum(lens) * 4
        starts = ends - lens * 4
        return pd.Series(
            [buf[s:e] for s, e in zip(starts.tolist(), ends.tolist())]
        )

    return enc_docs, enc_w


class SparseIndexBuilder:
    """Builds the on-disk sparse postings index from a tall feature table
    (doc_id long, token string, weight float) — the sparse_encoding
    processor's output form."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        n_shards: int = 32,
        block_size: int = BLOCK_SIZE,
        # bounds the collect_list cell (≈12 B/struct → ~6 MB per group row)
        target_postings_per_task: int = 500_000,
    ):
        self.spark = spark
        self.out = out_dir
        self.n_shards = n_shards
        self.block_size = block_size
        self.target = target_postings_per_task

    def _p(self, name: str) -> str:
        return os.path.join(self.out, name)

    def _write_config(self) -> None:
        pd.DataFrame(
            {
                "format_version": [SPARSE_FORMAT_VERSION],
                "n_shards": [self.n_shards],
                "block_size": [self.block_size],
            }
        ).to_parquet(os.path.join(self.out, "build_config.parquet"))

    def _check_config(self) -> None:
        """Refuse to resume with a different layout (mixed shard functions
        across kept/rebuilt buckets would double-count docs per shard)."""
        path = os.path.join(self.out, "build_config.parquet")
        if not os.path.exists(path):
            return
        cfg = pd.read_parquet(path).iloc[0]
        for name, mine in (
            ("n_shards", self.n_shards),
            ("block_size", self.block_size),
        ):
            if cfg[name] != mine:
                raise ValueError(
                    f"resume {name}={mine} differs from the index's "
                    f"{name}={cfg[name]} — rebuild without resume or "
                    f"match params"
                )

    def _done_buckets(self) -> set[int]:
        path = self._p("lineage")
        if not os.path.exists(path):
            return set()
        lin = self.spark.read.parquet(path)
        return {
            r["term_bucket"]
            for r in lin.filter(F.col("status") == "complete")
            .select("term_bucket")
            .distinct()
            .collect()
        }

    def _clean_incomplete(self, done: set[int]) -> None:
        pdir = self._p("postings")
        if not os.path.exists(pdir):
            return
        for d in os.listdir(pdir):
            if d.startswith("term_bucket="):
                b = int(d.split("=")[1])
                if b not in done:
                    shutil.rmtree(os.path.join(pdir, d))

    def build(self, features: DataFrame, resume: bool = False) -> dict:
        """Build (or, with resume=True, complete) the sparse index.
        Resume mirrors the BM25 builder's lineage contract: term_buckets
        with complete lineage are kept verbatim, unrecorded partial
        partitions are purged and rebuilt. Sparse weights carry no corpus
        statistics, so resumed buckets are bit-identical by construction."""
        if resume:
            self._check_config()
        done = self._done_buckets() if resume else set()
        if resume:
            self._clean_incomplete(done)
        elif os.path.exists(self.out):
            shutil.rmtree(self.out)
        os.makedirs(self.out, exist_ok=True)
        self._write_config()
        tall = features.select(
            F.col("doc_id").cast("long"),
            tid_expr("token").alias("tid"),
            F.col("weight").cast("float"),
        ).withColumn(
            "shard_id",
            F.pmod(F.xxhash64("doc_id", F.lit(7)), F.lit(self.n_shards)).cast(
                "int"
            ),
        )
        if done:
            tall = tall.filter(
                ~F.pmod("tid", F.lit(N_TERM_BUCKETS)).isin(list(done))
            )

        # token dictionary + df (drives query planning AND the salt plan).
        # Reuse on resume only when the prior write COMMITTED (_SUCCESS):
        # a partially-written terms dir would make token_stats() silently
        # treat missing tokens as absent and desync the hot-token salt plan
        # from the kept postings buckets.
        terms_path = self._p("terms")
        if not (resume and _parquet_complete(terms_path)):
            tstats = (
                features.select("token", tid_expr("token").alias("tid"))
                .groupBy("token", "tid")
                .agg(F.count(F.lit(1)).alias("df"))
            )
            # sorted by token: row-group-pruned driver point reads
            # (same rationale as the block index's terms table)
            tstats.sort("token").write.mode("overwrite").parquet(terms_path)
        terms = self.spark.read.parquet(terms_path)
        hot = terms.filter(
            F.col("df") > F.lit(self.target * self.n_shards)
        ).select(
            "tid",
            F.ceil(F.col("df") / F.lit(self.target * self.n_shards))
            .cast("int")
            .alias("n_salts"),
        )
        salted = (
            tall.join(F.broadcast(hot), "tid", "left")
            .withColumn("n_salts", F.coalesce(F.col("n_salts"), F.lit(1)))
            .withColumn("salt", _range_salt(F.col("doc_id"), F.col("n_salts")))
        )

        # same JVM block path as the BM25 builder (posting_block_cells:
        # JVM group/sort/slice; python only varint-encodes block cells)
        from .build import posting_block_cells

        enc_docs, enc_w = _encode_udfs()
        exploded, block_seq = posting_block_cells(
            salted, ["weight"], self.block_size
        )
        doc_ids = F.transform("p", lambda x: x["doc_id"])
        ws = F.transform("p", lambda x: x["weight"])
        blocks = exploded.select(
            "tid",
            F.col("shard_id").cast("int").alias("shard_id"),
            block_seq,
            F.size("p").alias("n_docs"),
            F.element_at(doc_ids, 1).alias("min_doc_id"),
            F.element_at(doc_ids, -1).alias("max_doc_id"),
            enc_docs(doc_ids).alias("docs"),
            enc_w(ws).alias("weights"),
            # the kernels' MaxScore pruning needs weights ≥ 0; checked in
            # this select, so it costs no Spark job of its own
            F.when(
                (F.array_min(ws) >= 0)
                & (F.array_max(ws) < F.lit(float("inf"))),
                F.array_max(ws),
            )
            .otherwise(F.raise_error(F.lit(BAD_WEIGHT)))
            .cast("float")
            .alias("max_weight"),
        ).withColumn("term_bucket", F.pmod("tid", F.lit(N_TERM_BUCKETS)))
        (
            # 64 hash partitions keyed by term_bucket: hash collisions
            # leave ~40 of the 64 tasks non-empty (birthday stats), but
            # that still beats the shuffle_partitions default's coarse
            # tasks (measured 18→14.6 s at local[8]); partitionBy on
            # write keeps exactly one file per bucket either way
            blocks.repartition(N_TERM_BUCKETS, "term_bucket")
            .sortWithinPartitions("tid", "shard_id", "block_seq")
            .write.mode("append")
            .partitionBy("term_bucket")
            .parquet(self._p("postings"))
        )

        written = self.spark.read.parquet(self._p("postings"))
        if done:
            written = written.filter(~F.col("term_bucket").isin(list(done)))
        lineage = written.groupBy("term_bucket").agg(
            F.countDistinct("shard_id").alias("n_shards"),
            F.min("tid").alias("tid_lo"),
            F.max("tid").alias("tid_hi"),
            F.sum("n_docs").alias("doc_count"),
            F.sum(F.length("docs") + F.length("weights")).alias("bytes"),
            F.count(F.lit(1)).alias("n_blocks"),
            F.lit("complete").alias("status"),
        )
        lineage.write.mode("append").parquet(self._p("lineage"))

        self.spark.createDataFrame(
            pd.DataFrame(
                {
                    "format_version": [SPARSE_FORMAT_VERSION],
                    "n_shards": [self.n_shards],
                    "block_size": [self.block_size],
                }
            )
        ).write.mode("overwrite").parquet(self._p("stats"))
        return {"out": self.out}


class SparseIndex(PostingsIndex):
    """Handle on an on-disk sparse index directory. A posting's
    contribution is its stored float32 weight, bounded per block by
    ``max_weight``."""

    payload = {"weights": decode_f32_batch}
    bound_col = "max_weight"
    _dict_spec = ("token", ("df",))

    def __init__(self, spark: SparkSession, path: str):
        srow = spark.read.parquet(os.path.join(path, "stats")).collect()[0]
        ver = int(srow["format_version"])
        if ver != SPARSE_FORMAT_VERSION:
            raise ValueError(
                f"sparse index at {path} has format v{ver}; this engine "
                f"reads v{SPARSE_FORMAT_VERSION} — rebuild"
            )
        super().__init__(spark, path, int(srow["n_shards"]))

    # {token: df} by binary search of the resident token dictionary
    token_stats = PostingsIndex.term_stats

    def contribution(self, weights: np.ndarray) -> np.ndarray:
        return weights

    def block_decoder(self):
        return _decode_weights


def _decode_weights(rows: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Decode sparse posting-block rows → (doc ids, float32 weights)."""
    return (
        np.concatenate([decode_doc_ids(x) for x in rows["docs"]]),
        np.concatenate([decode_f32(x) for x in rows["weights"]]),
    )


def _spec(index: SparseIndex, tokens: dict[str, float]):
    """The one-spec batch of a sparse query: (spec ``("", {tid: q_w},
    1)`` in tid order, Σdf) over the ``tokens`` present in the index, or
    None when none is."""
    stats = index.token_stats(sorted(tokens))
    if not stats:
        return None
    weights = dict(sorted((tid_py(t), float(tokens[t])) for t in stats))
    return ("", weights, 1), sum(stats.values())


def _topk(index: SparseIndex, tokens: dict[str, float], k: int, mode: str):
    """(doc ids, float32 scores) of the top-k Σ q_w·d_w over ``tokens``,
    score desc / doc_id asc: the BM25 kernels with one spec, on the
    route ``mode`` picks (see ``bm25.driver_route``)."""
    got = _spec(index, tokens)
    if got is None:
        return np.empty(0, np.int64), np.empty(0, np.float32)
    spec, sum_df = got
    if driver_route(mode, sum_df):
        _q, ids, scores = _driver_topk(index, [spec], k)
        return ids, scores
    top = (
        _shard_scored(index, sorted(tokens), [spec], k)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .toPandas()
    )
    return top["doc_id"].to_numpy(np.int64), top["score"].to_numpy(np.float32)


def sparse_index_topk(
    index: SparseIndex,
    query_tokens: dict[str, float],
    k: int = 10,
    mode: str = "auto",
) -> DataFrame:
    """Top-k Σ q_w·d_w over the sparse index. Returns (doc_id, score,
    rank) with score float32-cast then double (same dtype contract as the
    join-path ``sparse_topk``, so results are value-identical). Query
    weights must be finite and ≥ 0, as the neural_sparse rewrite checks:
    the shard function prunes on it."""
    ids, scores = _topk(index, query_tokens, k, mode)
    return local_page(index.spark, ids, scores.astype(np.float64))


def sparse_index_topk_two_phase(
    index: SparseIndex,
    query_tokens: dict[str, float],
    k: int = 10,
    prune_ratio: float = 0.4,
    expansion_rate: float = 5.0,
    max_window_size: int = 10000,
    mode: str = "auto",
) -> DataFrame:
    """Two-phase over the index (NeuralSparseTwoPhaseProcessor semantics):
    phase 1 scores ONLY the high-weight tokens (typically the rare ones)
    and takes a global candidate window of k·expansion_rate; phase 2 adds
    the low-weight (hot) tokens' contributions for the candidates only,
    reading just the blocks that hold one, and re-ranks. The hot tokens'
    postings are never accumulated corpus-wide."""
    from ..query.sparse import split_tokens_max_ratio

    high, low = split_tokens_max_ratio(query_tokens, prune_ratio)
    window = int(k * expansion_rate)
    if window > max_window_size:
        # the reference THROWS rather than silently clamping
        # (NeuralSparseTwoPhaseProcessor.java:183-189) — a clamp would
        # degrade recall without telling the caller
        raise ValueError(
            f"two-phase window k*expansion_rate = {window} exceeds "
            f"max_window_size = {max_window_size}"
        )
    # ---- phase 1: candidate window on high tokens only
    ids, scores = _topk(index, high, window, mode)
    total = scores.astype(np.float64)
    # ---- phase 2: low-token contributions for candidates only
    got = _spec(index, low) if len(ids) else None
    if got is not None:
        (_q, lo_w, _m), lo_df = got
        order = np.argsort(ids)
        ids, total = ids[order], total[order]
        add_ids, add = _candidate_scores(
            index, sorted(low), lo_w, ids, driver_route(mode, lo_df)
        )
        # phase-2 sums stay float64: only the final sum is f32-cast
        total[np.searchsorted(ids, add_ids)] += add
    f32 = total.astype(np.float32)
    sel = np.lexsort((ids, -f32.astype(np.float64)))[:k]
    return local_page(index.spark, ids[sel], f32[sel].astype(np.float64))
