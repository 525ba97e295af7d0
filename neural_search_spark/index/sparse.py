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
        (the block-max bound used for skipping)
    ──► parquet partitioned by term_bucket (query prunes to its tokens'
        buckets) + terms / stats / lineage tables.

Query side mirrors query/bm25.py: auto driver-side execution for
sub-threshold queries (pyarrow pruned read, numpy accumulate), distributed
per-shard applyInPandas kernels above, two-phase candidate/rescore built on
top (processor/NeuralSparseTwoPhaseProcessor.java:37-252 semantics).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..query.bm25 import driver_route
from ..ranking import local_page, topk_page

from .. import BLOCK_SIZE
from .build import (
    N_TERM_BUCKETS,
    _parquet_complete,
    _range_salt,
    tid_expr,
    tid_py,
)
from .codec import decode_doc_ids, decode_f32

SPARSE_FORMAT_VERSION = 1

SPARSE_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.FloatType()),
    ]
)


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
            F.array_max(ws).cast("float").alias("max_weight"),
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



class SparseIndex:
    """Handle on an on-disk sparse index directory."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        srow = spark.read.parquet(os.path.join(path, "stats")).collect()[0]
        ver = int(srow["format_version"])
        if ver != SPARSE_FORMAT_VERSION:
            raise ValueError(
                f"sparse index at {path} has format v{ver}; this engine "
                f"reads v{SPARSE_FORMAT_VERSION} — rebuild"
            )
        self.n_shards = int(srow["n_shards"])
        self._terms_path = os.path.join(path, "terms")
        self._postings_path = os.path.join(path, "postings")
        self._postings_df: DataFrame | None = None
        self._terms_ds = None
        self._postings_ds = None
        # driver-path hot-token cache: tid → (ids, weights f32) decoded
        # arrays (bounded FIFO by count AND bytes — see index/cache.py)
        from .cache import DEFAULT_MAX_BYTES, DEFAULT_MAX_TERMS

        self._driver_cache: dict[int, tuple | None] = {}
        self.driver_cache_terms = DEFAULT_MAX_TERMS
        self.driver_cache_bytes = DEFAULT_MAX_BYTES

    def token_stats(self, tokens: list[str]) -> dict[str, int]:
        """{token: df} via pyarrow predicate-pushdown point read."""
        if not tokens:
            return {}
        import pyarrow.dataset as ds

        if self._terms_ds is None:
            self._terms_ds = ds.dataset(self._terms_path, format="parquet")
        tbl = self._terms_ds.to_table(
            columns=["token", "df"], filter=ds.field("token").isin(tokens)
        )
        return dict(
            zip(tbl["token"].to_pylist(), (int(x) for x in tbl["df"].to_pylist()))
        )

    def cache(self) -> "SparseIndex":
        """Serving mode: pinned + pre-partitioned by shard_id so per-query
        groupBy(shard_id) plans elide their Exchange (see BM25Index.cache)."""
        from pyspark import StorageLevel

        if self._postings_df is None:
            self._postings_df = self.spark.read.parquet(self._postings_path)
        self._postings_df = self._postings_df.repartition(
            self.n_shards, "shard_id"
        ).persist(StorageLevel.MEMORY_AND_DISK)
        # EAGER warm-up: until the cached plan materializes, AQE reports
        # its output partitioning as undecided and every consumer plans a
        # defensive re-shuffle; after materialization (isFinalPlan) the
        # per-query Exchange is elided — so pay the warm-up here, not on
        # the first serving query
        self._postings_df.count()
        return self

    def postings_for(self, tokens: list[str]) -> DataFrame:
        tids = sorted({tid_py(t) for t in tokens})
        buckets = sorted({t % N_TERM_BUCKETS for t in tids})
        if self._postings_df is None:
            self._postings_df = self.spark.read.parquet(self._postings_path)
        return self._postings_df.filter(
            F.col("term_bucket").isin(buckets) & F.col("tid").isin(tids)
        )


def _accumulate(tbl_tids, docs_col, weights_col, q_weights: dict[int, float]):
    """numpy accumulate: Σ q_w · d_w per doc over the given decoded blocks.
    One gather pass then a single sort-unique + bincount-sum (float64;
    deterministic: tokens gathered in ascending tid)."""
    ids_parts: list[np.ndarray] = []
    sc_parts: list[np.ndarray] = []
    for tid in sorted(q_weights):
        rows = np.flatnonzero(tbl_tids == tid)
        if len(rows) == 0:
            continue
        ids = np.concatenate([decode_doc_ids(docs_col[i]) for i in rows])
        ws = np.concatenate(
            [decode_f32(weights_col[i]) for i in rows]
        ).astype(np.float64)
        ids_parts.append(ids)
        sc_parts.append(q_weights[tid] * ws)
    if not ids_parts:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    all_ids = np.concatenate(ids_parts)
    all_sc = np.concatenate(sc_parts)
    acc_ids, inv = np.unique(all_ids, return_inverse=True)
    acc_sc = np.bincount(inv, weights=all_sc, minlength=len(acc_ids))
    return acc_ids, acc_sc


def _driver_scores(
    index: SparseIndex,
    q_weights: dict[int, float],
    restrict: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Coordinator-side pruned read + accumulate — zero Spark jobs.

    restrict: sorted doc_id array — only these docs accumulate (the
    two-phase rescore contract). Blocks whose [min_doc_id, max_doc_id]
    range misses every candidate are skipped before decoding, and decoded
    postings are masked, so a hot token's corpus-wide postings are never
    accumulated just to be discarded.

    Unrestricted decodes populate a bounded per-index FIFO (hot tokens
    decode once across queries); restricted decodes read cold tokens with
    the block skip but are NOT cached (they're partial)."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    cache = index._driver_cache
    tids = sorted(q_weights)
    cold = [t for t in tids if t not in cache]
    arrs: dict[int, tuple] = {}
    if cold:
        buckets = sorted({t % N_TERM_BUCKETS for t in cold})
        if index._postings_ds is None:
            index._postings_ds = ds.dataset(
                index._postings_path, format="parquet", partitioning="hive"
            )
        cols = ["tid", "docs", "weights"]
        if restrict is not None:
            cols += ["min_doc_id", "max_doc_id"]
        tbl = index._postings_ds.to_table(
            columns=cols,
            filter=ds.field("term_bucket").isin(buckets)
            & ds.field("tid").isin(cold),
        )
        if restrict is not None and len(tbl) > 0:
            lo = np.searchsorted(restrict, tbl["min_doc_id"].to_numpy())
            hi = np.searchsorted(
                restrict, tbl["max_doc_id"].to_numpy(), side="right"
            )
            tbl = tbl.filter(pa.array(hi > lo))
        tid_arr = tbl["tid"].to_numpy()
        docs_col = tbl["docs"].to_pylist()
        w_col = tbl["weights"].to_pylist()
        for tid in cold:
            rows = np.flatnonzero(tid_arr == tid)
            if len(rows) == 0:
                got = None
            else:
                # weights stay float32 in memory (exact — they're f32 on
                # disk); upcast to f64 only at use, halving cache bytes
                got = (
                    np.concatenate([decode_doc_ids(docs_col[i]) for i in rows]),
                    np.concatenate([decode_f32(w_col[i]) for i in rows]),
                )
            arrs[tid] = got
            if restrict is None:
                cache[tid] = got
    ids_parts: list[np.ndarray] = []
    sc_parts: list[np.ndarray] = []
    for tid in tids:
        got = arrs[tid] if tid in arrs else cache.get(tid)
        if got is None:
            continue
        ids, ws = got
        if restrict is not None and len(ids):
            # mask per token BEFORE accumulation so a cached hot token's
            # corpus-wide postings are never carried into the combine —
            # the contract the block skip implements for cold reads
            pos = np.searchsorted(restrict, ids)
            ok = (pos < len(restrict)) & (
                restrict[np.minimum(pos, len(restrict) - 1)] == ids
            )
            ids, ws = ids[ok], ws[ok]
        ids_parts.append(ids)
        sc_parts.append(q_weights[tid] * ws.astype(np.float64))
    from .cache import evict_fifo

    evict_fifo(cache, index.driver_cache_terms, index.driver_cache_bytes)
    if not ids_parts:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    all_ids = np.concatenate(ids_parts)
    all_sc = np.concatenate(sc_parts)
    ids, inv = np.unique(all_ids, return_inverse=True)
    sc = np.bincount(inv, weights=all_sc, minlength=len(ids))
    return ids, sc


def _topk_pdf(ids: np.ndarray, sc: np.ndarray, k: int) -> pd.DataFrame:
    f32 = sc.astype(np.float32)
    sel = np.lexsort((ids, -f32.astype(np.float64)))[:k]
    return pd.DataFrame(
        {"doc_id": ids[sel], "score": f32[sel].astype(np.float64)}
    )


def _distributed_scores(
    index: SparseIndex, q_weights: dict[int, float], tokens: list[str], k: int
) -> DataFrame:
    """Per-shard applyInPandas accumulate + per-shard top-k; merged by
    TakeOrderedAndProject. One pruned scan of the tokens' buckets."""
    blocks = index.postings_for(tokens).select(
        "shard_id", "tid", "docs", "weights"
    )

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame({"doc_id": [], "score": []}).astype(
                {"doc_id": np.int64, "score": np.float32}
            )
        ids, sc = _accumulate(
            pdf["tid"].to_numpy(dtype=np.int64),
            pdf["docs"].tolist(),
            pdf["weights"].tolist(),
            q_weights,
        )
        f32 = sc.astype(np.float32)
        sel = np.lexsort((ids, -f32.astype(np.float64)))[:k]
        return pd.DataFrame({"doc_id": ids[sel], "score": f32[sel]})

    return blocks.groupBy("shard_id").applyInPandas(
        score_shard, SPARSE_TOPK_SCHEMA
    )


def sparse_index_topk(
    index: SparseIndex,
    query_tokens: dict[str, float],
    k: int = 10,
    mode: str = "auto",
) -> DataFrame:
    """Top-k Σ q_w·d_w over the sparse index. Returns (doc_id, score,
    rank) with score float32-cast then double (same dtype contract as the
    join-path ``sparse_topk``, so results are value-identical)."""
    spark = index.spark
    stats = index.token_stats(sorted(query_tokens))
    live = {t: w for t, w in query_tokens.items() if t in stats}
    if not live:
        return local_page(spark, [], [])
    q_weights = {tid_py(t): float(w) for t, w in live.items()}
    if driver_route(mode, sum(stats.values())):
        ids, sc = _driver_scores(index, q_weights)
        pdf = _topk_pdf(ids, sc, k)
        return local_page(spark, pdf["doc_id"], pdf["score"])
    shard_topk = _distributed_scores(index, q_weights, sorted(live), k)
    return topk_page(
        shard_topk.withColumn("score", F.col("score").cast("double")), k
    )


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
    phase 1 scores ONLY the high-weight tokens (a pruned scan of their
    buckets — typically the rare tokens) and takes a global candidate
    window of k·expansion_rate; phase 2 scans the low-weight (hot) tokens'
    postings restricted to the candidate set and re-ranks. The hot tokens'
    postings are never accumulated corpus-wide."""
    from ..query.sparse import split_tokens_max_ratio

    spark = index.spark
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
    stats = index.token_stats(sorted(query_tokens))
    high = {t: w for t, w in high.items() if t in stats}
    low = {t: w for t, w in low.items() if t in stats}
    if not high:
        return local_page(spark, [], [])
    hi_w = {tid_py(t): float(w) for t, w in high.items()}
    hi_df = sum(stats[t] for t in high)
    # ---- phase 1: candidate window on high tokens only
    if driver_route(mode, hi_df):
        ids, sc = _driver_scores(index, hi_w)
        cand = _topk_pdf(ids, sc, window)
    else:
        shard = _distributed_scores(index, hi_w, sorted(high), window)
        cand = (
            shard.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(window)
            .toPandas()
        )
        cand["score"] = cand["score"].astype(np.float32).astype(np.float64)
    if not low or cand.empty:
        out = cand.copy()
        out["score"] = out["score"].astype(np.float32).astype(np.float64)
        out = out.sort_values(
            ["score", "doc_id"], ascending=[False, True], kind="mergesort"
        ).head(k)
        return local_page(spark, out["doc_id"], out["score"])
    # ---- phase 2: low-token contributions for candidates only
    lo_w = {tid_py(t): float(w) for t, w in low.items()}
    cand_ids = np.sort(cand["doc_id"].to_numpy(dtype=np.int64))
    lo_df = sum(stats[t] for t in low)
    if driver_route(mode, lo_df):
        ids2, sc2 = _driver_scores(index, lo_w, restrict=cand_ids)
        add = dict(zip(ids2.tolist(), sc2.tolist()))
    else:
        blocks = index.postings_for(sorted(low)).select(
            "shard_id", "tid", "min_doc_id", "max_doc_id", "docs", "weights"
        )
        cid = cand_ids
        # additions stay float64 end-to-end (the single-pass contract only
        # f32-casts the FINAL sum, so rounding the addend would drift)
        add_schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("add", T.DoubleType()),
            ]
        )

        def add_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame({"doc_id": [], "add": []}).astype(
                {"doc_id": np.int64, "add": np.float64}
            )
            if pdf.empty:
                return empty
            # block-range skip: only decode blocks overlapping a candidate
            lo_i = np.searchsorted(cid, pdf["min_doc_id"].to_numpy())
            hi_i = np.searchsorted(
                cid, pdf["max_doc_id"].to_numpy(), side="right"
            )
            keep = hi_i > lo_i
            if not keep.any():
                return empty
            sub = pdf[keep]
            ids, sc = _accumulate(
                sub["tid"].to_numpy(dtype=np.int64),
                sub["docs"].tolist(),
                sub["weights"].tolist(),
                lo_w,
            )
            pos = np.searchsorted(cid, ids)
            ok = (pos < len(cid)) & (
                cid[np.minimum(pos, len(cid) - 1)] == ids
            )
            return pd.DataFrame({"doc_id": ids[ok], "add": sc[ok]})

        # each doc lives in exactly one shard → no cross-shard combine needed
        addl = (
            blocks.groupBy("shard_id")
            .applyInPandas(add_shard, add_schema)
            .toPandas()
        )
        add = dict(zip(addl["doc_id"].tolist(), addl["add"].tolist()))
    out = cand.copy()
    out["score"] = (
        (
            out["score"].to_numpy(dtype=np.float64)
            + np.array(
                [add.get(int(d), 0.0) for d in out["doc_id"]], dtype=np.float64
            )
        )
        .astype(np.float32)
        .astype(np.float64)
    )
    out = out.sort_values(
        ["score", "doc_id"], ascending=[False, True], kind="mergesort"
    ).head(k)
    return local_page(spark, out["doc_id"], out["score"])
