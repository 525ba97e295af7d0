"""Positional index: per-(term, doc) token positions for phrase queries.

Lucene stores positions inside its postings format (`.pos` files written by
the codec the reference plugin inherits from OpenSearch core — consumed by
`PhraseQuery`/`ExactPhraseScorer`). This engine keeps them as an OPT-IN
sidecar table next to an existing block index:

    <index_dir>/positions/term_bucket=<b>/...   (tid, doc_id, dl, positions)

Why a sidecar and not a block payload: positions are only read by phrase
queries, roughly double the index footprint, and BM25/hybrid serving never
touches them — keeping them out of the posting blocks means the hot query
path's scan bytes are unchanged whether or not phrases are enabled (the same
reason Lucene puts positions in a separate file the scorer only opens on
demand).

Build shape (one tokenize pass, ONE shuffle — the write repartition):

  transcripts → tokenized_turns (pure-Catalyst, shared with the main build)
              → vectorized Arrow kernel: (doc_id, dl, term, positions[])
                computed ROW-LOCALLY (a doc's positions for a term all come
                from one token-array cell — no doc-keyed exchange)
              → parquet partitioned by term_bucket, sorted (tid, doc_id)

Positions are written as a plain ``array<int>`` column (parquet's own
delta/RLE encoding compresses the ascending ints). The kernel is pyarrow
C++ + one numpy stable argsort per batch — no per-row Python.

Scale notes (10^12 turns): the shuffle key is (doc_id, tid) — doc-keyed, so
hot TERMS do not concentrate (a stopword's positions spread across its docs'
partitions); the term_bucket repartition for the write reuses the main
build's 64-bucket layout so phrase queries prune to their terms' buckets.

Read side (every positional query — phrase, phrase_prefix, span,
intervals — reads through these):

* ``positions_frame`` — the Spark rows of a tid set with their
  ``doc_shard`` grouping key: the ``cache_positions`` frame when pinned,
  else the term_bucket-pruned parquet scan;
* ``read_positions`` — the same rows read on the driver with pyarrow, as
  a doc-sorted ``PositionsBlock``;
* ``PositionsBlock.from_pandas`` — one shard's rows as the same block, so
  the driver and the shard kernels see one data shape.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .build import (
    INDEX_FORMAT_VERSION,
    N_TERM_BUCKETS,
    doc_id_col,
    tid_expr,
    tokenized_turns,
)

POSITIONS_FORMAT_VERSION = 1


_POS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("dl", T.IntegerType()),
        T.StructField("term", T.StringType()),
        T.StructField("positions", T.ArrayType(T.IntegerType())),
    ]
)


def _positions_kernel(batches):
    """Row-local (doc, term) → sorted positions, vectorized per Arrow
    batch (the positions-sidecar twin of the main build's tf kernel):
    flatten + dictionary_encode (pyarrow C++), ONE stable argsort of the
    int64 (row, term-code) key, then ListArray.from_arrays rebuilds the
    per-group position lists — ascending by construction because the
    stable sort preserves flat (= position) order within each key."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        toks = batch.column(2)
        if toks.null_count:
            # null text → null token cell → no positions (explode twin
            # drops such docs the same way)
            batch = batch.filter(pc.is_valid(toks))
            toks = batch.column(2)
        flat = pc.list_flatten(toks)
        if len(flat) == 0:
            continue
        parent = (
            pc.list_parent_indices(toks)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        d = pc.dictionary_encode(flat)
        codes = d.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        v = len(d.dictionary)
        key = parent * v + codes
        # position within the row = flat index − the row's start offset
        offs = np.zeros(len(toks) + 1, dtype=np.int64)
        np.cumsum(
            pc.list_value_length(toks)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64),
            out=offs[1:],
        )
        pos = np.arange(len(flat), dtype=np.int64) - offs[parent]
        order = np.argsort(key, kind="stable")
        ks = key[order]
        starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
        uk = ks[starts]
        up = pa.array(uk // v)
        list_offs = np.empty(len(starts) + 1, dtype=np.int32)
        list_offs[:-1] = starts
        list_offs[-1] = len(ks)
        positions = pa.ListArray.from_arrays(
            pa.array(list_offs),
            pa.array(pos[order].astype(np.int32)),
        )
        yield pa.RecordBatch.from_arrays(
            [
                pc.take(batch.column(0), up),
                pc.take(batch.column(1), up),
                pc.take(d.dictionary, pa.array(uk % v)),
                positions,
            ],
            names=["doc_id", "dl", "term", "positions"],
        )


def positions_table(transcripts: DataFrame) -> DataFrame:
    """(tid, doc_id, dl, positions sorted array<int>) with NO exchange:
    like the main build's tf kernel, a doc's positions for a term are
    row-local, so the doc-keyed groupBy+collect_list shuffle of the full
    occurrence stream is unnecessary — the term_bucket write repartition
    is the sidecar build's only shuffle. Output-identical to
    ``positions_table_catalyst`` (parity-tested)."""
    toks = tokenized_turns(transcripts)
    return toks.select("doc_id", "dl", "toks").mapInArrow(
        _positions_kernel, _POS_SCHEMA
    ).select(
        tid_expr("term").alias("tid"), "doc_id", "dl", "positions"
    )


def positions_table_catalyst(transcripts: DataFrame) -> DataFrame:
    """The pure-Catalyst twin (posexplode → doc-keyed groupBy +
    collect_list): same output, one extra occurrence-stream exchange.
    Kept as the parity oracle for the Arrow kernel."""
    toks = tokenized_turns(transcripts)
    return (
        toks.select(
            "doc_id", "dl", F.posexplode("toks").alias("pos", "term")
        )
        .select(
            tid_expr("term").alias("tid"),
            "doc_id",
            "dl",
            F.col("pos").cast("int").alias("pos"),
        )
        .groupBy("tid", "doc_id", "dl")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
    )


def build_positions(
    spark: SparkSession, index_dir: str, transcripts: DataFrame
) -> dict:
    """Write the positions sidecar next to an existing block index.

    The index's own stats (n_docs/avgdl/k1/b) are reused at query time, so
    this pass stores only what phrase matching needs. Overwrites any prior
    positions sidecar (deterministic content — same corpus → same rows)."""
    t0 = time.time()
    out = positions_path(index_dir)
    pos = positions_table(transcripts).withColumn(
        "term_bucket", F.pmod("tid", F.lit(N_TERM_BUCKETS))
    )
    (
        pos.repartition(N_TERM_BUCKETS, "term_bucket")
        .sortWithinPartitions("tid", "doc_id")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(out)
    )
    cfg = {
        "positions_format_version": POSITIONS_FORMAT_VERSION,
        "index_format_version": INDEX_FORMAT_VERSION,
        "n_term_buckets": N_TERM_BUCKETS,
    }
    with open(os.path.join(index_dir, "positions_config.json"), "w") as f:
        json.dump(cfg, f)
    return {"elapsed_sec": time.time() - t0, "path": out}


def has_positions(index_dir: str) -> bool:
    return os.path.exists(os.path.join(index_dir, "positions_config.json"))


def positions_path(index_dir: str) -> str:
    return os.path.join(index_dir, "positions")


def doc_shard(n_shards: int) -> Column:
    """The positional kernels' grouping key: a pure function of doc_id,
    so every row of a doc lands in one shard task."""
    return F.pmod(F.xxhash64("doc_id", F.lit(13)), F.lit(n_shards)).cast(
        "int"
    )


def positions_frame(index, tids: list[int]) -> DataFrame:
    """(tid, doc_id, dl, positions, doc_shard) rows of ``tids`` for the
    ``BM25Index`` ``index``: its ``cache_positions`` frame when pinned
    (already clustered by doc_shard, so grouping needs no exchange), else
    the term_bucket-pruned parquet scan with a tid row-group filter."""
    if index._positions_cache is not None:
        return index._positions_cache.filter(F.col("tid").isin(tids))
    buckets = sorted({t % N_TERM_BUCKETS for t in tids})
    return (
        index.spark.read.parquet(positions_path(index.path))
        .filter(F.col("term_bucket").isin(buckets) & F.col("tid").isin(tids))
        .withColumn("doc_shard", doc_shard(index.n_shards))
    )


class PositionsBlock:
    """Sidecar rows sorted by (doc_id, tid): ``doc``/``tid``/``dl`` per
    row, and row r's ascending positions at ``pos[start[r]:end[r]]`` in
    one flat int64 buffer. ``cand`` are the distinct docs, ``first`` each
    doc's first row and ``inv`` each row's index into ``cand``."""

    def __init__(self, doc, tid, dl, pos, start, end):
        self.doc, self.tid, self.dl = doc, tid, dl
        self.pos, self.start, self.end = pos, start, end
        new_doc = np.ones(doc.size, dtype=bool)
        new_doc[1:] = doc[1:] != doc[:-1]
        self.first = np.flatnonzero(new_doc)
        self.cand = doc[self.first]
        self.inv = np.cumsum(new_doc) - 1

    @classmethod
    def from_pandas(cls, pdf) -> "PositionsBlock":
        """One shard's (tid, doc_id, dl, positions) pandas rows."""
        pdf = pdf.sort_values(["doc_id", "tid"], kind="mergesort")
        pos_col = pdf["positions"].to_numpy()
        lens = np.fromiter(
            (len(p) for p in pos_col), dtype=np.int64, count=len(pos_col)
        )
        end = np.cumsum(lens)
        return cls(
            pdf["doc_id"].to_numpy(),
            pdf["tid"].to_numpy(),
            pdf["dl"].to_numpy(),
            np.concatenate(pos_col).astype(np.int64)
            if len(pos_col)
            else np.empty(0, dtype=np.int64),
            end - lens,
            end,
        )

    def rows(self, keep: np.ndarray) -> "PositionsBlock":
        """The block restricted to the rows where ``keep`` holds (the
        positions buffer is shared, not copied)."""
        return PositionsBlock(
            self.doc[keep], self.tid[keep], self.dl[keep], self.pos,
            self.start[keep], self.end[keep],
        )

    def positions(self, r: int) -> np.ndarray:
        return self.pos[self.start[r] : self.end[r]]

    def gather(self, rows: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(concatenated positions of ``rows``, per-row lengths)."""
        starts = self.start[rows]
        lens = self.end[rows] - starts
        prev = np.cumsum(lens) - lens
        idx = np.arange(int(lens.sum()), dtype=np.int64) + np.repeat(
            starts - prev, lens
        )
        return self.pos[idx], lens


def read_positions(index_dir: str, tids: list[int]) -> PositionsBlock:
    """Driver read of the rows of ``tids``: one pyarrow scan pruned to
    their term_buckets with a tid filter pushed into the row groups. The
    positions stay in the Arrow list's flat value buffer; only the row
    arrays are reordered."""
    import pyarrow.dataset as ds

    buckets = sorted({t % N_TERM_BUCKETS for t in tids})
    tbl = ds.dataset(
        positions_path(index_dir), format="parquet", partitioning="hive"
    ).to_table(
        columns=["tid", "doc_id", "dl", "positions"],
        filter=ds.field("term_bucket").isin(buckets)
        & ds.field("tid").isin(tids),
    )
    doc = tbl["doc_id"].to_numpy()
    tid = tbl["tid"].to_numpy()
    if doc.size == 0:
        z = np.empty(0, dtype=np.int64)
        return PositionsBlock(z, z, z, z, z, z)
    pos = tbl.column("positions").combine_chunks()
    offs = np.asarray(pos.offsets).astype(np.int64)
    order = np.lexsort((tid, doc))
    return PositionsBlock(
        doc[order],
        tid[order],
        tbl["dl"].to_numpy()[order],
        pos.values.to_numpy(zero_copy_only=False).astype(np.int64),
        offs[:-1][order],
        offs[1:][order],
    )


__all__ = [
    "PositionsBlock",
    "build_positions",
    "doc_shard",
    "has_positions",
    "positions_frame",
    "positions_path",
    "positions_table",
    "read_positions",
    "doc_id_col",
]
