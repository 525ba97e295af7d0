"""BM25 top-k query engine over the block index — and the weighted-postings
kernels every block index shares.

A handle (``PostingsIndex``: ``BM25Index`` here, ``index.sparse.
SparseIndex``) decodes a posting into ``(doc_id, contribution)`` — the
BM25 tf-norm ``tf / (tf + k1·(1 − b + b·dl/avgdl))`` or the stored sparse
weight — and names the column bounding a block's contributions
(``max_tfnorm`` / ``max_weight``). A query is a spec ``(query_id,
root)``, the root a small tree:

* leaves are contribution streams — ``Leaf(h, tid, weight)``, weight ×
  the contributions of a term's postings in handle ``h``, and
  ``AnyLeaf(h, tids, weight)``, a constant ``weight`` for every doc
  holding any term of an expansion (doc ids only);
* nodes are ``Sum(children, min_match, scale)`` and ``DisMax(children,
  tie_breaker)``; upper bounds compose bottom-up from each handle's
  block bounds.

``match`` (``bm25_topk`` / ``bm25_topk_batch``), ``weighted_term_topk``
and ``index.sparse.sparse_index_topk`` are one ``Sum`` of term leaves
(``terms_node``); multi_match and match_bool_prefix build deeper trees.
A single query is a batch of one spec. Two scorers, both rank-identical
to the numpy oracle:

1. The index kernels. Two routes serve a batch:

   * the driver route, when the Σdf of the batch's terms is at most
     ``DRIVER_MAX_POSTINGS`` (``_driver_topk``: one pyarrow read per
     handle decoded into its (doc ids, contributions) cache, the tree
     evaluated per spec by ``_node_scores`` — a ``sorted_union`` and
     ``bincount`` per node — and a local page, no Spark job);
   * the distributed route: one ``applyInPandas`` task per shard runs the
     shard function ``_bm25_shard`` over that shard's posting blocks of
     the batch's leaves. Per spec it runs MaxScore over the tree, keeping
     a top-k threshold and skipping blocks of low-impact (hot) leaves
     that cannot affect the top-k, with every ``min_match`` gate folded
     in. This is the Spark analog of the reference's block-max machinery
     (query/HybridScoreBlockBoundaryPropagator.java:53-98 advanceShallow
     + setMinCompetitiveScore, search/collector/HybridTopScoreDocCollector
     .java:160-168 heap-eviction threshold raising), except exact:
     MaxScore only prunes documents provably below the final threshold.
     A single query's shard top-k's are merged by Catalyst
     TakeOrderedAndProject (``orderBy.limit``) or by an RDD
     ``treeAggregate`` heap merge (north-rule form); a batch's by a
     per-query window.

   ``_candidate_scores`` sums a spec over a fixed candidate set only (a
   two-phase rescore), on either route.

2. ``bm25_score_all_join`` — pure-Catalyst scorer straight off the corpus
   (tokenize → explode → broadcast-join query terms → groupBy(doc).sum).
   Used for oracle parity and as the no-index fallback.

Sums are float64 and the final score float32 (Lucene-style) in both
paths, so ranks match the oracle. Tie-break: score desc, doc_id asc
(reference ScoreCombiner.java:43-56).
"""

from __future__ import annotations

import functools
import heapq
import math
import os
from collections import Counter
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..ranking import (
    batch_page,
    empty_batch_page,
    local_batch_page,
    local_page,
    sorted_union,
    topk_page,
)

from .. import BM25_B, BM25_K1
from ..index.build import N_TERM_BUCKETS, doc_id_col, tid_py, tokenize_corpus
from ..index.cache import (
    DEFAULT_MAX_BYTES,
    DEFAULT_MAX_TERMS,
    DriverCache,
    ResidentDictionary,
    evict_fifo,
)
from ..index.codec import (
    decode_doc_ids,
    decode_doc_ids_batch,
    decode_varint,
    decode_varint_batch,
)
from ..tokenizer import tokenize_py

BATCH_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.FloatType()),
    ]
)


def lucene_idf(N: int, df: int) -> float:
    return float(np.log(1.0 + (N - df + 0.5) / (df + 0.5)))


def _isin_sorted(ids: np.ndarray, arr: np.ndarray) -> np.ndarray:
    """Boolean mask of the ``ids`` present in the non-empty SORTED
    ``arr``, by binary search."""
    pos = np.searchsorted(arr, ids)
    return arr[np.minimum(pos, len(arr) - 1)] == ids


def _live_mask(ids: np.ndarray, deletes: np.ndarray | None) -> np.ndarray | None:
    """Boolean keep-mask for decoded doc ids against a SORTED tombstone
    array, or None when nothing is deleted (zero-cost fast path). The
    liveDocs analog: O(n log d) binary search, no decode-path branching."""
    if deletes is None or len(deletes) == 0 or len(ids) == 0:
        return None
    hit = _isin_sorted(ids, deletes)
    return ~hit if hit.any() else None


def _blocks_holding(
    ids: np.ndarray, min_doc_id: np.ndarray, max_doc_id: np.ndarray
) -> np.ndarray:
    """Which posting blocks' [min_doc_id, max_doc_id] range holds one of
    the SORTED ``ids`` — the blocks a candidate-restricted read decodes."""
    return np.searchsorted(ids, max_doc_id, side="right") > np.searchsorted(
        ids, min_doc_id
    )


class PostingsIndex:
    """What every block-postings handle shares: the Spark scan of its
    posting blocks (``postings_for``, ``cache``), the resident term
    dictionary, the driver's pyarrow dataset and bounded decoded-postings
    cache, and the tombstones the kernels mask.

    A posting decodes to ``(doc_id, contribution)``; the kernels
    (``_fill_driver_cache``, ``_driver_topk``, ``_shard_scored``,
    ``_candidate_scores``) score trees of weight · contribution leaves
    and read only this interface, so they serve every subclass alike. A
    subclass names its payload columns with their batch decoders
    (``payload``), the column bounding a block's contributions
    (``bound_col``), and implements ``contribution`` (decoded payload →
    contributions, on the driver) and ``block_decoder`` (the picklable
    per-block decode the shard functions run). Contributions must be
    finite and ≥ 0: MaxScore prunes on them."""

    payload: dict  # payload column → its codec batch decoder
    bound_col: str
    _dict_spec: tuple[str, tuple[str, ...]]  # (key column, stat columns)

    def __init__(self, spark: SparkSession, path: str, n_shards: int):
        self.spark = spark
        self.path = path
        self.n_shards = n_shards
        self._terms_path = os.path.join(path, "terms")
        self._postings_path = os.path.join(path, "postings")
        self._postings_df: DataFrame | None = None
        self._postings_ds = None  # cached pyarrow dataset (file listing)
        # driver-path hot-term cache: tid → (doc ids, contributions), a
        # bounded FIFO by count AND bytes — the coordinator analog of
        # Lucene's hot posting pages living in the OS page cache
        self._driver_cache = DriverCache()
        self.driver_cache_terms = DEFAULT_MAX_TERMS
        self.driver_cache_bytes = DEFAULT_MAX_BYTES
        # the resident term dictionary, read on first use (see _terms)
        self._dictionary: ResidentDictionary | None = None
        # sorted int64 tombstones, or None
        self.deletes: np.ndarray | None = None

    def contribution(self, *payload: np.ndarray) -> np.ndarray:
        """The contributions of decoded ``payload`` columns, in order."""
        raise NotImplementedError

    def block_decoder(self):
        """A picklable ``rows → (live doc ids, contributions)`` over a
        pandas frame of posting-block rows, for the shard functions."""
        raise NotImplementedError

    def decode_postings(self, tids, within: np.ndarray | None = None):
        """One ``_read_postings`` read of ``tids``' blocks decoded in one
        pass → ({tid: slice}, doc ids, contributions); an absent tid has
        no slice, and slices are views. With ``within`` (sorted doc ids)
        only the blocks whose doc-id range holds one are decoded."""
        cols = ["tid", "docs", *self.payload]
        if within is not None:
            cols += ["min_doc_id", "max_doc_id"]
        tbl = _read_postings(self, tids, cols)
        if within is not None and len(tbl):
            import pyarrow as pa

            tbl = tbl.filter(pa.array(_blocks_holding(
                within, tbl["min_doc_id"].to_numpy(),
                tbl["max_doc_id"].to_numpy(),
            )))
        slices, flat = _decode_by_tid(
            tbl, {"docs": decode_doc_ids_batch, **self.payload}
        )
        return slices, flat["docs"], self.contribution(
            *(flat[c] for c in self.payload)
        )

    def _terms(self) -> ResidentDictionary:
        """The handle's resident term dictionary, read on first use. It
        lives as long as the handle and its driver cache: a rebuilt or
        merged index is read through a new handle."""
        if self._dictionary is None:
            self._dictionary = ResidentDictionary(
                self._terms_path, *self._dict_spec
            )
        return self._dictionary

    def term_stats(self, terms: list[str]) -> dict[str, int]:
        """Driver-side term-dictionary lookup: {term: df} for the terms
        present in the index, by binary search of the resident dictionary
        — no Spark job and, after the handle's first lookup, no read."""
        d = self._terms()
        found, rows = d.find(terms)
        return dict(zip(found, d.stats["df"][rows].tolist()))

    def cache(self):
        """Serving mode: pin the posting blocks in executor memory
        (MEMORY_AND_DISK), PRE-PARTITIONED by shard_id. The one-time
        repartition shuffle at warm-up means every subsequent query's
        ``groupBy(shard_id).applyInPandas`` finds its required clustering
        already satisfied — Catalyst elides the per-query Exchange, so the
        serving loop is scan-free AND shuffle-free (verified in the plan:
        FlatMapGroupsInPandas ← Sort ← Filter ← InMemoryTableScan)."""
        from pyspark import StorageLevel

        if self._postings_df is None:
            self._postings_df = self.spark.read.parquet(self._postings_path)
        # one cached partition per shard: every serving task is exactly one
        # shard's kernel (best balance; measured ~12% over coarse groups)
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

    def postings_for(self, terms: list[str]) -> DataFrame:
        """Scan only the term_buckets of the query terms (partition pruning,
        tids/buckets computed driver-side in Python — same h60 hash as the
        writer) + a tid IN (...) predicate pushed into parquet row groups."""
        return self.postings_of({tid_py(t) for t in terms})

    def postings_of(self, tids) -> DataFrame:
        """``postings_for`` by term ids."""
        tids = sorted(tids)
        buckets = sorted({t % N_TERM_BUCKETS for t in tids})
        if self._postings_df is None:
            self._postings_df = self.spark.read.parquet(self._postings_path)
        return self._postings_df.filter(
            F.col("term_bucket").isin(buckets) & F.col("tid").isin(tids)
        )


class BM25Index(PostingsIndex):
    """Handle on an on-disk index directory produced by IndexBuilder. A
    posting's contribution is its BM25 tf-norm
    ``tf / (tf + k1·(1 − b + b·dl/avgdl))``, bounded per block by
    ``max_tfnorm``."""

    payload = {"tfs": decode_varint_batch, "dls": decode_varint_batch}
    bound_col = "max_tfnorm"
    _dict_spec = ("term", ("df", "cf"))

    def __init__(self, spark: SparkSession, path: str):
        srow = spark.read.parquet(os.path.join(path, "stats")).collect()[0]
        from ..index.build import INDEX_FORMAT_VERSION

        ver = (
            int(srow["format_version"])
            if "format_version" in srow.asDict()
            else 1
        )
        if ver != INDEX_FORMAT_VERSION:
            raise ValueError(
                f"index at {path} has format v{ver}; this engine reads "
                f"v{INDEX_FORMAT_VERSION} — rebuild with IndexBuilder"
            )
        super().__init__(spark, path, int(srow["n_shards"]))
        self.n_docs = int(srow["n_docs"])
        self.avgdl = float(srow["avgdl"])
        self.k1 = float(srow["k1"])
        self.b = float(srow["b"])
        self._positions_cache: DataFrame | None = None

    def contribution(self, tfs: np.ndarray, dls: np.ndarray) -> np.ndarray:
        return _tfnorm(tfs, dls, self.k1, self.b, self.avgdl)

    def block_decoder(self):
        return functools.partial(
            _decode_tfn, k1=self.k1, b=self.b, avgdl=self.avgdl,
            deletes=self.deletes,
        )

    def with_deletes(self, deletes) -> "BM25Index":
        """Attach a tombstone set: subsequent queries exclude these doc ids
        from scoring/collection WITHOUT touching the index files — Lucene
        liveDocs semantics, including the stats contract: ``n_docs``, df
        and avgdl still count deleted docs until a merge expunges them
        (``index.merge.merge_indexes(..., deletes=...)``), exactly as
        Lucene's idf drifts until segments merge. Live docs' scores are
        therefore UNCHANGED by a delete; only the deleted rows vanish.

        ``deletes``: a DataFrame with a ``doc_id`` column, or an iterable
        of int64 doc ids. Collected to a sorted numpy array on the driver
        and shipped in task closures — the per-segment-bitset analog;
        suited to the Lucene-shaped regime where tombstones ≪ corpus
        (bulk deletions should instead filter the corpus and rebuild).
        Pass None/empty to clear. Returns self."""
        if deletes is None:
            self.deletes = None
            return self
        if isinstance(deletes, DataFrame):
            arr = deletes.select("doc_id").toPandas()["doc_id"].to_numpy()
        else:
            arr = np.fromiter((int(x) for x in deletes), dtype=np.int64)
        arr = np.unique(arr.astype(np.int64))
        self.deletes = arr if len(arr) else None
        return self

    def term_stats_full(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """{term: (df, cf)} — ``term_stats`` widened to the collection
        frequency (the host's ``ttf``), for the _termvectors API."""
        d = self._terms()
        found, rows = d.find(terms)
        return dict(
            zip(
                found,
                zip(d.stats["df"][rows].tolist(), d.stats["cf"][rows].tolist()),
            )
        )

    def field_stats(self) -> dict:
        """Field-level statistics for the _termvectors API:
        ``sum_doc_freq`` (Σ df), ``doc_count`` (N) and ``sum_ttf`` (Σ cf)
        over the resident dictionary. NOTE the stats contract matches the
        rest of the index: deleted docs still count until a merge expunges
        them (Lucene liveDocs semantics)."""
        d = self._terms()
        return {
            "sum_doc_freq": int(d.stats["df"].sum()),
            "doc_count": int(self.n_docs),
            "sum_ttf": int(d.stats["cf"].sum()),
        }

    def prefix_stats(self, prefix: str, limit: int = 50) -> list[tuple[str, int]]:
        """Dictionary prefix expansion: the first ``limit`` index terms with
        the given prefix IN LEXICOGRAPHIC (code point) ORDER, with their
        df — Lucene's ``MultiPhrasePrefixQuery.getPrefixTerms`` contract
        (terms enumerated from the dictionary in term order, capped at
        ``max_expansions``), except the expansion is over the GLOBAL
        dictionary rather than per-segment. A binary-searched row range of
        the resident dictionary (the term_bucket layout could not prune a
        prefix scan: tid is a hash)."""
        if not prefix:
            return []
        d = self._terms()
        rows = d.prefix_rows(prefix)
        return d.pairs(
            slice(rows.start, min(rows.stop, rows.start + max(int(limit), 0)))
        )

    def dictionary(self, prefix: str | None = None) -> list[tuple[str, int]]:
        """(term, df) pairs of the whole dictionary, or of the terms with
        ``prefix``, in term order — the multi-term-query expansion surface
        (fuzzy/wildcard enumerate the dictionary the way Lucene's
        FuzzyTermsEnum walks the terms index), served from the resident
        dictionary."""
        d = self._terms()
        return d.pairs(d.prefix_rows(prefix) if prefix else slice(None))

    def n_terms(self) -> int:
        """Vocabulary size — the pre-flight the fuzzy/suggest
        unpruned-dictionary guard uses before committing to a full
        dictionary walk."""
        return len(self._terms().terms)

    def cache_positions(self) -> "BM25Index":
        """Positional-serving mode: pin the positions sidecar in executor
        memory PRE-PARTITIONED by doc_shard — the positional shard
        kernel's grouping key. With rows already clustered, a phrase or
        span query's plan is exchange-free: in-memory scan → tid filter →
        groupBy(doc_shard) applyInPandas with the Exchange elided, the
        same trick ``cache()`` plays for BM25 serving. The Lucene analog
        is the .pos file staying hot in the page cache instead of being
        re-opened per query. Opt-in: BM25/hybrid serving never pays for
        this."""
        from pyspark import StorageLevel

        from ..index.positions import doc_shard, has_positions, positions_path

        if not has_positions(self.path):
            raise ValueError(
                f"index at {self.path} has no positions sidecar — run "
                "index.positions.build_positions first"
            )
        if self._positions_cache is None:
            pos = self.spark.read.parquet(
                positions_path(self.path)
            ).withColumn("doc_shard", doc_shard(self.n_shards))
            # sortWithinPartitions(tid): the in-memory columnar cache keeps
            # per-batch min/max stats, so a query's `tid IN (...)` filter
            # skips every batch outside its terms' ranges — the cached
            # analog of the parquet term_bucket/row-group pruning, while
            # the PARTITIONING stays doc_shard for the exchange-free group
            self._positions_cache = (
                pos.repartition(self.n_shards, "doc_shard")
                .sortWithinPartitions("tid", "doc_id")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            self._positions_cache.count()  # eager: see cache()
        return self


def _tfnorm(tfs, dls, k1: float, b: float, avgdl: float) -> np.ndarray:
    """float64 BM25 tf-norm ``tf / (tf + k1·(1 − b + b·dl/avgdl))`` of
    decoded tf and dl arrays — a BM25 posting's contribution."""
    tfs = tfs.astype(np.float64)
    dls = dls.astype(np.float64)
    return tfs / (tfs + k1 * (1.0 - b + b * dls / avgdl))


def _decode_tfn(
    rows: pd.DataFrame,
    k1: float,
    b: float,
    avgdl: float,
    deletes: np.ndarray | None,
) -> tuple[np.ndarray, np.ndarray]:
    """Decode posting-block rows → (live doc ids, float64 BM25 tf-norm).
    Tombstones are masked here, at decode time — before any doc can
    enter a candidate set or raise a threshold."""
    ids = np.concatenate([decode_doc_ids(x) for x in rows["docs"]])
    tfs = np.concatenate([decode_varint(x) for x in rows["tfs"]])
    dls = np.concatenate([decode_varint(x) for x in rows["dls"]])
    live = _live_mask(ids, deletes)
    if live is not None:
        ids, tfs, dls = ids[live], tfs[live], dls[live]
    return ids, _tfnorm(tfs, dls, k1, b, avgdl)


def _single_term_topk(
    rows: pd.DataFrame, w: float, k: int, decode, bound_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """Block-max pruned top-k of a one-term query over its block rows →
    (doc ids, float32 scores), score desc / doc_id asc. Per-doc scores
    are independent, so the per-block max-score bound prunes EXACTLY (the
    true block-max shortcut — Lucene's advanceShallow /
    setMinCompetitiveScore pair, reference
    HybridScoreBlockBoundaryPropagator.java:53-98): process blocks by
    descending bound and, once k candidates exist, skip every block whose
    bound can't beat (or f32-tie) the running k-th score."""
    rows = rows.sort_values(bound_col, ascending=False, kind="mergesort")
    bounds_ = w * rows[bound_col].to_numpy()
    ids_parts, sc_parts, n_seen = [], [], 0
    theta = -np.inf
    for bi in range(len(rows)):
        if n_seen >= k:
            # one-f32-ulp slack: never skip a block that could produce a
            # doc tying theta after the float32 cast
            thr = float(np.nextafter(np.float32(theta), np.float32(-np.inf)))
            if bounds_[bi] < thr:
                break
        ids_b, c_b = decode(rows.iloc[bi : bi + 1])
        ids_parts.append(ids_b)
        sc_parts.append(np.multiply(w, c_b, dtype=np.float64))
        n_seen += len(ids_b)
        if n_seen >= k:
            all_sc = np.concatenate(sc_parts)
            theta = float(
                np.partition(all_sc, len(all_sc) - k)[len(all_sc) - k]
            )
    if not ids_parts:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32)
    ids = np.concatenate(ids_parts)
    f32 = np.concatenate(sc_parts).astype(np.float32)
    sel = np.lexsort((ids, -f32.astype(np.float64)))[:k]
    return ids[sel], f32[sel]


class Leaf(NamedTuple):
    """A contribution stream: ``weight`` × the contribution of every
    posting of term ``tid`` in handle ``h`` (a position in the
    evaluator's handle list)."""

    h: int
    tid: int
    weight: float


class AnyLeaf(NamedTuple):
    """A constant-score stream: ``weight`` for every doc holding any of
    ``tids`` in handle ``h`` (a prefix expansion). Only doc ids are
    decoded."""

    h: int
    tids: frozenset
    weight: float


class Sum(NamedTuple):
    """Σ children over the docs at least ``min_match`` children match,
    times ``scale``."""

    children: tuple
    min_match: int = 1
    scale: float = 1.0


class DisMax(NamedTuple):
    """``max + tie_breaker · (Σ − max)`` over the children; the
    tie_breaker is in [0, 1], so the node is monotone."""

    children: tuple
    tie_breaker: float = 0.0


def terms_node(weights: dict[int, float], min_match: int = 1) -> Sum:
    """The match family's tree: one sum node over the term leaves of
    ``weights``, in its order, on handle 0."""
    return Sum(tuple([Leaf(0, t, w) for t, w in weights.items()]), min_match)


def _leaves(node, scale: float = 1.0, out: list | None = None) -> list:
    """(leaf, product of the sum scales above it) of every leaf under
    ``node``, depth first."""
    out = [] if out is None else out
    if isinstance(node, Sum):
        scale *= node.scale
    for c in node.children:
        if isinstance(c, (Sum, DisMax)):
            _leaves(c, scale, out)
        else:
            out.append((c, scale))
    return out


def _live_docs(docs, deletes: np.ndarray | None) -> np.ndarray:
    """The sorted distinct live doc ids of encoded ``docs`` blocks."""
    ids = np.unique(
        np.concatenate(
            [np.empty(0, dtype=np.int64)] + [decode_doc_ids(x) for x in docs]
        )
    )
    live = _live_mask(ids, deletes)
    return ids if live is None else ids[live]


def _read_ordered(node, rank: dict):
    """(``node`` with every node's children sorted by the first read
    rank of a leaf under them, that rank) — ``rank`` maps a leaf to its
    read position. The driver evaluator adds children in child order,
    so over this tree it adds in read order, exactly as MaxScore reads
    a flat sum's terms."""
    if not isinstance(node, (Sum, DisMax)):
        return node, rank.get(node, np.inf)
    kids = sorted(
        (_read_ordered(c, rank) for c in node.children), key=lambda p: p[1]
    )
    return node._replace(children=tuple(c for c, _r in kids)), kids[0][1]


def _bm25_shard(
    pdf: pd.DataFrame,
    specs: list[tuple[str, object]],
    k: int,
    decoders: list,
    deletes: list,
    bound_col: str,
) -> pd.DataFrame:
    """The shard function of every tree: every spec ``(query_id, root)``
    over one group of posting blocks → (query_id, doc_id, score) rows,
    each spec's group top-k in score desc / doc_id asc order. Rows carry
    an ``h`` column naming their handle when there are several;
    ``decoders[h]`` is that handle's ``block_decoder()`` and
    ``deletes[h]`` its tombstones. A doc's postings all live in one
    group, so every group top-k is exact.

    Per spec it runs MaxScore, scoring with the driver evaluator
    (``_node_scores``) over the tree in read order. Leaves are read in
    descending upper bound (the leaf weight × the group's largest block
    bound, × the scales above it). Bound row i holds every leaf from
    read position i on at its bound, so the tree evaluated over those
    rows bounds a doc first seen at leaf i, and drops the rows where
    such a doc could no longer pass a ``min_match`` gate. While its row
    reaches theta (with one float32 ulp of slack), a leaf is essential
    and admits new candidates; past that, a leaf adds to existing
    candidates only, decoding just the blocks whose doc_id range holds
    one. theta is the k-th score among the candidates that pass the
    gates: the tree is monotone and contributions are ≥ 0, so it bounds
    the final k-th from below. A flat sum with one term takes
    ``_single_term_topk``'s block-max skip.

    A stream two or more specs use is decoded in full once and shared;
    one a single spec uses keeps the pruned decode. Scores sum in
    float64 and cast to float32 at emit (the oracle's dtype contract),
    and tombstones are masked at decode, before any doc can become a
    candidate or raise theta."""
    if "h" in pdf:
        rows_of = dict(tuple(pdf.groupby(["h", "tid"], sort=False)))
    else:
        rows_of = {(0, t): g for t, g in pdf.groupby("tid", sort=False)}
    streams: dict = {}  # stream key → its rows here, or None

    def rows(leaf):
        key = leaf[:2]
        if key not in streams:
            if isinstance(leaf, AnyLeaf):
                got = [
                    rows_of[leaf.h, t]
                    for t in leaf.tids if (leaf.h, t) in rows_of
                ]
                streams[key] = pd.concat(got) if got else None
            else:
                streams[key] = rows_of.get(key)
        return streams[key]

    uses = Counter(
        leaf[:2]
        for _q, root in specs
        for leaf, _s in _leaves(root)
        if rows(leaf) is not None
    )
    full: dict = {}

    def decode(leaf, r):
        if isinstance(leaf, AnyLeaf):
            ids = _live_docs(r["docs"], deletes[leaf.h])
            return ids, np.ones(len(ids))
        return decoders[leaf.h](r)

    def read(leaf, keep=None):
        """(ids, float64 weight · contribution) of ``leaf`` here: the full
        shared decode of a stream several specs use, else the ``keep``
        blocks (all if None)."""
        r = streams[leaf[:2]]
        if uses[leaf[:2]] > 1:
            got = full.get(leaf[:2])
            if got is None:
                got = full[leaf[:2]] = decode(leaf, r)
        else:
            got = decode(leaf, r if keep is None else r[keep])
        return got[0], np.multiply(leaf.weight, got[1], dtype=np.float64)

    out_q: list[str] = []
    out_ids: list[np.ndarray] = [np.empty(0, dtype=np.int64)]
    out_sc: list[np.ndarray] = [np.empty(0, dtype=np.float32)]
    for qid, root in specs:
        scale_of = dict(_leaves(root))
        ub = {
            leaf: leaf.weight * (
                1.0 if isinstance(leaf, AnyLeaf)
                else float(rows(leaf)[bound_col].max())
            )
            for leaf in scale_of
            if rows(leaf) is not None
        }
        # a stable sort: equal bounds keep depth-first order
        order = sorted(ub, key=lambda leaf: -ub[leaf] * scale_of[leaf])
        if not order:
            continue
        rank = {leaf: i for i, leaf in enumerate(order)}
        tree = _read_ordered(root, rank)[0]
        # bound row i: every leaf read at position i or later, at its
        # bound; a row the gates drop cannot admit a qualifying doc
        at, bound = _node_scores(
            tree,
            lambda leaf: (
                np.arange(rank[leaf] + 1), np.full(rank[leaf] + 1, ub[leaf])
            ) if leaf in rank else None,
        )
        tail = np.full(len(order), np.nan)
        tail[at] = bound
        if np.isnan(tail[0]):
            continue
        first = order[0]
        if (
            len(order) == 1
            and isinstance(first, Leaf)
            and uses[first[:2]] == 1
            and isinstance(root, Sum)
            and root.scale == 1.0
            and first in root.children
        ):
            ids, f32 = _single_term_topk(
                rows(first), first.weight, k, decoders[first.h], bound_col
            )
        else:
            read_so_far: dict = {}
            ids = np.empty(0, dtype=np.int64)
            scored = None
            theta = -np.inf
            for i, leaf in enumerate(order):
                thr = float(np.nextafter(np.float32(theta), np.float32(-np.inf)))
                if tail[i] >= thr:  # False on a dropped (nan) row
                    read_so_far[leaf] = read(leaf)
                    ids = np.union1d(ids, read_so_far[leaf][0])
                elif not len(ids):
                    break  # nothing admitted, and no later leaf admits
                else:
                    r = rows(leaf)
                    keep = _blocks_holding(
                        ids, r["min_doc_id"].to_numpy(),
                        r["max_doc_id"].to_numpy(),
                    )
                    if not keep.any():
                        continue
                    t_ids, v = read(leaf, keep)
                    ok = _isin_sorted(t_ids, ids)
                    read_so_far[leaf] = (t_ids[ok], v[ok])
                scored = _node_scores(tree, read_so_far.get)
                if len(scored[1]) >= k:
                    theta = float(np.partition(
                        scored[1], len(scored[1]) - k
                    )[len(scored[1]) - k])
            if scored is None:
                continue
            ids, f32 = scored[0], scored[1].astype(np.float32)
            sel = np.lexsort((ids, -f32.astype(np.float64)))[:k]
            ids, f32 = ids[sel], f32[sel]
        out_q.extend([qid] * len(ids))
        out_ids.append(ids)
        out_sc.append(f32)
    return pd.DataFrame(
        {
            "query_id": pd.Series(out_q, dtype=object),
            "doc_id": np.concatenate(out_ids),
            "score": np.concatenate(out_sc),
        }
    )


DRIVER_MAX_POSTINGS = 2_000_000  # auto mode: Σdf up to this → driver path


def driver_route(mode: str, sum_df: int) -> bool:
    """The one driver-vs-distributed decision every index kernel makes:
    'driver' → True, 'distributed' → False, 'auto' → the query's Σdf is
    at most DRIVER_MAX_POSTINGS (the coordinator-cheap-query pattern)."""
    if mode == "auto":
        return sum_df <= DRIVER_MAX_POSTINGS
    if mode not in ("driver", "distributed"):
        raise ValueError(
            f"mode must be 'auto', 'driver' or 'distributed', got {mode!r}"
        )
    return mode == "driver"


def parse_min_match(
    operator: str, minimum_should_match, n_clauses: int
) -> int:
    """Resolve OpenSearch match-query coverage options to a term count.

    operator 'and' requires every clause (Lucene BooleanQuery MUST);
    otherwise minimum_should_match may be an int (negative = n − |m|,
    like Lucene's Queries.calculateMinShouldMatch) or an 'N%' /' -N%'
    string (percentage of clause count, truncated toward zero like Java's
    int cast). The result is floored at 1 but NOT capped at n_clauses:
    Lucene/OpenSearch treat msm > optional-clause count as unmatchable,
    and every caller realizes that by returning empty (the
    `min_match > len(terms)` checks of `bm25_topk` and `bm25_topk_batch`;
    `gate.bm25_scored`'s coverage HAVING)."""
    if operator not in ("or", "and"):
        raise ValueError(f"operator must be 'or' or 'and', got {operator!r}")
    if operator == "and":
        return n_clauses
    m = minimum_should_match
    if m is None:
        return 1
    if isinstance(m, str):
        s = m.strip()
        if s.endswith("%"):
            pct = float(s[:-1])
            # int() truncates toward zero — '-25%' of 10 clauses is
            # 10 + trunc(-2.5) = 8, matching Queries.calculateMinShouldMatch
            calc = int(n_clauses * pct / 100)
            got = n_clauses + calc if pct < 0 else calc
        else:
            got = int(s)
    else:
        got = int(m)
    if got < 0:
        got = n_clauses + got
    return max(1, got) if n_clauses else 0


def _read_postings(index, tids, columns: list[str]):
    """The driver's postings read of a ``PostingsIndex``: ``columns`` of
    the posting blocks of ``tids`` as one pyarrow table, from ONE read of
    ONLY their bucket partitions (hive pruning) with a tid row-group
    filter — zero Spark jobs, so latency is filesystem latency, not task
    scheduling."""
    import pyarrow.dataset as ds

    tids = sorted(tids)
    if index._postings_ds is None:
        index._postings_ds = ds.dataset(
            index._postings_path, format="parquet", partitioning="hive"
        )
    return index._postings_ds.to_table(
        columns=columns,
        filter=ds.field("term_bucket").isin(
            sorted({t % N_TERM_BUCKETS for t in tids})
        )
        & ds.field("tid").isin(tids),
    )


def _decode_by_tid(tbl, decoders: dict) -> tuple[dict[int, slice], dict]:
    """Decode a driver postings read in ONE batched pass per column:
    ``decoders`` maps a column of ``tbl`` (which also holds ``tid``) to
    its ``codec`` batch decoder → ({tid: slice of its values}, {column:
    row-concatenated values}). Rows are grouped by tid with a stable
    sort, so a term's blocks keep their read order; an absent tid has no
    slice. Slices are views: a caller that keeps one copies it."""
    tid_arr = tbl["tid"].to_numpy()
    order = np.argsort(tid_arr, kind="stable")
    tbl = tbl.take(order)
    flat = {}
    for col, decode in decoders.items():
        flat[col], counts = decode(tbl[col])
    bounds = np.concatenate(([0], np.cumsum(counts))).tolist()
    tids, first = np.unique(tid_arr[order], return_index=True)
    last = np.append(first[1:], len(order)).tolist()
    return {
        t: slice(bounds[f], bounds[e])
        for t, f, e in zip(tids.tolist(), first.tolist(), last)
    }, flat


def _fill_driver_cache(index: PostingsIndex, tids) -> None:
    """Decode every tid of ``tids`` the handle's driver cache lacks, from
    one read decoded in one pass (``decode_postings``), into a
    (doc ids, contributions) entry. An absent tid caches None.

    Never evicts: a caller scoring from the cache evicts once, after its
    last use of it, so no entry it filled (or found) can be dropped
    before it is read — repeated queries over a zipfian vocabulary
    re-read only cold terms."""
    cache = index._driver_cache
    missing = sorted({t for t in tids if t not in cache})
    if not missing:
        return
    slices, ids, contrib = index.decode_postings(missing)
    for tid in missing:
        sl = slices.get(tid)
        # entries own their memory, so no view pins the whole read while
        # DriverCache.nbytes counts only the slice
        cache[tid] = None if sl is None else (
            ids[sl].copy(), contrib[sl].copy()
        )


def _weighted(index: PostingsIndex, got, w: float):
    """A leaf's (live doc ids, float64 w · contribution) from a (doc ids,
    contributions) entry, or None for an absent term."""
    if got is None:
        return None
    ids, contrib = got
    # cache entries stay delete-agnostic; tombstones mask at use so a
    # later with_deletes() change needs no cache invalidation
    live = _live_mask(ids, index.deletes)
    if live is not None:
        ids, contrib = ids[live], contrib[live]
    # float64 whatever the stored dtype: a Python float times a float32
    # array would stay float32
    return ids, np.multiply(w, contrib, dtype=np.float64)


_NO_DOCS = (np.empty(0, dtype=np.int64), np.empty(0))


def _node_scores(node, value) -> tuple[np.ndarray, np.ndarray]:
    """(doc ids, float64 scores) of every doc that the ``Sum`` or
    ``DisMax`` ``node`` matches — the driver evaluator. ``value(leaf)``
    gives a leaf's (doc ids, float64 values), or None. A node combines
    its children's runs with one ``sorted_union`` and ``bincount``,
    adding in child order; a lone child run is already its combine."""
    parts = [
        p for p in (
            _node_scores(c, value) if isinstance(c, (Sum, DisMax))
            else value(c) or _NO_DOCS
            for c in node.children
        )
        if len(p[0])
    ]
    if not parts:
        return _NO_DOCS
    many = len(parts) > 1
    if many:
        ids, inv = sorted_union(np.concatenate([p[0] for p in parts]))
        flat = np.concatenate([p[1] for p in parts])
        sc = np.bincount(inv, weights=flat, minlength=len(ids))
    else:
        ids, sc = parts[0]
    if isinstance(node, DisMax):
        if not many:
            return ids, sc
        mx = np.full(len(ids), -np.inf)
        np.maximum.at(mx, inv, flat)
        return ids, mx + node.tie_breaker * (sc - mx)
    if node.min_match > 1:
        if not many:
            return _NO_DOCS
        # each child run lists a doc once, so the plain bincount of inv
        # is the per-doc matched-children count
        ok = np.bincount(inv, minlength=len(ids)) >= node.min_match
        ids, sc = ids[ok], sc[ok]
    if node.scale != 1.0:
        sc = sc * node.scale
    return ids, sc


def _ranked(
    specs: list[tuple[str, object]], k: int, value
) -> tuple[list[str], np.ndarray, np.ndarray]:
    """Each spec's top-k by the driver evaluator → per-row (query_ids,
    doc_ids, float32 scores), each query's rows contiguous in score desc
    / doc_id asc order."""
    qids: list[str] = []
    ids_parts: list[np.ndarray] = [np.empty(0, dtype=np.int64)]
    sc_parts: list[np.ndarray] = [np.empty(0, dtype=np.float32)]
    for qid, root in specs:
        ids, sc = _node_scores(root, value)
        f32 = sc.astype(np.float32)
        sel = np.lexsort((ids, -f32.astype(np.float64)))[:k]
        qids.extend([qid] * len(sel))
        ids_parts.append(ids[sel])
        sc_parts.append(f32[sel])
    return qids, np.concatenate(ids_parts), np.concatenate(sc_parts)


def _candidate_scores(
    index: PostingsIndex,
    terms: list[str],
    weights: dict[int, float],
    cand: np.ndarray,
    driver: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """(doc ids, float64 Σ weights[tid]·contribution) over only the docs
    of the sorted, non-empty ``cand``, ``weights`` keyed by the tids of
    ``terms`` — the rescore phase of a two-phase query, on the driver or
    in one Spark job. Reads decode only the blocks whose doc-id range
    holds a candidate; what they decode is partial, so it is never
    cached, but on the driver a term the cache already holds is taken
    from it. Every term's postings are masked to the candidates before
    the driver evaluator sums them, so a hot term's corpus-wide postings
    never enter the sum."""

    def within(ids, contrib):
        ok = _isin_sorted(ids, cand)
        return ids[ok], contrib[ok]

    entries: dict = dict.fromkeys(weights)
    if driver:
        cache = index._driver_cache
        cold = [t for t in weights if t not in cache]
        if cold:
            slices, ids, contrib = index.decode_postings(cold, within=cand)
            for t, sl in slices.items():
                entries[t] = within(ids[sl], contrib[sl])
        for t in weights:
            got = cache.get(t)
            if got is not None:
                entries[t] = within(*got)
    else:
        decode = index.block_decoder()

        def shard(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf[_blocks_holding(
                cand, pdf["min_doc_id"].to_numpy(),
                pdf["max_doc_id"].to_numpy(),
            )]
            tids, ids, contrib = [np.empty(0, np.int64)], [], []
            for t, rows in pdf.groupby("tid", sort=False):
                t_ids, c = within(*decode(rows))
                tids.append(np.full(len(t_ids), t, dtype=np.int64))
                ids.append(t_ids)
                contrib.append(c)
            return pd.DataFrame({
                "tid": np.concatenate(tids),
                "doc_id": np.concatenate([np.empty(0, np.int64), *ids]),
                "contribution": np.concatenate([np.empty(0), *contrib]),
            })

        # a doc lives in one shard, so each (tid, doc) row is unique
        rows = (
            index.postings_for(terms)
            .select(
                "shard_id", "tid", "min_doc_id", "max_doc_id", "docs",
                *index.payload,
            )
            .groupBy("shard_id")
            .applyInPandas(
                shard, "tid long, doc_id long, contribution double"
            )
            .toPandas()
        )
        for t, g in rows.groupby("tid", sort=False):
            entries[t] = (
                g["doc_id"].to_numpy(), g["contribution"].to_numpy()
            )
    return _node_scores(
        terms_node(weights),
        lambda leaf: _weighted(index, entries[leaf.tid], leaf.weight),
    )


def _driver_topk(
    handles: list[PostingsIndex], specs: list[tuple[str, object]], k: int
) -> tuple[list[str], np.ndarray, np.ndarray]:
    """The driver route of every tree, single query or batch: ``specs``
    = [(query_id, root)] over ``handles`` → ``_ranked``'s rows. One
    cache fill per handle over its term leaves, one docs-only read per
    handle for its constant-score leaves — kept out of the cache, where
    a short prefix's thousands of expansions would flush the scored
    terms — and one eviction after the last spec."""
    term_tids: dict[int, set] = {}
    any_tids: dict[int, set] = {}
    for _q, root in specs:
        for leaf, _s in _leaves(root):
            if isinstance(leaf, AnyLeaf):
                any_tids.setdefault(leaf.h, set()).update(leaf.tids)
            else:
                term_tids.setdefault(leaf.h, set()).add(leaf.tid)
    for h, tids in term_tids.items():
        _fill_driver_cache(handles[h], tids)
    docs: dict[tuple[int, int], np.ndarray] = {}
    for h, tids in any_tids.items():
        slices, flat = _decode_by_tid(
            _read_postings(handles[h], tids, ["tid", "docs"]),
            {"docs": decode_doc_ids_batch},
        )
        for t, sl in slices.items():
            ids = flat["docs"][sl]
            live = _live_mask(ids, handles[h].deletes)
            docs[h, t] = ids if live is None else ids[live]

    def value(leaf):
        if isinstance(leaf, AnyLeaf):
            ids = np.unique(np.concatenate([
                np.empty(0, dtype=np.int64),
                *(docs[leaf.h, t] for t in leaf.tids if (leaf.h, t) in docs),
            ]))
            return ids, np.full(len(ids), leaf.weight)
        index = handles[leaf.h]
        return _weighted(index, index._driver_cache[leaf.tid], leaf.weight)

    out = _ranked(specs, k, value)
    for index in handles:
        evict_fifo(
            index._driver_cache, index.driver_cache_terms,
            index.driver_cache_bytes,
        )
    return out


def bm25_topk(
    index: BM25Index,
    query_text: str,
    k: int = 10,
    merge: str = "takeOrdered",
    mode: str = "auto",
    operator: str = "or",
    minimum_should_match=None,
) -> DataFrame:
    """Block-max top-k over the index. Returns (doc_id, score, rank).

    mode: 'auto' (driver-side execution when the query's Σdf is under
    DRIVER_MAX_POSTINGS — the coordinator-cheap-query pattern), 'driver',
    or 'distributed'.

    operator / minimum_should_match (OpenSearch match-query options,
    Lucene BooleanQuery coverage): 'and' requires every distinct query
    term; minimum_should_match (int, negative int, or 'N%') requires at
    least that many distinct terms. Clauses are the DISTINCT query terms
    including out-of-vocabulary ones — 'and' with an OOV term matches
    nothing, and msm counts OOV clauses toward the requirement, exactly
    like Lucene clauses over absent terms. Scores are unchanged: the sum
    of every MATCHED term's BM25 contribution."""
    all_clauses = sorted(set(tokenize_py(query_text)))
    min_match = parse_min_match(
        operator, minimum_should_match, len(all_clauses)
    )
    stats = index.term_stats(all_clauses)
    terms = [t for t in all_clauses if t in stats]
    # OOV clauses can never match, so a coverage bar above the number of
    # in-vocabulary terms is unsatisfiable
    if min_match > len(terms):
        terms = []
    if not terms:
        return local_page(index.spark, [], np.float32([]))
    idfs = {tid_py(t): lucene_idf(index.n_docs, stats[t]) for t in terms}
    return _term_topk(
        index, idfs, sum(stats[t] for t in terms), k,
        min_match=min_match, merge=merge, mode=mode,
    )


def _term_topk(
    index: BM25Index,
    weights: dict[int, float],
    sum_df: int,
    k: int,
    min_match: int = 1,
    merge: str = "takeOrdered",
    mode: str = "auto",
) -> DataFrame:
    """The body of bm25_topk and weighted_term_topk: top-k of
    Σ_t weights[tid] · tfnorm_t over docs matching ≥ min_match of the
    (in-vocabulary) terms: ``_tree_page`` with this one spec, or the
    shard function's top-k's merged by a treeAggregate heap."""
    spark = index.spark
    if merge == "treeAggregate" and mode == "auto":
        mode = "distributed"  # the caller asked for the cluster merge path
    specs = [
        ("", terms_node({t: weights[t] for t in sorted(weights)}, min_match))
    ]
    driver = driver_route(mode, sum_df)
    if driver or merge != "treeAggregate":
        return _tree_page([index], specs, k, driver)
    shard_topk = _shard_scored([index], specs, k).drop("query_id")

    # north-rule form: per-partition k-heaps merged via treeAggregate
    def seq(heap, row):
        item = (float(row["score"]), -int(row["doc_id"]))
        if len(heap) < k:
            heapq.heappush(heap, item)
        elif item > heap[0]:
            heapq.heapreplace(heap, item)
        return heap

    def comb(h1, h2):
        for item in h2:
            if len(h1) < k:
                heapq.heappush(h1, item)
            elif item > h1[0]:
                heapq.heapreplace(h1, item)
        return h1

    heap = shard_topk.rdd.treeAggregate([], seq, comb, depth=2)
    rows = sorted(heap, key=lambda x: (-x[0], -x[1]))
    return local_page(
        spark,
        [-d for _, d in rows],
        np.array([s for s, _ in rows], dtype=np.float32),
    )


def weighted_term_topk(
    index: BM25Index,
    term_weights: dict[str, float],
    k: int = 10,
    mode: str = "auto",
) -> DataFrame:
    """Disjunctive top-k with CALLER-SUPPLIED per-term weights replacing
    idf: score(doc) = Σ_t w_t · tfnorm_t. The execution kernels are
    bm25_topk's (driver pyarrow read / distributed MaxScore shards) — only
    the per-term constant differs, which is exactly how Lucene serves
    expanded multi-term queries (fuzzy/blended TermQueries with boosts ×
    blended idf). Terms absent from the index are dropped (their clauses
    can never match)."""
    terms = sorted(t for t, w in term_weights.items() if w != 0.0)
    stats = index.term_stats(terms)
    terms = [t for t in terms if t in stats]
    if not terms:
        return local_page(index.spark, [], np.float32([]))
    weights = {tid_py(t): float(term_weights[t]) for t in terms}
    return _term_topk(
        index, weights, sum(stats[t] for t in terms), k, mode=mode
    )


def _shard_scored(
    handles: list[PostingsIndex], specs: list[tuple[str, object]], k: int
) -> DataFrame:
    """``_bm25_shard`` over the union of the handles' pruned postings
    scans of their leaves' tids: one ``applyInPandas`` task per group
    scores every spec → (query_id, doc_id, score), at most k rows per
    spec and group. The handles share one payload layout.

    Groups are ``pmod(shard_id, g)``, ``g`` the gcd of the handles'
    n_shards. ``shard_id`` is ``pmod(xxhash64(doc_id, 7), n)``, a
    function of the doc id alone, and ``g`` divides every ``n``, so
    ``pmod(pmod(h, n), g) == pmod(h, g)``: every handle's postings of a
    doc land in one group whatever mix of layouts the handles use. When
    the layouts match the group key is ``shard_id`` itself, and one
    handle's scan is exactly its ``shard_id`` plan."""
    decoders = [ix.block_decoder() for ix in handles]
    deletes = [ix.deletes for ix in handles]
    bound_col = handles[0].bound_col

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        return _bm25_shard(pdf, specs, k, decoders, deletes, bound_col)

    tids: list[set] = [set() for _ in handles]
    for _q, root in specs:
        for leaf, _s in _leaves(root):
            tids[leaf.h].update(
                leaf.tids if isinstance(leaf, AnyLeaf) else (leaf.tid,)
            )
    g = math.gcd(*(ix.n_shards for ix in handles))
    blocks = None
    for h, index in enumerate(handles):
        if not tids[h]:
            continue
        shard = F.col("shard_id")
        if index.n_shards != g:
            shard = F.pmod(shard, F.lit(g)).alias("shard_id")
        # column-prune before the shuffle: the scorer needs the ids,
        # doc-id range, payload and bound of each block, all but the
        # payload fixed-width → zero-copy Arrow→numpy
        cols = [
            shard, "tid", "min_doc_id", "max_doc_id", "docs",
            *index.payload, bound_col,
        ]
        if len(handles) > 1:
            cols.append(F.lit(h).cast("long").alias("h"))
        part = index.postings_of(tids[h]).select(*cols)
        blocks = part if blocks is None else blocks.unionAll(part)
    return blocks.groupBy("shard_id").applyInPandas(
        score_shard, BATCH_TOPK_SCHEMA
    )


def _tree_page(
    handles: list[PostingsIndex],
    specs: list[tuple[str, object]],
    k: int,
    driver: bool,
) -> DataFrame:
    """One spec's (doc_id, score, rank) page: a local page on the
    driver, else the shard top-k's merged by TakeOrderedAndProject."""
    if driver:
        _q, ids, scores = _driver_topk(handles, specs, k)
        return local_page(handles[0].spark, ids, scores)
    return topk_page(_shard_scored(handles, specs, k).drop("query_id"), k)


def _tree_batch_page(
    handles: list[PostingsIndex],
    specs: list[tuple[str, object]],
    k: int,
    driver: bool,
) -> DataFrame:
    """A batch's (query_id, doc_id, score, rank) page: a local page on
    the driver, else the shard top-k's merged by a per-query window."""
    if driver:
        return local_batch_page(
            handles[0].spark, *_driver_topk(handles, specs, k)
        )
    return batch_page(_shard_scored(handles, specs, k), k)


def bm25_topk_batch(
    index: BM25Index,
    queries: list[tuple[str, str]],
    k: int = 10,
    mode: str = "auto",
    operator: str = "or",
    minimum_should_match=None,
) -> DataFrame:
    """Top-k BM25 for a BATCH of queries: on the driver below the gate,
    else in one Spark job.

    queries: [(query_id, query_text)]. Returns (query_id, doc_id, score,
    rank), each query's rows equal to its own ``bm25_topk`` page.
    ``operator``/``minimum_should_match`` apply to every query of the
    batch, as in ``bm25_topk``.

    mode: 'auto' (the driver route when the Σdf of the union of the
    batch's in-vocabulary terms is at most DRIVER_MAX_POSTINGS),
    'driver' or 'distributed' — the same contract as ``bm25_topk``. The
    driver route is the driver function with every query's spec: one
    cache fill for the union's uncached terms, one accumulate per query
    and one local page — no Spark job. The distributed route is the
    shard function with every query's spec: one scan of the union's
    posting partitions amortizes scheduling, scan and Python-worker
    startup over the whole batch, a term two queries share decodes once
    per shard, and the final merge is a per-query window top-k."""
    spark = index.spark
    clauses = {qid: sorted(set(tokenize_py(text))) for qid, text in queries}
    all_terms = sorted({t for ts in clauses.values() for t in ts})
    stats = index.term_stats(all_terms)
    specs = []
    for qid, ts in clauses.items():
        min_match = parse_min_match(operator, minimum_should_match, len(ts))
        weights = {
            tid_py(t): lucene_idf(index.n_docs, stats[t])
            for t in ts if t in stats
        }
        # see bm25_topk: OOV clauses count toward the coverage bar
        if weights and min_match <= len(weights):
            specs.append(
                (qid, terms_node(dict(sorted(weights.items())), min_match))
            )
    if not specs:
        return empty_batch_page(spark)
    return _tree_batch_page(
        [index], specs, k, driver_route(mode, sum(stats.values()))
    )


def bm25_score_all_join(
    spark: SparkSession, transcripts: DataFrame, query_text: str
) -> DataFrame:
    """BM25 of all matching docs straight off the corpus: scan →
    row-local Arrow tf kernel (zero exchange) → broadcast query-term
    join → doc-keyed partial-agg sum — only MATCHING postings ever
    shuffle."""
    terms = sorted(set(tokenize_py(query_text)))
    if not terms:
        return spark.createDataFrame([], schema="doc_id long, score float")
    postings = tokenize_corpus(transcripts)
    # N / avgdl over ALL docs, including zero-token ones (matches the oracle)
    from ..index.build import compute_doc_stats

    n_docs, avgdl = compute_doc_stats(transcripts)
    qdf = spark.createDataFrame(
        pd.DataFrame({"tid": [tid_py(t) for t in terms]})
    )
    dfs = (
        postings.join(F.broadcast(qdf), "tid")
        .groupBy("tid")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    scored = (
        postings.join(F.broadcast(qdf), "tid")
        .join(F.broadcast(dfs), "tid")
        .withColumn(
            "idf",
            F.log1p(
                (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * F.col("tf")
            / (
                F.col("tf")
                + F.lit(BM25_K1)
                * (1.0 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").cast("float").alias("score"))
    )
    return scored
