"""BM25 top-k query engine over the block index.

Two scorers, both rank-identical to the numpy oracle:

1. ``bm25_topk`` / ``bm25_topk_batch`` — the index kernels. Each BM25
   query is a spec ``(query_id, {tid: weight}, min_match)``, and a single
   query is a batch of one spec. Two routes serve a batch:

   * the driver route, when the Σdf of the batch's terms is at most
     ``DRIVER_MAX_POSTINGS`` (``_driver_topk``: one pyarrow read into a
     decoded-postings cache, a numpy accumulate per spec, a local page —
     no Spark job);
   * the distributed route: one ``applyInPandas`` task per shard runs the
     shard function ``_bm25_shard`` over that shard's posting blocks of
     the batch's terms. Per spec it runs MaxScore with the coverage gate
     of ``operator``/``minimum_should_match`` folded in, keeping a top-k
     threshold and skipping blocks of low-impact (hot) terms that cannot
     affect the top-k. This is the Spark analog of the reference's
     block-max machinery (query/HybridScoreBlockBoundaryPropagator.java:53-98
     advanceShallow + setMinCompetitiveScore,
     search/collector/HybridTopScoreDocCollector.java:160-168 heap-eviction
     threshold raising), except exact: MaxScore only prunes documents
     provably below the final threshold. A single query's shard top-k's
     are merged by Catalyst TakeOrderedAndProject (``orderBy.limit``) or by
     an RDD ``treeAggregate`` heap merge (north-rule form); a batch's by a
     per-query window.

2. ``bm25_score_all_join`` — pure-Catalyst scorer straight off the corpus
   (tokenize → explode → broadcast-join query terms → groupBy(doc).sum).
   Used for oracle parity and as the no-index fallback.

Scoring is float32 (Lucene-style) in both paths so ranks match the oracle.
Tie-break: score desc, doc_id asc (reference ScoreCombiner.java:43-56).
"""

from __future__ import annotations

import heapq
import os
from collections import Counter

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


def _live_mask(ids: np.ndarray, deletes: np.ndarray | None) -> np.ndarray | None:
    """Boolean keep-mask for decoded doc ids against a SORTED tombstone
    array, or None when nothing is deleted (zero-cost fast path). The
    liveDocs analog: O(n log d) binary search, no decode-path branching."""
    if deletes is None or len(deletes) == 0 or len(ids) == 0:
        return None
    pos = np.searchsorted(deletes, ids)
    hit = (pos < len(deletes)) & (
        deletes[np.minimum(pos, len(deletes) - 1)] == ids
    )
    return ~hit if hit.any() else None


class BM25Index:
    """Handle on an on-disk index directory produced by IndexBuilder."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
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
        self.n_docs = int(srow["n_docs"])
        self.avgdl = float(srow["avgdl"])
        self.k1 = float(srow["k1"])
        self.b = float(srow["b"])
        self.n_shards = int(srow["n_shards"])
        self._terms_path = os.path.join(path, "terms")
        self._postings_path = os.path.join(path, "postings")
        self._postings_df: DataFrame | None = None
        self._positions_cache: DataFrame | None = None
        self._postings_ds = None  # cached pyarrow dataset (file listing)
        # driver-path hot-term cache: tid → decoded (ids, tfs f32, dls f32)
        # arrays (tf/dl are small ints — exact in float32; upcast at use).
        # Bounded FIFO by count AND bytes — the coordinator analog of
        # Lucene's hot posting pages living in the OS page cache.
        self._driver_cache = DriverCache()
        # the resident term dictionary, read on first use (see _terms)
        self._dictionary: ResidentDictionary | None = None
        self.driver_cache_terms = DEFAULT_MAX_TERMS
        self.driver_cache_bytes = DEFAULT_MAX_BYTES
        # sorted int64 tombstones, or None — see with_deletes
        self.deletes: np.ndarray | None = None

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

    def _terms(self) -> ResidentDictionary:
        """The handle's resident term dictionary (term, df, cf), read on
        first use. It lives as long as the handle and its driver cache: a
        rebuilt or merged index is read through a new handle."""
        if self._dictionary is None:
            self._dictionary = ResidentDictionary(
                self._terms_path, "term", ("df", "cf")
            )
        return self._dictionary

    def term_stats(self, terms: list[str]) -> dict[str, int]:
        """Driver-side term-dictionary lookup: {term: df} for the terms
        present in the index, by binary search of the resident dictionary
        — no Spark job and, after the handle's first lookup, no read."""
        d = self._terms()
        found, rows = d.find(terms)
        return dict(zip(found, d.stats["df"][rows].tolist()))

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

    def cache(self) -> "BM25Index":
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

    def postings_for(self, terms: list[str]) -> DataFrame:
        """Scan only the term_buckets of the query terms (partition pruning,
        tids/buckets computed driver-side in Python — same h60 hash as the
        writer) + a tid IN (...) predicate pushed into parquet row groups."""
        tids = sorted({tid_py(t) for t in terms})
        buckets = sorted({t % N_TERM_BUCKETS for t in tids})
        if self._postings_df is None:
            self._postings_df = self.spark.read.parquet(self._postings_path)
        return self._postings_df.filter(
            F.col("term_bucket").isin(buckets) & F.col("tid").isin(tids)
        )


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
    tfs = np.concatenate([decode_varint(x) for x in rows["tfs"]]).astype(
        np.float64
    )
    dls = np.concatenate([decode_varint(x) for x in rows["dls"]]).astype(
        np.float64
    )
    live = _live_mask(ids, deletes)
    if live is not None:
        ids, tfs, dls = ids[live], tfs[live], dls[live]
    return ids, tfs / (tfs + k1 * (1.0 - b + b * dls / avgdl))


def _single_term_topk(
    rows: pd.DataFrame,
    idf: float,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    deletes: np.ndarray | None,
) -> tuple[np.ndarray, np.ndarray]:
    """Block-max pruned top-k of a one-term query over its block rows →
    (doc ids, float32 scores), score desc / doc_id asc. Per-doc scores
    are independent, so the per-block max-score bound prunes EXACTLY (the
    true block-max shortcut — Lucene's advanceShallow /
    setMinCompetitiveScore pair, reference
    HybridScoreBlockBoundaryPropagator.java:53-98): process blocks by
    descending bound and, once k candidates exist, skip every block whose
    bound can't beat (or f32-tie) the running k-th score."""
    rows = rows.sort_values("max_tfnorm", ascending=False, kind="mergesort")
    bounds_ = idf * rows["max_tfnorm"].to_numpy()
    ids_parts, sc_parts, n_seen = [], [], 0
    theta = -np.inf
    for bi in range(len(rows)):
        if n_seen >= k:
            # one-f32-ulp slack: never skip a block that could produce a
            # doc tying theta after the float32 cast
            thr = float(np.nextafter(np.float32(theta), np.float32(-np.inf)))
            if bounds_[bi] < thr:
                break
        ids_b, tfn_b = _decode_tfn(
            rows.iloc[bi : bi + 1], k1, b, avgdl, deletes
        )
        ids_parts.append(ids_b)
        sc_parts.append(idf * tfn_b)
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


def _bm25_shard(
    pdf: pd.DataFrame,
    specs: list[tuple[str, dict[int, float], int]],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    deletes: np.ndarray | None,
) -> pd.DataFrame:
    """The BM25 shard function: every spec ``(query_id, {tid: weight},
    min_match)`` over one shard's posting blocks → (query_id, doc_id,
    score) rows, each spec's shard top-k in score desc / doc_id asc order.
    A doc's postings all live in its shard, so every shard top-k is exact.

    Per spec it runs MaxScore with the coverage gate folded in. Terms go
    in descending upper bound (weight × the shard's largest block
    tf-norm). A term is essential, and admits new candidates, while a doc
    first seen at it could still reach theta (its bound plus every later
    term's, with one float32 ulp of slack) and could still match
    ``min_match`` terms, which a doc first seen past position
    n − min_match cannot. A non-essential term adds to existing
    candidates only, decoding just the blocks whose doc_id range holds
    one. theta is the k-th score among candidates that already match
    ``min_match`` terms: scores and counts only grow, so it bounds the
    final k-th from below, and a doc that may still fail coverage never
    raises it. Matched-term counts ride beside the scores and gate at
    emit. A one-term spec takes ``_single_term_topk``'s block-max skip.

    A term that two or more specs use is decoded in full once and
    shared; a term one spec uses keeps the pruned decode. Scores sum in
    float64 and cast to float32 at emit (the oracle's dtype contract), and
    tombstones are masked at decode, before any doc can become a
    candidate or raise theta."""
    out_q: list[str] = []
    out_ids: list[np.ndarray] = [np.empty(0, dtype=np.int64)]
    out_sc: list[np.ndarray] = [np.empty(0, dtype=np.float32)]
    rows_of = dict(tuple(pdf.groupby("tid", sort=False)))
    uses = Counter(t for _q, w, _m in specs for t in w if t in rows_of)
    full: dict[int, tuple[np.ndarray, np.ndarray]] = {}

    def contrib(t: int, keep=None) -> tuple[np.ndarray, np.ndarray]:
        """(ids, tf-norm) of term ``t`` here: the full shared decode of
        a term several specs use, else the ``keep`` blocks (all if None)."""
        if uses[t] > 1:
            got = full.get(t)
            if got is None:
                got = full[t] = _decode_tfn(rows_of[t], k1, b, avgdl, deletes)
            return got
        rows = rows_of[t] if keep is None else rows_of[t][keep]
        return _decode_tfn(rows, k1, b, avgdl, deletes)

    for qid, weights, min_match in specs:
        m = max(min_match, 1)
        terms = [t for t in weights if t in rows_of]
        if len(terms) < m:
            continue
        if len(terms) == 1 and uses[terms[0]] == 1:
            ids, f32 = _single_term_topk(
                rows_of[terms[0]], weights[terms[0]], k, k1, b, avgdl, deletes
            )
        else:
            ub_of = {
                t: weights[t] * float(rows_of[t]["max_tfnorm"].max())
                for t in terms
            }
            order = sorted(terms, key=lambda t: (-ub_of[t], t))
            ub = np.array([ub_of[t] for t in order])
            # ub[ti] + tail_ub[ti] bounds a doc first seen at term ti
            tail_ub = np.concatenate([np.cumsum(ub[::-1])[::-1][1:], [0.0]])
            ids = np.empty(0, dtype=np.int64)
            sc = np.empty(0, dtype=np.float64)
            n_hit = np.empty(0, dtype=np.float64)
            theta = -np.inf
            for ti, t in enumerate(order):
                w = weights[t]
                thr = float(np.nextafter(np.float32(theta), np.float32(-np.inf)))
                if ti <= len(order) - m and ub[ti] + tail_ub[ti] >= thr:
                    t_ids, tfn = contrib(t)
                    ids, inv = sorted_union(np.concatenate([ids, t_ids]))
                    sc = np.bincount(
                        inv, weights=np.concatenate([sc, w * tfn]),
                        minlength=len(ids),
                    )
                    n_hit = np.bincount(
                        inv, weights=np.concatenate([n_hit, np.ones(len(t_ids))]),
                        minlength=len(ids),
                    )
                elif not len(ids):
                    break  # nothing admitted, and no later term admits
                else:
                    rows = rows_of[t]
                    lo = np.searchsorted(ids, rows["min_doc_id"].to_numpy())
                    hi = np.searchsorted(
                        ids, rows["max_doc_id"].to_numpy(), side="right"
                    )
                    keep = hi > lo
                    if not keep.any():
                        continue
                    t_ids, tfn = contrib(t, keep)
                    pos = np.searchsorted(ids, t_ids)
                    ok = (pos < len(ids)) & (
                        ids[np.minimum(pos, len(ids) - 1)] == t_ids
                    )
                    np.add.at(sc, pos[ok], w * tfn[ok])
                    np.add.at(n_hit, pos[ok], 1.0)
                qual = sc if m == 1 else sc[n_hit >= m]
                if len(qual) >= k:
                    theta = float(
                        np.partition(qual, len(qual) - k)[len(qual) - k]
                    )
            ok = n_hit >= m
            ids, f32 = ids[ok], sc[ok].astype(np.float32)
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
    """The driver's postings read of a ``BM25Index`` or an
    ``index.sparse.SparseIndex``: ``columns`` of the posting blocks of
    ``tids`` as one pyarrow table, from ONE read of ONLY their bucket
    partitions (hive pruning) with a tid row-group filter — zero Spark
    jobs, so latency is filesystem latency, not task scheduling."""
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


def _fill_driver_cache(index: BM25Index, tids) -> None:
    """Decode every tid of ``tids`` the handle's driver cache lacks, from
    one ``_read_postings`` read decoded in one pass. An absent tid caches
    None.

    Never evicts: a caller scoring from the cache evicts once, after its
    last use of it, so no entry it filled (or found) can be dropped
    before it is read — repeated queries over a zipfian vocabulary
    re-read only cold terms."""
    cache = index._driver_cache
    missing = sorted({t for t in tids if t not in cache})
    if not missing:
        return
    slices, flat = _decode_by_tid(
        _read_postings(index, missing, ["tid", "docs", "tfs", "dls"]),
        {
            "docs": decode_doc_ids_batch,
            "tfs": decode_varint_batch,
            "dls": decode_varint_batch,
        },
    )
    for tid in missing:
        sl = slices.get(tid)
        # entries own their memory (copy / astype), so no view pins the
        # whole read while DriverCache.nbytes counts only the slice; tf/dl
        # are small ints (≤ turn length) — exact in float32, which halves
        # cache bytes; upcast to f64 at use
        cache[tid] = None if sl is None else (
            flat["docs"][sl].copy(),
            flat["tfs"][sl].astype(np.float32),
            flat["dls"][sl].astype(np.float32),
        )


def _driver_accumulate(
    index: BM25Index, weights: dict[int, float]
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ids, float64 Σ weights[tid]·tfnorm, per-doc matched-term
    counts) over EVERY doc matching a tid of ``weights``, summed in the
    dict's order from the driver cache — which ``_fill_driver_cache``
    must already cover. Callers apply their own coverage gate and
    truncation (``_driver_topk`` top-k, multi_match field combine)."""
    cache = index._driver_cache
    k1, b, avgdl = index.k1, index.b, index.avgdl
    ids_parts: list[np.ndarray] = []
    sc_parts: list[np.ndarray] = []
    for tid, w in weights.items():
        got = cache[tid]
        if got is None:
            continue
        ids, tfs32, dls32 = got
        # cache entries stay delete-agnostic; tombstones mask at use so a
        # later with_deletes() change needs no cache invalidation
        live = _live_mask(ids, index.deletes)
        if live is not None:
            ids, tfs32, dls32 = ids[live], tfs32[live], dls32[live]
        tfs = tfs32.astype(np.float64)
        dls = dls32.astype(np.float64)
        ids_parts.append(ids)
        sc_parts.append(w * tfs / (tfs + k1 * (1.0 - b + b * dls / avgdl)))
    if not ids_parts:
        return (
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.float64),
            np.empty(0, dtype=np.int64),
        )
    acc_ids, inv = sorted_union(np.concatenate(ids_parts))
    acc_sc = np.bincount(
        inv, weights=np.concatenate(sc_parts), minlength=len(acc_ids)
    )
    # each term appends one slice per doc it matches, so the plain
    # bincount of inv IS the per-doc matched-term count
    return acc_ids, acc_sc, np.bincount(inv, minlength=len(acc_ids))


def _driver_topk(
    index: BM25Index, specs: list[tuple[str, dict[int, float], int]], k: int
) -> tuple[list[str], np.ndarray, np.ndarray]:
    """The driver route of every BM25 top-k, single query or batch:
    ``specs`` = [(query_id, {tid: weight}, min_match)] → per-row
    (query_ids, doc_ids, float32 scores), each query's rows contiguous
    in score desc / doc_id asc order — rank-identical to the distributed
    kernels (same float32 cast, same doc_id tiebreak). One cache fill
    over the union of the specs' tids, one accumulate per spec, and one
    eviction after the last spec."""
    _fill_driver_cache(index, {t for _q, w, _m in specs for t in w})
    qids: list[str] = []
    ids_parts: list[np.ndarray] = [np.empty(0, dtype=np.int64)]
    sc_parts: list[np.ndarray] = [np.empty(0, dtype=np.float32)]
    for qid, weights, min_match in specs:
        acc_ids, acc_sc, n_matched = _driver_accumulate(index, weights)
        if min_match > 1:
            ok = n_matched >= min_match
            acc_ids, acc_sc = acc_ids[ok], acc_sc[ok]
        f32 = acc_sc.astype(np.float32)
        sel = np.lexsort((acc_ids, -f32.astype(np.float64)))[:k]
        qids.extend([qid] * len(sel))
        ids_parts.append(acc_ids[sel])
        sc_parts.append(f32[sel])
    evict_fifo(
        index._driver_cache, index.driver_cache_terms, index.driver_cache_bytes
    )
    return qids, np.concatenate(ids_parts), np.concatenate(sc_parts)


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
        index, terms, idfs, sum(stats[t] for t in terms), k,
        min_match=min_match, merge=merge, mode=mode,
    )


def _term_topk(
    index: BM25Index,
    terms: list[str],
    weights: dict[int, float],
    sum_df: int,
    k: int,
    min_match: int = 1,
    merge: str = "takeOrdered",
    mode: str = "auto",
) -> DataFrame:
    """The body of bm25_topk and weighted_term_topk: top-k of
    Σ_t weights[tid] · tfnorm_t over docs matching ≥ min_match of the
    (in-vocabulary) ``terms``: the driver function, or the shard function
    with this one spec merged by TakeOrderedAndProject or a treeAggregate
    heap."""
    spark = index.spark
    if merge == "treeAggregate" and mode == "auto":
        mode = "distributed"  # the caller asked for the cluster merge path
    spec = ("", {t: weights[t] for t in sorted(weights)}, min_match)
    if driver_route(mode, sum_df):
        _qids, ids, scores = _driver_topk(index, [spec], k)
        return local_page(spark, ids, scores)
    shard_topk = _shard_scored(index, terms, [spec], k).drop("query_id")

    if merge == "treeAggregate":
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

    # TakeOrderedAndProject: per-partition top-k then a single merge on the
    # driver — the Catalyst-native equivalent of the treeAggregate heap merge
    return topk_page(shard_topk, k)


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
        index, terms, weights, sum(stats[t] for t in terms), k, mode=mode
    )


def _shard_scored(
    index: BM25Index,
    terms: list[str],
    specs: list[tuple[str, dict[int, float], int]],
    k: int,
) -> DataFrame:
    """``_bm25_shard`` over the pruned postings scan of ``terms``: one
    ``applyInPandas`` task per shard scores every spec → (query_id,
    doc_id, score), at most k rows per spec and shard."""
    k1, b, avgdl, deletes = index.k1, index.b, index.avgdl, index.deletes

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        return _bm25_shard(pdf, specs, k, k1, b, avgdl, deletes)

    # column-prune before the shuffle: the scorer needs 8 of the 12 block
    # columns (block_seq/n_docs/sum_tf/term_bucket never leave the scan),
    # and every one of them is fixed-width → zero-copy Arrow→numpy
    blocks = index.postings_for(terms).select(
        "shard_id", "tid", "min_doc_id", "max_doc_id",
        "docs", "tfs", "dls", "max_tfnorm",
    )
    return blocks.groupBy("shard_id").applyInPandas(
        score_shard, BATCH_TOPK_SCHEMA
    )


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
            specs.append((qid, dict(sorted(weights.items())), min_match))
    if not specs:
        return empty_batch_page(spark)
    if driver_route(mode, sum(stats.values())):
        return local_batch_page(spark, *_driver_topk(index, specs, k))
    return batch_page(_shard_scored(index, all_terms, specs, k), k)


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
