"""BM25 top-k query engine over the block index.

Two execution strategies, both rank-identical to the numpy oracle:

1. ``bm25_topk`` — block-max pruned scorer: per shard, an ``applyInPandas``
   task runs the MaxScore algorithm over that shard's posting blocks of the
   query's terms, maintaining a top-k threshold and skipping whole blocks of
   low-impact (hot) terms that cannot affect the top-k. This is the Spark
   analog of the reference's block-max machinery
   (query/HybridScoreBlockBoundaryPropagator.java:53-98 advanceShallow +
   setMinCompetitiveScore, search/collector/HybridTopScoreDocCollector.java:160-168
   heap-eviction threshold raising), except exact: MaxScore only prunes
   documents provably below the final threshold. Shard top-k's are merged
   globally either by Catalyst TakeOrderedAndProject (``orderBy.limit``) or by
   an RDD ``treeAggregate`` heap merge (north-rule form).

2. ``bm25_topk_join`` — pure-Catalyst scorer straight off the corpus
   (tokenize → explode → broadcast-join query terms → groupBy(doc).sum →
   top-k). Used for oracle parity and as the no-index fallback.

Scoring is float32 (Lucene-style) in both paths so ranks match the oracle.
Tie-break: score desc, doc_id asc (reference ScoreCombiner.java:43-56).
"""

from __future__ import annotations

import heapq
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..ranking import batch_page, empty_batch_page, local_page, topk_page

from .. import BM25_B, BM25_K1
from ..index.build import N_TERM_BUCKETS, doc_id_col, tid_py, tokenize_corpus
from ..index.codec import decode_doc_ids, decode_varint
from ..tokenizer import tokenize_py

TOPK_SCHEMA = T.StructType(
    [
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
        self._terms_ds = None  # cached pyarrow datasets (file listings)
        self._postings_ds = None
        # driver-path hot-term cache: tid → decoded (ids, tfs f32, dls f32)
        # arrays (tf/dl are small ints — exact in float32; upcast at use).
        # Bounded FIFO by count AND bytes — the coordinator analog of
        # Lucene's hot posting pages living in the OS page cache.
        from ..index.cache import DEFAULT_MAX_BYTES, DEFAULT_MAX_TERMS

        self._driver_cache: dict[int, tuple] = {}
        # driver-resident dictionary cache (term, df) — filled on the
        # first full dictionary() read; prefix reads bisect into it
        self._dictionary: list[tuple[str, int]] | None = None
        self._dict_terms: list[str] | None = None
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

    def term_stats(self, terms: list[str]) -> dict[str, int]:
        """Driver-side term-dictionary lookup: a pyarrow predicate-pushdown
        read of the (small) terms table — no Spark job per query. At
        10^12-turn scale the terms table is still ~vocabulary-sized
        (≪ corpus) and parquet row-group stats keep this a point read.
        Returns {term: df} for terms present in the index."""
        if not terms:
            return {}
        import pyarrow.dataset as ds

        if self._terms_ds is None:
            self._terms_ds = ds.dataset(self._terms_path, format="parquet")
        dataset = self._terms_ds
        tbl = dataset.to_table(
            columns=["term", "df"], filter=ds.field("term").isin(terms)
        )
        return dict(
            zip(tbl["term"].to_pylist(), (int(x) for x in tbl["df"].to_pylist()))
        )

    def term_stats_full(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """{term: (df, cf)} — the ``term_stats`` point read widened to the
        collection frequency column (the host's ``ttf``), for the
        _termvectors API. Same pyarrow predicate-pushdown shape."""
        if not terms:
            return {}
        import pyarrow.dataset as ds

        if self._terms_ds is None:
            self._terms_ds = ds.dataset(self._terms_path, format="parquet")
        tbl = self._terms_ds.to_table(
            columns=["term", "df", "cf"], filter=ds.field("term").isin(terms)
        )
        return {
            t: (int(d), int(c))
            for t, d, c in zip(
                tbl["term"].to_pylist(),
                tbl["df"].to_pylist(),
                tbl["cf"].to_pylist(),
            )
        }

    def field_stats(self) -> dict:
        """Field-level statistics for the _termvectors API:
        ``sum_doc_freq`` (Σ df), ``doc_count`` (N) and ``sum_ttf`` (Σ cf)
        — ONE pyarrow aggregate over the vocabulary-sized terms table,
        cached on the handle. NOTE the stats contract matches the rest of
        the index: deleted docs still count until a merge expunges them
        (Lucene liveDocs semantics)."""
        if getattr(self, "_field_stats", None) is None:
            import pyarrow.dataset as ds

            if self._terms_ds is None:
                self._terms_ds = ds.dataset(
                    self._terms_path, format="parquet"
                )
            tbl = self._terms_ds.to_table(columns=["df", "cf"])
            import pyarrow.compute as pc

            self._field_stats = {
                "sum_doc_freq": int(pc.sum(tbl["df"]).as_py() or 0),
                "doc_count": int(self.n_docs),
                "sum_ttf": int(pc.sum(tbl["cf"]).as_py() or 0),
            }
        return dict(self._field_stats)

    def prefix_stats(self, prefix: str, limit: int = 50) -> list[tuple[str, int]]:
        """Dictionary prefix expansion: the first ``limit`` index terms with
        the given prefix IN LEXICOGRAPHIC (binary/ASCII) ORDER, with their
        df — Lucene's ``MultiPhrasePrefixQuery.getPrefixTerms`` contract
        (terms enumerated from the dictionary in term order, capped at
        ``max_expansions``), except the expansion is over the GLOBAL
        dictionary rather than per-segment. Driver-side pyarrow range read
        ([prefix, prefix+1) pushed into parquet row-group stats); the terms
        table is vocabulary-sized, and the term_bucket layout cannot prune
        a prefix scan (tid is a hash) — acceptable for the same reason
        ``term_stats`` is: vocabulary ≪ corpus at any scale."""
        if not prefix:
            return []
        import pyarrow.dataset as ds

        if self._terms_ds is None:
            self._terms_ds = ds.dataset(self._terms_path, format="parquet")
        # tokenizer terms are [a-z0-9]+; bumping the last code point gives a
        # tight exclusive upper bound ('z'+1='{', '9'+1=':' — both sort
        # above every token character)
        hi = prefix[:-1] + chr(ord(prefix[-1]) + 1)
        tbl = self._terms_ds.to_table(
            columns=["term", "df"],
            filter=(ds.field("term") >= prefix) & (ds.field("term") < hi),
        )
        pairs = sorted(
            zip(tbl["term"].to_pylist(), (int(x) for x in tbl["df"].to_pylist()))
        )
        return pairs[: max(int(limit), 0)]

    def dictionary(self, prefix: str | None = None) -> list[tuple[str, int]]:
        """Full (term, df) dictionary read — the multi-term-query expansion
        surface (fuzzy/wildcard enumerate the dictionary the way Lucene's
        FuzzyTermsEnum walks the terms index). Optional prefix range
        pushdown ([prefix, prefix+1) on parquet row-group stats).
        Vocabulary-sized (≪ corpus at any scale), driver-side pyarrow.
        The full read is cached on the handle (Lucene keeps the terms
        index resident the same way); prefix reads serve from the cache
        via bisect when it's warm."""
        if self._dictionary is not None:
            if not prefix:
                return self._dictionary
            import bisect

            terms = self._dict_terms
            lo = bisect.bisect_left(terms, prefix)
            hi_key = prefix[:-1] + chr(ord(prefix[-1]) + 1)
            hi = bisect.bisect_left(terms, hi_key)
            return self._dictionary[lo:hi]
        import pyarrow.dataset as ds

        if self._terms_ds is None:
            self._terms_ds = ds.dataset(self._terms_path, format="parquet")
        flt = None
        if prefix:
            hi = prefix[:-1] + chr(ord(prefix[-1]) + 1)
            flt = (ds.field("term") >= prefix) & (ds.field("term") < hi)
        tbl = self._terms_ds.to_table(columns=["term", "df"], filter=flt)
        out = sorted(
            zip(tbl["term"].to_pylist(), (int(x) for x in tbl["df"].to_pylist()))
        )
        if not prefix:
            self._dictionary = out
            self._dict_terms = [t for t, _ in out]
        return out

    def n_terms(self) -> int:
        """Vocabulary size from parquet metadata only (no column reads) —
        the cheap pre-flight the fuzzy/suggest unpruned-dictionary guard
        uses before committing to a full dictionary walk."""
        if self._dictionary is not None:
            return len(self._dictionary)
        import pyarrow.dataset as ds

        if self._terms_ds is None:
            self._terms_ds = ds.dataset(self._terms_path, format="parquet")
        return int(self._terms_ds.count_rows())

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


def _maxscore_shard_scorer(
    idfs: dict[str, float],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    deletes: np.ndarray | None = None,
):
    """Build the per-shard MaxScore kernel (vectorized numpy inside).
    ``deletes``: sorted tombstones masked at decode time — before any doc
    can enter the candidate set or raise theta, so pruning stays exact."""

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame({"doc_id": [], "score": []}).astype(
                {"doc_id": np.int64, "score": np.float32}
            )
        terms = pdf["tid"].to_numpy(dtype=np.int64)
        # per-term global upper bound in this shard: idf * max block tfnorm
        term_ub: dict[int, float] = {}
        for t, g in pdf.groupby("tid", sort=False):
            term_ub[t] = idfs[t] * float(g["max_tfnorm"].max())
        # order terms by upper bound DESC: high-impact (usually rare) terms
        # first become "essential"; low-impact hot terms are intersected only
        order = sorted(term_ub, key=lambda t: (-term_ub[t], t))
        ub = np.array([term_ub[t] for t in order])
        tail_ub = np.concatenate([np.cumsum(ub[::-1])[::-1][1:], [0.0]])

        cand_ids = np.empty(0, dtype=np.int64)
        cand_scores = np.empty(0, dtype=np.float64)  # float64 accumulation,
        # float32 cast at emit — same dtype contract as the oracle, so scores
        # are independent of term processing order
        theta = -np.inf  # k-th best accumulated score so far

        def decode_contrib(rows: pd.DataFrame, idf: float):
            ids, tfn = _decode_tfn(rows, k1, b, avgdl, deletes)
            return ids, idf * tfn

        if len(order) == 1:
            t = order[0]
            ids, f32 = _single_term_topk(
                pdf[terms == t], idfs[t], k, k1, b, avgdl, deletes
            )
            return pd.DataFrame({"doc_id": ids, "score": f32})

        for ti, t in enumerate(order):
            rows = pdf[terms == t]
            idf = idfs[t]
            new_docs_can_enter = tail_ub[ti] + ub[ti] >= theta or len(
                cand_ids
            ) < k
            if new_docs_can_enter:
                ids, contrib = decode_contrib(rows, idf)
                # merge into candidate accumulator (sorted by doc_id)
                all_ids = np.concatenate([cand_ids, ids])
                all_sc = np.concatenate([cand_scores, contrib])
                cand_ids, inv = np.unique(all_ids, return_inverse=True)
                merged = np.zeros(len(cand_ids), dtype=np.float64)
                np.add.at(merged, inv, all_sc)
                cand_scores = merged
            else:
                # non-essential term: only existing candidates can still win.
                # Block-level skip: decode only blocks whose doc_id range
                # intersects a candidate (per-block max-score metadata plus
                # range check) — the hot-term fast path.
                lo = np.searchsorted(cand_ids, rows["min_doc_id"].to_numpy())
                hi = np.searchsorted(
                    cand_ids, rows["max_doc_id"].to_numpy(), side="right"
                )
                keep = hi > lo
                if not keep.any():
                    continue
                ids, contrib = decode_contrib(rows[keep], idf)
                pos = np.searchsorted(cand_ids, ids)
                pos_ok = (pos < len(cand_ids)) & (
                    cand_ids[np.minimum(pos, len(cand_ids) - 1)] == ids
                )
                np.add.at(cand_scores, pos[pos_ok], contrib[pos_ok])
            if len(cand_ids) >= k:
                theta = float(
                    np.partition(cand_scores, len(cand_scores) - k)[
                        len(cand_scores) - k
                    ]
                )

        if len(cand_ids) == 0:
            return pd.DataFrame({"doc_id": [], "score": []}).astype(
                {"doc_id": np.int64, "score": np.float32}
            )
        # per-shard top-k (min-heap equivalent, vectorized): score desc,
        # doc_id asc — computed on the float32 cast so ties match the oracle
        final32 = cand_scores.astype(np.float32)
        sel = np.lexsort((cand_ids, -final32.astype(np.float64)))[:k]
        return pd.DataFrame({"doc_id": cand_ids[sel], "score": final32[sel]})

    return score_shard


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
    and every caller realizes that by returning empty (`bm25_topk`'s
    `min_match > len(terms)` check; `bm25_scored`'s coverage HAVING)."""
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


def _msm_shard_scorer(
    idfs: dict[int, float],
    k: int,
    min_match: int,
    k1: float,
    b: float,
    avgdl: float,
    deletes: np.ndarray | None = None,
):
    """Per-shard scorer for coverage-gated queries (operator=and /
    minimum_should_match > 1): decode every query term's postings, merge
    per-doc score AND distinct-term count, keep docs with count ≥
    min_match, then shard top-k. MaxScore pruning is unsound here — theta
    raised by a doc that later fails the coverage gate could evict a true
    result — so this kernel trades the skip for exactness; the work is
    still bounded by the same Σdf the disjunctive scorer decodes in its
    worst case. Scores stay the full sum over matched terms (Lucene
    BooleanQuery: msm changes WHICH docs match, never how they score)."""

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": [], "score": []}).astype(
            {"doc_id": np.int64, "score": np.float32}
        )
        if pdf.empty:
            return empty
        ids_parts, sc_parts = [], []
        for t, g in pdf.groupby("tid", sort=False):
            ids, tfn = _decode_tfn(g, k1, b, avgdl, deletes)
            ids_parts.append(ids)
            sc_parts.append(idfs[t] * tfn)
        if not ids_parts:
            return empty
        all_ids = np.concatenate(ids_parts)
        acc_ids, inv = np.unique(all_ids, return_inverse=True)
        acc_sc = np.bincount(
            inv, weights=np.concatenate(sc_parts), minlength=len(acc_ids)
        )
        # one posting row per (term, doc) ⇒ bincount(inv) = matched terms
        n_matched = np.bincount(inv, minlength=len(acc_ids))
        ok = n_matched >= min_match
        if not ok.any():
            return empty
        acc_ids, acc_sc = acc_ids[ok], acc_sc[ok]
        f32 = acc_sc.astype(np.float32)
        sel = np.lexsort((acc_ids, -f32.astype(np.float64)))[:k]
        return pd.DataFrame({"doc_id": acc_ids[sel], "score": f32[sel]})

    return score_shard


def _driver_scored_all(
    index: BM25Index, idfs: dict[int, float], tids: list[int]
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Coordinator-side FULL matched set: pyarrow reads ONLY the query
    terms' bucket partitions (hive pruning) with a tid row-group filter,
    then one numpy merge in-process — zero Spark jobs, so latency is
    filesystem latency, not task scheduling. Returns (doc_ids, float64
    score sums, per-doc matched-term counts) over every matching doc —
    callers apply their own coverage gate / truncation (``_bm25_topk_driver``
    top-k, multi_match field combine).

    Decoded (ids, tfs, dls) arrays are kept in a bounded per-index LRU —
    repeated queries over a zipfian vocabulary re-read only cold terms."""
    import pyarrow.dataset as ds

    cache = index._driver_cache
    missing = [t for t in tids if t not in cache]
    if missing:
        buckets = sorted({t % N_TERM_BUCKETS for t in missing})
        if index._postings_ds is None:
            index._postings_ds = ds.dataset(
                index._postings_path, format="parquet", partitioning="hive"
            )
        tbl = index._postings_ds.to_table(
            columns=["tid", "docs", "tfs", "dls"],
            filter=ds.field("term_bucket").isin(buckets)
            & ds.field("tid").isin(missing),
        )
        tid_arr = tbl["tid"].to_numpy()
        docs_col = tbl["docs"].to_pylist()
        tfs_col = tbl["tfs"].to_pylist()
        dls_col = tbl["dls"].to_pylist()
        for tid in missing:
            rows = np.flatnonzero(tid_arr == tid)
            if len(rows) == 0:
                cache[tid] = None
                continue
            # tf/dl values are small ints (≤ turn length) — float32 holds
            # them exactly, halving cache bytes; upcast to f64 at use
            cache[tid] = (
                np.concatenate([decode_doc_ids(docs_col[i]) for i in rows]),
                np.concatenate(
                    [decode_varint(tfs_col[i]) for i in rows]
                ).astype(np.float32),
                np.concatenate(
                    [decode_varint(dls_col[i]) for i in rows]
                ).astype(np.float32),
            )
    k1, b, avgdl = index.k1, index.b, index.avgdl
    ids_parts: list[np.ndarray] = []
    sc_parts: list[np.ndarray] = []
    for tid in tids:
        got = cache.get(tid)
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
        sc_parts.append(
            idfs[tid] * tfs / (tfs + k1 * (1.0 - b + b * dls / avgdl))
        )
    # evict AFTER scoring so the current query's (possibly old) entries
    # can't be dropped mid-use; FIFO ≈ LRU at this cache size
    from ..index.cache import evict_fifo

    evict_fifo(cache, index.driver_cache_terms, index.driver_cache_bytes)
    if ids_parts:
        all_ids = np.concatenate(ids_parts)
        all_sc = np.concatenate(sc_parts)
        acc_ids, inv = np.unique(all_ids, return_inverse=True)
        acc_sc = np.bincount(inv, weights=all_sc, minlength=len(acc_ids))
        # each term appends one slice per doc it matches, so the plain
        # bincount of inv IS the per-doc matched-term count
        n_matched = np.bincount(inv, minlength=len(acc_ids))
    else:
        acc_ids = np.empty(0, dtype=np.int64)
        acc_sc = np.empty(0, dtype=np.float64)
        n_matched = np.empty(0, dtype=np.int64)
    return acc_ids, acc_sc, n_matched


def _bm25_topk_driver(
    index: BM25Index,
    idfs: dict[int, float],
    tids: list[int],
    k: int,
    min_match: int = 1,
) -> DataFrame:
    """Driver top-k page over ``_driver_scored_all``'s full matched set —
    rank-identical to the distributed path (same float32 cast, same
    doc_id tiebreak)."""
    acc_ids, acc_sc, n_matched = _driver_scored_all(index, idfs, tids)
    if min_match > 1:
        ok = n_matched >= min_match
        acc_ids, acc_sc = acc_ids[ok], acc_sc[ok]
    f32 = acc_sc.astype(np.float32)
    sel = np.lexsort((acc_ids, -f32.astype(np.float64)))[:k]
    return local_page(index.spark, acc_ids[sel], f32[sel])


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
    (in-vocabulary) ``terms``, driver-side or as distributed MaxScore
    shards, merged by TakeOrderedAndProject or a treeAggregate heap."""
    spark = index.spark
    if merge == "treeAggregate" and mode == "auto":
        mode = "distributed"  # the caller asked for the cluster merge path
    if driver_route(mode, sum_df):
        return _bm25_topk_driver(
            index, weights, sorted(tid_py(t) for t in terms), k,
            min_match=min_match,
        )
    # column-prune before the shuffle: the scorer needs 8 of the 12 block
    # columns (block_seq/n_docs/sum_tf/term_bucket never leave the scan),
    # and every one of them is fixed-width → zero-copy Arrow→numpy
    blocks = index.postings_for(terms).select(
        "shard_id", "tid", "min_doc_id", "max_doc_id",
        "docs", "tfs", "dls", "max_tfnorm",
    )
    if min_match > 1:
        scorer = _msm_shard_scorer(
            weights, k, min_match, index.k1, index.b, index.avgdl,
            deletes=index.deletes,
        )
    else:
        scorer = _maxscore_shard_scorer(
            weights, k, index.k1, index.b, index.avgdl,
            deletes=index.deletes,
        )
    shard_topk = blocks.groupBy("shard_id").applyInPandas(scorer, TOPK_SCHEMA)

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


BATCH_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.FloatType()),
    ]
)


def bm25_topk_batch(
    index: BM25Index, queries: list[tuple[str, str]], k: int = 10
) -> DataFrame:
    """Top-k BM25 for a BATCH of queries in ONE Spark job.

    queries: [(query_id, query_text)]. Returns (query_id, doc_id, score,
    rank). The per-shard task runs the MaxScore kernel once per query over
    the shard's posting blocks, with decoded term contributions CACHED
    across queries (hot terms decode once per shard, not once per query).
    This is the throughput shape for a real cluster: one scan of the
    union-of-terms' posting partitions amortizes scheduling, scan and
    Python-worker startup over the whole query set; the final merge is a
    tiny per-query window top-k."""
    spark = index.spark
    q_terms: dict[str, list[str]] = {
        qid: sorted(set(tokenize_py(text))) for qid, text in queries
    }
    all_terms = sorted({t for ts in q_terms.values() for t in ts})
    stats = index.term_stats(all_terms)
    idfs = {tid_py(t): lucene_idf(index.n_docs, stats[t]) for t in stats}
    q_tids = {
        qid: [tid_py(t) for t in ts if t in stats]
        for qid, ts in q_terms.items()
    }
    live = {qid: ts for qid, ts in q_tids.items() if ts}
    if not live:
        return empty_batch_page(spark)
    k1, b, avgdl = index.k1, index.b, index.avgdl
    deletes = index.deletes

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        out_qid: list[str] = []
        out_ids: list[np.ndarray] = []
        out_sc: list[np.ndarray] = []
        if pdf.empty:
            return pd.DataFrame({"query_id": [], "doc_id": [], "score": []}).astype(
                {"query_id": str, "doc_id": np.int64, "score": np.float32}
            )
        terms_arr = pdf["tid"].to_numpy(dtype=np.int64)
        cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}

        def single_term_topk(tid: int):
            """A one-term query: block-max pruned (skips the bulk of a hot
            term's blocks without decoding them) unless another query of
            the batch already decoded the term."""
            if tid in cache:
                ids, tfn = cache[tid]
                f32 = (idfs[tid] * tfn).astype(np.float32)
                sel = np.lexsort((ids, -f32.astype(np.float64)))[:k]
                return ids[sel], f32[sel]
            return _single_term_topk(
                pdf[terms_arr == tid], idfs[tid], k, k1, b, avgdl, deletes
            )

        def contrib(term: int) -> tuple[np.ndarray, np.ndarray]:
            got = cache.get(term)
            if got is None:
                got = _decode_tfn(
                    pdf[terms_arr == term], k1, b, avgdl, deletes
                )
                cache[term] = got
            return got

        present = set(np.unique(terms_arr))
        for qid, terms in live.items():
            terms = [t for t in terms if t in present]
            if not terms:
                continue
            if len(terms) == 1:
                ids1, sc1 = single_term_topk(terms[0])
                out_qid.extend([qid] * len(ids1))
                out_ids.append(ids1)
                out_sc.append(sc1)
                continue
            # one combine pass: gather every term's (ids, contribs), then a
            # single sort-unique + bincount-sum — T× less memory traffic
            # than a per-term incremental merge (float64 accumulation, f32
            # cast at emit, so summation-order drift stays sub-ulp)
            ids_parts = []
            sc_parts = []
            for t in terms:
                ids, tfn = contrib(t)
                ids_parts.append(ids)
                sc_parts.append(idfs[t] * tfn)
            all_ids = np.concatenate(ids_parts)
            all_sc = np.concatenate(sc_parts)
            acc_ids, inv = np.unique(all_ids, return_inverse=True)
            acc_sc = np.bincount(inv, weights=all_sc, minlength=len(acc_ids))
            f32 = acc_sc.astype(np.float32)
            if len(f32) > k:
                sel = np.lexsort((acc_ids, -f32.astype(np.float64)))[:k]
            else:
                sel = np.lexsort((acc_ids, -f32.astype(np.float64)))
            out_qid.extend([qid] * len(sel))
            out_ids.append(acc_ids[sel])
            out_sc.append(f32[sel])
        if not out_qid:
            return pd.DataFrame({"query_id": [], "doc_id": [], "score": []}).astype(
                {"query_id": str, "doc_id": np.int64, "score": np.float32}
            )
        return pd.DataFrame(
            {
                "query_id": out_qid,
                "doc_id": np.concatenate(out_ids),
                "score": np.concatenate(out_sc),
            }
        )

    blocks = index.postings_for(all_terms).select(
        "shard_id", "tid", "docs", "tfs", "dls", "max_tfnorm"
    )
    shard_topk = blocks.groupBy("shard_id").applyInPandas(
        score_shard, BATCH_TOPK_SCHEMA
    )
    return batch_page(shard_topk, k)


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
