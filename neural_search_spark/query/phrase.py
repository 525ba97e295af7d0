"""match_phrase / match_phrase_prefix: positional top-k over the sidecar.

Lucene semantics (`PhraseQuery` + `ExactPhraseScorer`, the OpenSearch
`match_phrase` execution path the reference plugin's text sub-queries can
carry inside hybrid requests):

* phrase frequency = number of positions p such that token_j occurs at
  p + j for every j in the phrase (duplicate tokens allowed — "a b a"
  requires the SAME term at offsets 0 and 2);
* score = idf_total · freq / (freq + k1·(1 − b + b·dl/avgdl)) where
  idf_total sums the Lucene idf of every token IN SEQUENCE (duplicates
  counted per occurrence, matching PhraseWeight building one TermStatistics
  per term in the phrase array);
* a phrase with any out-of-vocabulary token matches nothing.

`match_phrase_prefix` (`MatchPhrasePrefixQueryBuilder` →
`MultiPhrasePrefixQuery`, host-engine behavior like bool/multi_match):
the LAST position accepts any of up to ``max_expansions`` dictionary
terms with the typed prefix, enumerated in term (lexicographic) order —
`MultiPhrasePrefixQuery.getPrefixTerms`; no expansion terms ⇒ matches
nothing (`MatchNoDocsQuery` rewrite). Scoring follows
`MultiPhraseQuery.MultiPhraseWeight`: idf is summed over EVERY term in
every position array (each expansion contributes its idf), and the
match positions at the expanded offset are the UNION of the expansion
terms' positions (`UnionPostingsEnum`). One documented divergence: the
expansion is over the index's global dictionary, not per-segment.

Both variants share generalized kernels over ``offset_tids`` — per
phrase offset, the LIST of term-ids accepted there (singletons for
exact phrases):

* driver mode (Σdf under ``DRIVER_MAX_POSTINGS``): pyarrow
  predicate-pushdown read of the terms' position rows (term_bucket
  partition pruning + tid filter); candidates = sorted-array membership
  chains seeded from the rarest required term; phrase freq for ALL
  candidates at once — every position is tagged with
  candidate_index·2^40 and ONE sorted-intersection chain over the
  tagged per-offset streams (union offsets concatenate member streams)
  feeds a bincount of surviving tags;
* distributed mode: partition-pruned scan → left-semi join against the
  seed term's doc set (bounds the shuffle at min-df × phrase length,
  the classic leading-term optimization) → doc-sharded
  ``applyInPandas`` verify/score kernel → TakeOrderedAndProject top-k.

Query-time tombstones (``BM25Index.with_deletes``) are honored with the
same stale-stats contract as BM25: deleted docs vanish, live scores keep
full-corpus idf/avgdl.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.build import N_TERM_BUCKETS, tid_py
from ..index.positions import has_positions
from ..ranking import local_page, topk_rank_window
from ..tokenizer import tokenize_expr, tokenize_py
from .bm25 import BM25Index, _live_mask, driver_route, lucene_idf

# candidate-index stride for the tagged-stream kernel: bands 2^40 apart
# (> any document length), candidate counts bounded far below 2^23 by
# DRIVER_MAX_POSTINGS, so tag·STRIDE + (pos − offset) never crosses bands
_STRIDE = np.int64(1) << 40


def phrase_freq(pos_by_offset: list[np.ndarray]) -> int:
    """|{p : some accepted token at p+j ∀j}| via sorted-intersect chains
    (arrays come sorted off the index; early-exits on empty)."""
    P = np.asarray(pos_by_offset[0], dtype=np.int64)
    for j in range(1, len(pos_by_offset)):
        if P.size == 0:
            return 0
        P = np.intersect1d(
            P,
            np.asarray(pos_by_offset[j], dtype=np.int64) - j,
            assume_unique=True,
        )
    return int(P.size)


class _PP:
    """One phrase position (Lucene ``PhrasePositions``): a cursor over one
    offset's position stream. ``pos`` is offset-adjusted (doc position −
    phrase offset), ``tp`` the actual doc position — two cursors of a
    repeated term collide when their ``tp`` coincide."""

    __slots__ = ("arr", "off", "idx", "pos", "rpt_group", "rpt_ind")

    def __init__(self, arr: np.ndarray, off: int):
        self.arr = arr
        self.off = off
        self.idx = 0
        self.pos = 0
        self.rpt_group = -1
        self.rpt_ind = 0

    def next_position(self) -> bool:
        if self.idx >= self.arr.size:
            return False
        self.pos = int(self.arr[self.idx]) - self.off
        self.idx += 1
        return True

    @property
    def tp(self) -> int:
        return self.pos + self.off

    def __lt__(self, other: "_PP") -> bool:
        return (self.pos, self.off) < (other.pos, other.off)


def sloppy_phrase_freq(
    pos_by_offset: list[np.ndarray],
    slop: int,
    repeat_groups: list[list[int]] | None = None,
) -> float:
    """Sloppy phrase frequency — faithful to Lucene's
    ``SloppyPhraseScorer.phraseFreq`` sweep, including the repeated-term
    collision machinery (``advanceRpts``/``collide``/``lesser``):

    * per-offset cursors hold position − offset, each strictly increasing;
    * keep every cursor in a min-heap, ``end`` = max seen;
    * repeatedly advance the MINIMUM cursor; while its new value stays ≤
      the second-smallest, only shrink the pending match length
      (min over the segment of ``end − value``); once it passes, emit at
      most ONE match for the segment — weight 1/(1+matchLength) when
      matchLength ≤ slop — and swap in the new minimum;
    * a trailing segment emits on cursor exhaustion.

    ``repeat_groups`` lists, per repeated term, the offsets sharing it
    (ascending). Lucene's init staggers the j-th member j extra advances
    (``advanceRepeatGroups``, the single-term case) so cursors start on
    distinct doc positions; after every advance, colliding cursors (same
    actual position within a group) push the LESSER one forward
    (``lesser``: smaller adjusted position, tie → smaller offset) until
    the group is collision-free, mirroring ``advanceRpts``.

    slop=0 reduces to the exact aligned count (each emitted weight is 1).
    A single-offset phrase is a term query: freq = the position count."""
    n = len(pos_by_offset)
    streams = [np.asarray(p, dtype=np.int64) for p in pos_by_offset]
    if any(s.size == 0 for s in streams):
        return 0.0
    if n == 1:
        return float(streams[0].size)
    import heapq

    pps = [_PP(s, j) for j, s in enumerate(streams)]
    groups: list[list[_PP]] = []
    if repeat_groups:
        for g, offs in enumerate(repeat_groups):
            members = [pps[j] for j in sorted(offs)]
            for k, pp in enumerate(members):
                pp.rpt_group, pp.rpt_ind = g, k
            groups.append(members)
    # placeFirstPositions
    for pp in pps:
        pp.next_position()  # arrays are non-empty (guard above)
    # advanceRepeatGroups (single-term repeats): stagger member j by j
    # extra advances so initial actual positions are distinct — repeated
    # terms share ONE postings stream, so this lands them on successive
    # occurrences
    for rg in groups:
        for j in range(1, len(rg)):
            for _ in range(j):
                if not rg[j].next_position():
                    return 0.0
    heap = list(pps)
    heapq.heapify(heap)
    end = max(pp.pos for pp in pps)

    def advance_pp(pp: _PP) -> bool:
        nonlocal end
        if not pp.next_position():
            return False
        if pp.pos > end:
            end = pp.pos
        return True

    def advance_rpts(pp: _PP) -> bool:
        # resolve collisions in pp's repeat group by advancing the lesser
        # of each colliding pair; moved in-heap cursors invalidate heap
        # order, so re-heapify (Lucene's bits + re-queue dance)
        if pp.rpt_group < 0:
            return True
        rg = groups[pp.rpt_group]
        moved_in_heap = False
        while True:
            hit = next(
                (p2 for p2 in rg if p2 is not pp and p2.tp == pp.tp), None
            )
            if hit is None:
                break
            lp = pp if (pp.pos, pp.off) < (hit.pos, hit.off) else hit
            if not advance_pp(lp):
                return False
            if lp is not pp:
                moved_in_heap = True
        if moved_in_heap:
            heapq.heapify(heap)
        return True

    pp = heapq.heappop(heap)
    match_length = end - pp.pos
    nxt = heap[0].pos
    freq = 0.0
    while True:
        if not advance_pp(pp):
            break
        if groups and not advance_rpts(pp):
            break
        if pp.pos > nxt:
            if match_length <= slop:
                freq += 1.0 / (1.0 + match_length)
            heapq.heappush(heap, pp)
            pp = heapq.heappop(heap)
            nxt = heap[0].pos
            match_length = end - pp.pos
        else:
            ml2 = end - pp.pos
            if ml2 < match_length:
                match_length = ml2
    if match_length <= slop:
        freq += 1.0 / (1.0 + match_length)
    return freq


def repeat_groups_of(tokens: list[str]) -> list[list[int]]:
    """Offsets sharing a term, for terms appearing ≥2 times (ascending
    within each group) — the ``repeat_groups`` input to the sloppy sweep."""
    by_term: dict[str, list[int]] = {}
    for j, t in enumerate(tokens):
        by_term.setdefault(t, []).append(j)
    return [offs for offs in by_term.values() if len(offs) > 1]


def _score_docs(
    doc_ids: np.ndarray,
    freqs: np.ndarray,
    dls: np.ndarray,
    idf_total: float,
    k1: float,
    b: float,
    avgdl: float,
) -> pd.DataFrame:
    f = freqs.astype(np.float64)
    tfn = f / (f + k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl))
    return pd.DataFrame(
        {
            "doc_id": doc_ids,
            "score": (idf_total * tfn).astype(np.float32),
        }
    )


# ---------------------------------------------------------------------------
# corpus-scan (index-free) forms
# ---------------------------------------------------------------------------
def _scan_scored(
    docs: DataFrame,
    fixed_tokens: list[str],
    prefix: str | None,
    max_expansions: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Shared index-free positional scorer: tokenize → posexplode →
    per-offset positional equi-joins keyed on (doc_id, aligned pos) →
    count = phrase freq. ``prefix`` (if set) is the trailing offset,
    expanded to ≤``max_expansions`` distinct corpus terms in
    lexicographic order (the dictionary IS the corpus here). The join
    chain is doc-keyed so hot terms spread across partitions; each
    join's build side is one offset's postings (corpus-frequency
    bounded, never the whole corpus). Stats (n_docs/avgdl/df) come from
    the SAME scoped frame, matching ``bm25_scored``'s convention for
    filtered sub-queries."""
    spark = docs.sparkSession
    empty = local_page(spark, [], []).drop("rank")
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        tokenize_expr(text_col).alias("toks"),
    ).withColumn("dl", F.size("toks"))
    srow = toks.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(srow["n"]), float(srow["avgdl"] or 1.0)
    fixed_set = sorted(set(fixed_tokens))
    keep = F.col("term").isin(fixed_set) if fixed_set else F.lit(False)
    if prefix is not None:
        keep = keep | F.col("term").startswith(prefix)
    tokpos = toks.select(
        "doc_id", "dl", F.posexplode("toks").alias("pos", "term")
    ).filter(keep)
    expansions: list[str] = []
    if prefix is not None:
        # vocabulary-bounded driver collect — mirrors the index path's
        # dictionary read (MultiPhrasePrefixQuery enumerates the dict)
        expansions = [
            r["term"]
            for r in tokpos.filter(F.col("term").startswith(prefix))
            .select("term")
            .distinct()
            .orderBy("term")
            .limit(int(max_expansions))
            .collect()
        ]
        if not expansions:
            return empty
    wanted = sorted(set(fixed_set) | set(expansions))
    dfreq = {
        r["term"]: int(r["df"])
        for r in tokpos.filter(F.col("term").isin(wanted))
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .collect()
    }
    if any(t not in dfreq for t in fixed_tokens):
        return empty
    idf_total = sum(lucene_idf(n_docs, dfreq[t]) for t in fixed_tokens) + sum(
        lucene_idf(n_docs, dfreq[t]) for t in expansions
    )
    from .. import BM25_B, BM25_K1

    offsets: list[F.Column] = [
        F.col("term") == t for t in fixed_tokens
    ]
    if prefix is not None:
        offsets.append(F.col("term").isin(expansions))
    chain = tokpos.filter(offsets[0]).select("doc_id", "dl", "pos")
    for j in range(1, len(offsets)):
        pj = tokpos.filter(offsets[j]).select(
            "doc_id", (F.col("pos") - j).alias("pos")
        )
        chain = chain.join(pj, ["doc_id", "pos"])
    fr = chain.groupBy("doc_id", "dl").agg(F.count(F.lit(1)).alias("freq"))
    return fr.select(
        "doc_id",
        (
            F.lit(idf_total)
            * F.col("freq")
            / (
                F.col("freq")
                + F.lit(BM25_K1)
                * (1.0 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))
            )
        ).alias("score"),
    )


def _scan_scored_sloppy(
    docs: DataFrame,
    tokens: list[str],
    slop: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Index-free sloppy-phrase scorer: the heap sweep is sequential per
    doc, so matched-term rows shuffle ONCE keyed by doc shard and a
    doc-sharded ``applyInPandas`` kernel runs the same
    ``sloppy_phrase_freq`` the index paths use. Stats follow
    ``_scan_scored``'s scoped-frame convention."""
    spark = docs.sparkSession
    empty = local_page(spark, [], []).drop("rank")
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        tokenize_expr(text_col).alias("toks"),
    ).withColumn("dl", F.size("toks"))
    srow = toks.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(srow["n"]), float(srow["avgdl"] or 1.0)
    wanted = sorted(set(tokens))
    tokpos = toks.select(
        "doc_id", "dl", F.posexplode("toks").alias("pos", "term")
    ).filter(F.col("term").isin(wanted))
    dfreq = {
        r["term"]: int(r["df"])
        for r in tokpos.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .collect()
    }
    if any(t not in dfreq for t in tokens):
        return empty
    idf_total = sum(lucene_idf(n_docs, dfreq[t]) for t in tokens)
    from .. import BM25_B, BM25_K1

    k1, b = BM25_K1, BM25_B
    rpt_groups = repeat_groups_of(tokens)
    hits = tokpos.withColumn(
        "doc_shard",
        F.pmod(F.xxhash64("doc_id", F.lit(13)), F.lit(64)).cast("int"),
    )

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        out_ids, out_sc = [], []
        if len(pdf):
            pdf = pdf.sort_values(["doc_id", "pos"], kind="mergesort")
            for did, g in pdf.groupby("doc_id", sort=False):
                by_term = {
                    t: gg["pos"].to_numpy(dtype=np.int64)
                    for t, gg in g.groupby("term", sort=False)
                }
                if any(t not in by_term for t in tokens):
                    continue
                fr = sloppy_phrase_freq(
                    [by_term[t] for t in tokens], slop, rpt_groups
                )
                if fr:
                    dl = int(g["dl"].iloc[0])
                    tfn = fr / (fr + k1 * (1.0 - b + b * dl / avgdl))
                    out_ids.append(did)
                    out_sc.append(idf_total * tfn)
        return pd.DataFrame({"doc_id": out_ids, "score": out_sc}).astype(
            {"doc_id": np.int64, "score": np.float64}
        )

    return hits.groupBy("doc_shard").applyInPandas(
        score_shard, "doc_id long, score double"
    )


def phrase_scored_scan(
    docs: DataFrame,
    phrase_text: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    slop: int = 0,
) -> DataFrame:
    """Corpus-scan phrase scores → (doc_id, score double) — the
    index-free plan ``Engine`` routes to when no positions sidecar is
    attached (or a pre-scoring filter / collect-time allowed-set makes the
    index kernels' pre-truncated top-k unusable). slop>0 switches to the
    sloppy sweep kernel (distinct-term phrases only, like the index
    paths)."""
    tokens = tokenize_py(phrase_text)
    if not tokens:
        return docs.sparkSession.range(0).select(
            F.col("id").alias("doc_id"), F.lit(0.0).alias("score")
        )
    _check_slop(tokens, slop)
    if slop > 0:
        return _scan_scored_sloppy(docs, tokens, slop, id_col, text_col)
    return _scan_scored(docs, tokens, None, 0, id_col, text_col)


def phrase_prefix_scored_scan(
    docs: DataFrame,
    phrase_text: str,
    max_expansions: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-scan match_phrase_prefix scores → (doc_id, score double):
    the last token is a prefix, expanded against the scoped corpus's own
    vocabulary (lexicographic order, ≤max_expansions)."""
    tokens = tokenize_py(phrase_text)
    if not tokens:
        return docs.sparkSession.range(0).select(
            F.col("id").alias("doc_id"), F.lit(0.0).alias("score")
        )
    return _scan_scored(
        docs, tokens[:-1], tokens[-1], max_expansions, id_col, text_col
    )


# ---------------------------------------------------------------------------
# index-backed top-k
# ---------------------------------------------------------------------------
def phrase_topk(
    index: BM25Index,
    phrase_text: str,
    k: int = 10,
    mode: str = "auto",
    slop: int = 0,
) -> DataFrame:
    """Top-k phrase matches. Returns (doc_id, score, rank).

    mode: 'auto' | 'driver' | 'distributed' — same contract as
    ``bm25_topk``. Requires ``build_positions`` to have been run on the
    index (raises otherwise: positions are an opt-in sidecar).

    slop: Lucene sloppy-phrase tolerance (``SloppyPhraseScorer``): freq
    sums 1/(1+matchLength) over the sweep's matches instead of counting
    exact alignments; slop=0 is the exact scorer. Repeated phrase terms
    ("to be or not to be") take the collision machinery
    (``advanceRpts``/``lesser``) — see ``sloppy_phrase_freq``."""
    spark = index.spark
    _require_positions(index)
    tokens = tokenize_py(phrase_text)
    if not tokens:
        return local_page(spark, [], np.float32([]))
    _check_slop(tokens, slop)
    stats = index.term_stats(sorted(set(tokens)))
    if any(t not in stats for t in tokens):
        # OOV token ⇒ phrase cannot match
        return local_page(spark, [], np.float32([]))
    idf_total = sum(lucene_idf(index.n_docs, stats[t]) for t in tokens)
    offset_tids = [[tid_py(t)] for t in tokens]
    seed_term = min(set(tokens), key=lambda t: stats[t])
    seed = [tid_py(seed_term)]
    sum_df = sum(stats[t] for t in set(tokens))
    return _dispatch(
        index, offset_tids, seed, idf_total, k, mode, sum_df, slop=slop,
        seed_df=stats[seed_term],
    )


def _check_slop(tokens: list[str], slop: int) -> None:
    if slop < 0:
        raise ValueError("slop must be >= 0")


def phrase_prefix_topk(
    index: BM25Index,
    phrase_text: str,
    k: int = 10,
    max_expansions: int = 50,
    mode: str = "auto",
) -> DataFrame:
    """Top-k match_phrase_prefix matches. Returns (doc_id, score, rank).

    The last token of ``phrase_text`` is treated as a prefix and expanded
    via ``BM25Index.prefix_stats`` (≤max_expansions dictionary terms in
    lexicographic order). idf sums every fixed token per occurrence PLUS
    every expansion term once (MultiPhraseWeight's statistics contract);
    the expanded offset matches the union of the expansions' positions."""
    spark = index.spark
    _require_positions(index)
    tokens = tokenize_py(phrase_text)
    if not tokens:
        return local_page(spark, [], np.float32([]))
    fixed, prefix = tokens[:-1], tokens[-1]
    stats = index.term_stats(sorted(set(fixed)))
    if any(t not in stats for t in fixed):
        return local_page(spark, [], np.float32([]))
    expansions = index.prefix_stats(prefix, max_expansions)
    if not expansions:
        # MatchNoDocsQuery rewrite
        return local_page(spark, [], np.float32([]))
    idf_total = sum(lucene_idf(index.n_docs, stats[t]) for t in fixed) + sum(
        lucene_idf(index.n_docs, df) for _, df in expansions
    )
    offset_tids = [[tid_py(t)] for t in fixed]
    offset_tids.append([tid_py(t) for t, _ in expansions])
    if fixed:
        seed_term = min(set(fixed), key=lambda t: stats[t])
        seed = [tid_py(seed_term)]
        seed_df = stats[seed_term]
    else:
        seed = list(offset_tids[-1])
        seed_df = sum(df for _, df in expansions)
    sum_df = sum(stats[t] for t in set(fixed)) + sum(
        df for _, df in expansions
    )
    return _dispatch(
        index, offset_tids, seed, idf_total, k, mode, sum_df, seed_df=seed_df
    )


def _require_positions(index: BM25Index) -> None:
    if not has_positions(index.path):
        raise ValueError(
            f"index at {index.path} has no positions sidecar — run "
            "index.positions.build_positions first (phrase queries read "
            "positions, which the BM25-only build does not store)"
        )


def _dispatch(
    index: BM25Index,
    offset_tids: list[list[int]],
    seed: list[int],
    idf_total: float,
    k: int,
    mode: str,
    sum_df: int,
    slop: int = 0,
    seed_df: int | None = None,
) -> DataFrame:
    if driver_route(mode, sum_df):
        return _mphrase_topk_driver(index, offset_tids, idf_total, k, slop)
    return _mphrase_topk_distributed(
        index, offset_tids, seed, idf_total, k, slop, seed_df=seed_df
    )


def _positions_path(index: BM25Index) -> str:
    return os.path.join(index.path, "positions")


def _member(sorted_arr: np.ndarray, cand: np.ndarray) -> np.ndarray:
    """Boolean membership of each cand element in a sorted unique array."""
    if sorted_arr.size == 0 or cand.size == 0:
        return np.zeros(cand.size, dtype=bool)
    p = np.searchsorted(sorted_arr, cand)
    return (p < sorted_arr.size) & (
        sorted_arr[np.minimum(p, sorted_arr.size - 1)] == cand
    )


def _mphrase_topk_driver(
    index: BM25Index,
    offset_tids: list[list[int]],
    idf_total: float,
    k: int,
    slop: int = 0,
) -> DataFrame:
    import pyarrow.dataset as ds

    tids = sorted({t for g in offset_tids for t in g})
    buckets = sorted({t % N_TERM_BUCKETS for t in tids})
    tbl = ds.dataset(
        _positions_path(index), format="parquet", partitioning="hive"
    ).to_table(
        columns=["tid", "doc_id", "dl", "positions"],
        filter=ds.field("term_bucket").isin(buckets)
        & ds.field("tid").isin(tids),
    )
    tid_arr = tbl["tid"].to_numpy()
    doc_arr = tbl["doc_id"].to_numpy()
    dl_arr = tbl["dl"].to_numpy()
    # positions stay an arrow ListArray: flat value buffer + row offsets,
    # no per-row python materialization
    pos_list = tbl.column("positions").combine_chunks()
    pos_flat = pos_list.values.to_numpy(zero_copy_only=False).astype(np.int64)
    pos_offs = np.asarray(pos_list.offsets).astype(np.int64)
    # per-tid sorted doc views (row order within a tid is doc-sorted on
    # disk but fragments may interleave — argsort to be layout-independent)
    per_tid: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for t in tids:
        rows = np.flatnonzero(tid_arr == t)
        order = np.argsort(doc_arr[rows], kind="mergesort")
        per_tid[t] = (doc_arr[rows[order]], rows[order])
    empty = local_page(index.spark, [], np.float32([]))
    groups = [sorted(set(g)) for g in offset_tids]
    req = sorted({g[0] for g in groups if len(g) == 1})
    unions = [g for g in groups if len(g) > 1]
    # candidate seed: rarest required term, else the first union group
    if req:
        seed_t = min(req, key=lambda t: per_tid[t][0].size)
        cand = per_tid[seed_t][0]
    elif unions:
        parts = [per_tid[t][0] for t in unions[0] if per_tid[t][0].size]
        if not parts:
            return empty
        cand = np.unique(np.concatenate(parts))
    else:
        return empty
    live = _live_mask(cand, index.deletes)
    if live is not None:
        cand = cand[live]
    # conjunction: every required term present, every union group hit ≥once
    for t in req:
        if cand.size == 0:
            break
        if t == seed_t:  # seed_t is always bound when req is non-empty
            continue
        cand = cand[_member(per_tid[t][0], cand)]
    for g in unions:
        if cand.size == 0:
            break
        parts = [per_tid[t][0] for t in g if per_tid[t][0].size]
        if not parts:
            return empty
        gdocs = np.unique(np.concatenate(parts))
        cand = cand[_member(gdocs, cand)]
    if cand.size == 0:
        return empty
    # int64 band safety for the tagged kernel below: tags are
    # candidate_index·2^40 + (pos − offset), so candidate count must stay
    # under 2^23 and positions under 2^40. Auto mode guarantees the former
    # via DRIVER_MAX_POSTINGS; an explicit mode='driver' over very hot
    # terms could breach it and silently wrap tags into wrong freqs.
    if cand.size >= (1 << 23):
        raise ValueError(
            f"driver phrase kernel got {cand.size} candidate docs "
            "(≥ 2^23, the tagged-stream band limit) — use "
            "mode='distributed' for this query"
        )
    if dl_arr.size and int(dl_arr.max()) >= int(_STRIDE):
        raise ValueError("document positions exceed the 2^40 tag stride")
    # per-tid candidate coverage: (candidate indices, sidecar rows) for the
    # subset of candidates containing that term (full for required terms)
    cov: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    dl_cand = np.zeros(cand.size, dtype=np.int64)
    for t in tids:
        docs_t, rows_t = per_tid[t]
        ok = _member(docs_t, cand)
        p = np.searchsorted(docs_t, cand) if docs_t.size else None
        ci = np.flatnonzero(ok)
        rows = rows_t[p[ok]] if ci.size else rows_t[:0]
        cov[t] = (ci, rows)
        if ci.size:
            dl_cand[ci] = dl_arr[rows]
    if slop > 0:
        # sloppy path: the heap sweep is inherently sequential per doc, so
        # loop the (conjunction-bounded) candidates — driver-scale work;
        # heavy queries take the distributed mode. Offsets are singleton
        # tids here (slop arrives only via match_phrase, never prefix
        # unions); repeated tids share a stream and take the collision
        # machinery.
        tid_by_off = [g[0] for g in groups]
        rpt_groups = repeat_groups_of(tid_by_off)
        row_of = {
            t: dict(zip(cov[t][0].tolist(), cov[t][1].tolist()))
            for t in tids
        }
        freqs = np.zeros(cand.size, dtype=np.float64)
        for ci in range(cand.size):
            pos_by = [
                pos_flat[
                    pos_offs[row_of[t][ci]] : pos_offs[row_of[t][ci] + 1]
                ]
                for t in tid_by_off
            ]
            freqs[ci] = sloppy_phrase_freq(pos_by, slop, rpt_groups)
        hit = freqs > 0
        if not hit.any():
            return empty
        scored = _score_docs(
            cand[hit], freqs[hit], dl_cand[hit], idf_total,
            index.k1, index.b, index.avgdl,
        )
        scored = scored.sort_values(
            ["score", "doc_id"], ascending=[False, True], kind="mergesort"
        ).head(k)
        return local_page(index.spark, scored["doc_id"], scored["score"])
    # vectorized phrase freq across ALL candidates at once: tag every
    # position with candidate_index·STRIDE, run ONE sorted-intersection
    # chain over the per-offset tagged streams (per-doc position lists are
    # ascending and strides separate docs, so each stream is strictly
    # increasing; union offsets concatenate member streams and re-sort —
    # still unique, one token per document position), then bincount the
    # surviving tags.
    tagged: dict[int, np.ndarray] = {}
    for t in tids:
        ci, rows = cov[t]
        if ci.size == 0:
            tagged[t] = np.empty(0, dtype=np.int64)
            continue
        starts = pos_offs[rows]
        lens = pos_offs[rows + 1] - starts
        total = int(lens.sum())
        if total == 0:
            tagged[t] = np.empty(0, dtype=np.int64)
            continue
        cum_prev = np.concatenate(([0], np.cumsum(lens)[:-1]))
        gather = (
            np.arange(total, dtype=np.int64)
            - np.repeat(cum_prev, lens)
            + np.repeat(starts, lens)
        )
        tagged[t] = pos_flat[gather] + np.repeat(
            ci.astype(np.int64) * _STRIDE, lens
        )
    streams: list[np.ndarray] = []
    for j, g in enumerate(groups):
        if len(g) == 1:
            s = tagged[g[0]] - j
        else:
            parts = [tagged[t] for t in g if tagged[t].size]
            s = (
                np.sort(np.concatenate(parts)) - j
                if parts
                else np.empty(0, dtype=np.int64)
            )
        streams.append(s)
    streams.sort(key=len)  # rarest stream first → smallest intersections
    P = streams[0]
    for s in streams[1:]:
        if P.size == 0:
            break
        P = np.intersect1d(P, s, assume_unique=True)
    freqs = (
        np.bincount(P // _STRIDE, minlength=cand.size)
        if P.size
        else np.zeros(cand.size, dtype=np.int64)
    )
    hit = freqs > 0
    if not hit.any():
        return empty
    scored = _score_docs(
        cand[hit],
        freqs[hit],
        dl_cand[hit],
        idf_total,
        index.k1,
        index.b,
        index.avgdl,
    )
    scored = scored.sort_values(
        ["score", "doc_id"], ascending=[False, True], kind="mergesort"
    ).head(k)
    return local_page(index.spark, scored["doc_id"], scored["score"])


# broadcast the leading-term doc set when its df is under this bound
# (~16 MB of int64 ids); hotter seeds fall back to the shuffled semi-join
BROADCAST_SEED_DF = 2_000_000


def _exact_phrase_hits(
    groups: list[list[int]],
    masks: list[np.ndarray],
    cov_row: np.ndarray,
    inv: np.ndarray,
    pos_col: np.ndarray,
    lens: np.ndarray,
    n_cand: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact phrase frequencies over a shard's covered candidates.

    Tags every position with candidate_index·2^40, intersects ONE sorted
    stream per phrase offset, and bincounts the surviving tags — no
    per-doc Python loop. Bands of 2^22 candidates keep tag·STRIDE + pos
    inside int64 (the same bound the driver kernel asserts). Shared by
    the single-query distributed verify and the batched phrase kernel.

    Returns (candidate_indices, freqs) for candidates with freq > 0;
    indices are positions into the caller's sorted candidate array.
    """
    idxs: list[np.ndarray] = []
    frs: list[np.ndarray] = []
    band = 1 << 22
    for lo in range(0, n_cand, band):
        hi = min(lo + band, n_cand)
        in_band = (
            cov_row & (inv >= lo) & (inv < hi) if n_cand > band else cov_row
        )
        seen: dict[tuple, np.ndarray] = {}
        streams: list[np.ndarray] = []
        for j, g in enumerate(groups):
            key = tuple(g)
            base = seen.get(key)
            if base is None:
                rows = np.flatnonzero(in_band & masks[j])
                if rows.size:
                    flat = np.concatenate(pos_col[rows].tolist()).astype(
                        np.int64
                    )
                    base = flat + np.repeat(
                        (inv[rows] - lo).astype(np.int64) * _STRIDE,
                        lens[rows],
                    )
                    if len(g) > 1:
                        base = np.sort(base)  # member tids interleave
                else:
                    base = np.empty(0, dtype=np.int64)
                seen[key] = base
            streams.append(base - j)
        streams.sort(key=len)
        P = streams[0]
        for s in streams[1:]:
            if P.size == 0:
                break
            P = np.intersect1d(P, s, assume_unique=True)
        if P.size == 0:
            continue
        fr_band = np.bincount(P // _STRIDE, minlength=hi - lo)
        hit = np.flatnonzero(fr_band)
        idxs.append(hit + lo)
        frs.append(fr_band[hit])
    if not idxs:
        z = np.empty(0, dtype=np.int64)
        return z, z
    return np.concatenate(idxs), np.concatenate(frs)


def phrase_topk_batch(
    index: BM25Index,
    phrases: list[tuple[str, str]],
    k: int = 10,
) -> DataFrame:
    """Batched exact-phrase serving: ONE positions pass answers every
    phrase (the msearch analog of ``bm25_topk_batch``).

    ``phrases`` is [(query_id, phrase_text), ...]. Returns (query_id,
    doc_id, score, rank) with per-query top-k; queries with an OOV or
    empty token list contribute no rows (a phrase with a missing term
    cannot match — MatchNoDocsQuery rewrite).

    Why batch: a single distributed phrase query pays a fixed scan +
    Arrow transfer + task-scheduling cost that dwarfs its vectorized
    kernel time (bench.py's phrase_qps_distributed vs _driver gap). Here
    that cost is paid once for the whole batch: the scan prunes to the
    UNION of all queries' terms, each shard kernel sorts/indexes its
    rows once, then answers every query with the shared tagged-stream
    kernel (``_exact_phrase_hits``) + a local top-k, and one
    query_id-partitioned window ranks globally. Exact phrases only —
    sloppy queries go through ``phrase_topk`` (the sweep is sequential
    per doc and gains nothing from batching).

    Reference: _msearch over match_phrase bodies; Lucene executes each
    per-shard with shared IndexReader state — the shared state here is
    the one pruned (or ``cache_positions``-pinned) positions scan.
    """
    from pyspark.sql import Window

    spark = index.spark
    _require_positions(index)
    toks_by_q = {qid: tokenize_py(text or "") for qid, text in phrases}
    all_terms = sorted({t for ts in toks_by_q.values() for t in ts})
    stats = index.term_stats(all_terms) if all_terms else {}
    specs: list[tuple[str, list[list[int]], float]] = []
    for qid, _ in phrases:
        toks = toks_by_q[qid]
        if not toks or any(t not in stats for t in toks):
            continue
        idf_total = sum(
            lucene_idf(index.n_docs, stats[t]) for t in toks
        )
        specs.append((qid, [[tid_py(t)] for t in toks], idf_total))
    if not specs:
        return spark.range(0).select(
            F.lit("").alias("query_id"),
            F.col("id").alias("doc_id"),
            F.lit(0.0).cast("float").alias("score"),
            F.lit(0).cast("int").alias("rank"),
        )
    tids = sorted({g[0] for _, gs, _ in specs for g in gs})
    cached = index._positions_cache
    if cached is not None:
        cand = cached.filter(F.col("tid").isin(tids))
    else:
        buckets = sorted({t % N_TERM_BUCKETS for t in tids})
        cand = (
            spark.read.parquet(_positions_path(index))
            .filter(
                F.col("term_bucket").isin(buckets) & F.col("tid").isin(tids)
            )
            .withColumn(
                "doc_shard",
                F.pmod(
                    F.xxhash64("doc_id", F.lit(13)), F.lit(index.n_shards)
                ).cast("int"),
            )
        )
    k1, b, avgdl = index.k1, index.b, index.avgdl
    deletes = index.deletes

    def verify_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series(dtype="str"),
                "doc_id": pd.Series(dtype="int64"),
                "score": pd.Series(dtype="float32"),
            }
        )
        if not len(pdf):
            return empty
        # shared per-shard prep, paid ONCE for the whole batch
        pdf = pdf.sort_values(["doc_id", "tid"], kind="mergesort")
        docs = pdf["doc_id"].to_numpy()
        tid_a = pdf["tid"].to_numpy()
        dl_a = pdf["dl"].to_numpy()
        pos_col = pdf["positions"].to_numpy()
        cand_d, first_rows = np.unique(docs, return_index=True)
        inv = np.searchsorted(cand_d, docs)
        n_cand = cand_d.size
        dl_cand = dl_a[first_rows]
        lens = np.fromiter(
            (len(p) for p in pos_col), dtype=np.int64, count=len(pos_col)
        )
        live = _live_mask(cand_d, deletes)
        out: list[pd.DataFrame] = []
        for qid, groups, idf_total in specs:
            covered = np.ones(n_cand, dtype=bool)
            masks: list[np.ndarray] = []
            for g in groups:
                m = (
                    tid_a == g[0]
                    if len(g) == 1
                    else np.isin(tid_a, g)
                )
                masks.append(m)
                covered &= np.bincount(
                    inv[m], minlength=n_cand
                ).astype(bool)
            if live is not None:
                covered &= live
            if not covered.any():
                continue
            ci, fr = _exact_phrase_hits(
                groups, masks, covered[inv], inv, pos_col, lens, n_cand
            )
            if ci.size == 0:
                continue
            sc = _score_docs(
                cand_d[ci], fr, dl_cand[ci], idf_total, k1, b, avgdl
            )
            if len(sc) > k:  # local top-k bounds the shuffle to n_q·k
                sc = sc.sort_values(
                    ["score", "doc_id"],
                    ascending=[False, True],
                    kind="mergesort",
                ).head(k)
            sc.insert(0, "query_id", qid)
            out.append(sc)
        return pd.concat(out, ignore_index=True) if out else empty

    scored = cand.groupBy("doc_shard").applyInPandas(
        verify_shard, "query_id string, doc_id long, score float"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def _mphrase_topk_distributed(
    index: BM25Index,
    offset_tids: list[list[int]],
    seed: list[int],
    idf_total: float,
    k: int,
    slop: int = 0,
    seed_df: int | None = None,
) -> DataFrame:
    spark = index.spark
    tids = sorted({t for g in offset_tids for t in g})
    buckets = sorted({t % N_TERM_BUCKETS for t in tids})
    cached = index._positions_cache
    if cached is not None:
        # serving mode (cache_positions): rows are pinned pre-partitioned
        # by doc_shard and tid-sorted, so the per-query plan is ONE
        # exchange-free pass — in-memory scan (per-batch tid stats skip
        # everything outside the query's terms) → groupBy(doc_shard)
        # kernel. No leading-term semi-join: its purpose is to bound the
        # SHUFFLE, and there is none here — the kernel's vectorized
        # coverage mask (isin + bincount) drops non-candidates in place.
        cand = cached.filter(F.col("tid").isin(tids))
    else:
        pos = (
            spark.read.parquet(_positions_path(index))
            .filter(
                F.col("term_bucket").isin(buckets) & F.col("tid").isin(tids)
            )
            .withColumn(
                "doc_shard",
                F.pmod(
                    F.xxhash64("doc_id", F.lit(13)), F.lit(index.n_shards)
                ).cast("int"),
            )
        )
        # leading-term bound: only docs containing the seed (rarest
        # required term, or any expansion when the whole phrase is one
        # prefix) shuffle into the verify kernel
        if len(seed) == 1:
            rare_docs = pos.filter(F.col("tid") == seed[0]).select("doc_id")
        else:
            rare_docs = (
                pos.filter(F.col("tid").isin(seed))
                .select("doc_id")
                .distinct()
            )
        if seed_df is not None and seed_df <= BROADCAST_SEED_DF:
            # broadcast semi-join: the candidate rows never move twice
            rare_docs = F.broadcast(rare_docs)
        cand = pos.join(rare_docs, "doc_id", "left_semi")
    k1, b, avgdl = index.k1, index.b, index.avgdl
    deletes = index.deletes
    groups = [sorted(set(g)) for g in offset_tids]
    # repeated singleton tids (e.g. "to be or not to be") share a stream;
    # union groups get unique tuple keys so they never alias a repeat
    rpt_groups = repeat_groups_of([tuple(g) for g in groups])

    def verify_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        """Vectorized phrase verify over one doc shard — the SAME
        tagged-stream kernel as the driver path (candidate_index·2^40
        tags, one sorted-intersection chain, bincount of survivors),
        applied to the shard's local candidates. No per-doc Python loop
        on the exact path; the sloppy sweep (inherently sequential per
        doc) loops covered candidates only."""
        empty = pd.DataFrame(
            {
                "doc_id": pd.Series(dtype="int64"),
                "score": pd.Series(dtype="float32"),
            }
        )
        if not len(pdf):
            return empty
        pdf = pdf.sort_values(["doc_id", "tid"], kind="mergesort")
        docs = pdf["doc_id"].to_numpy()
        tid_a = pdf["tid"].to_numpy()
        dl_a = pdf["dl"].to_numpy()
        pos_col = pdf["positions"].to_numpy()
        cand, first_rows = np.unique(docs, return_index=True)
        inv = np.searchsorted(cand, docs)  # docs sorted ⇒ cheap inverse
        n_cand = cand.size
        # coverage: every offset group must be present in the doc
        covered = np.ones(n_cand, dtype=bool)
        masks: list[np.ndarray] = []
        for g in groups:
            m = np.isin(tid_a, g)
            masks.append(m)
            covered &= np.bincount(inv[m], minlength=n_cand).astype(bool)
        live = _live_mask(cand, deletes)
        if live is not None:
            covered &= live
        if not covered.any():
            return empty
        dl_cand = dl_a[first_rows]
        if slop > 0:
            # sloppy sweep — sequential per doc by nature; candidates are
            # already bounded by the leading-term semi-join
            starts = np.flatnonzero(
                np.concatenate(([True], docs[1:] != docs[:-1]))
            )
            ends = np.concatenate((starts[1:], [len(docs)]))
            o_doc, o_fr, o_dl = [], [], []
            for ci in np.flatnonzero(covered):
                s, e = starts[ci], ends[ci]
                present = {int(tid_a[i]): pos_col[i] for i in range(s, e)}
                by_off = [
                    np.sort(
                        np.concatenate(
                            [
                                np.asarray(present[t], dtype=np.int64)
                                for t in g
                                if t in present
                            ]
                        )
                    )
                    if len(g) > 1
                    else np.asarray(present[g[0]], dtype=np.int64)
                    for g in groups
                ]
                fr = sloppy_phrase_freq(by_off, slop, rpt_groups)
                if fr:
                    o_doc.append(cand[ci])
                    o_fr.append(fr)
                    o_dl.append(dl_cand[ci])
            if not o_doc:
                return empty
            return _score_docs(
                np.asarray(o_doc, dtype=np.int64),
                # float64: sloppy freqs are fractional (1/(1+matchLength))
                np.asarray(o_fr, dtype=np.float64),
                np.asarray(o_dl, dtype=np.int64),
                idf_total, k1, b, avgdl,
            )
        # exact path: the shared banded tagged-stream kernel
        lens = np.fromiter(
            (len(p) for p in pos_col), dtype=np.int64, count=len(pos_col)
        )
        ci, fr = _exact_phrase_hits(
            groups, masks, covered[inv], inv, pos_col, lens, n_cand
        )
        if ci.size == 0:
            return empty
        return _score_docs(
            cand[ci], fr, dl_cand[ci], idf_total, k1, b, avgdl
        )

    scored = cand.groupBy("doc_shard").applyInPandas(
        verify_shard, "doc_id long, score float"
    )
    w = topk_rank_window(F.desc("score"), F.asc("doc_id"))
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )
