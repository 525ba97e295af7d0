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

Both variants resolve to offset groups — per phrase offset, the LIST
of term-ids accepted there (singletons for exact phrases) — and build a
``freqs_fn`` over a doc-sorted ``PositionsBlock``: a vectorized
coverage mask (every offset group present), then the exact
tagged-stream kernel (every position tagged with candidate_index·2^40,
ONE sorted-intersection chain over the per-offset streams, a bincount
of surviving tags) or the per-doc sloppy sweep.

This module also holds the one positional kernel every positional query
(phrase, phrase_prefix, span, intervals) runs, whatever its route:

* driver (Σdf under ``DRIVER_MAX_POSTINGS``): one pyarrow read of the
  terms' rows (``index.positions.read_positions``) scored in-process;
* distributed: the shard function with one spec — the pruned (or
  ``cache_positions``-pinned) scan, for a phrase a left-semi join
  against the leading term's doc set (bounds the shuffle at min-df ×
  phrase length), a doc-sharded ``applyInPandas`` kernel, then a
  TakeOrderedAndProject top-k;
* batch (msearch): the same shard function with every query's spec.

Query-time tombstones (``BM25Index.with_deletes``) are honored with the
same stale-stats contract as BM25: deleted docs vanish, live scores keep
full-corpus idf/avgdl.
"""

from __future__ import annotations

from functools import partial
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.build import tid_py
from ..index.positions import (
    PositionsBlock,
    has_positions,
    positions_frame,
    read_positions,
)
from ..ranking import batch_page, empty_batch_page, local_page, topk_page
from ..tokenizer import tokenize_expr, tokenize_py
from .bm25 import BM25Index, _live_mask, driver_route, lucene_idf

# candidate-index stride for the tagged-stream kernel: bands 2^40 apart
# (> any document length); ``_exact_phrase_hits`` takes candidates 2^22
# at a time, so tag·STRIDE + (pos − offset) stays inside int64
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
# the positional kernel: one shard function, one driver function
# ---------------------------------------------------------------------------
# A positional spec is (query_id, freqs_fn, idf_total): ``freqs_fn`` maps a
# doc-sorted PositionsBlock to (docs, freqs, dls) of its matching docs, and
# each doc scores idf_total · freq / (freq + k1·(1 − b + b·dl/avgdl)).

_NO_HITS = (
    np.empty(0, dtype=np.int64),
    np.empty(0, dtype=np.float64),
    np.empty(0, dtype=np.int64),
)
_SHARD_SCHEMA = "query_id string, doc_id long, score float"

# broadcast the leading-term doc set when its df is under this bound
# (~16 MB of int64 ids); hotter seeds fall back to the shuffled semi-join
BROADCAST_SEED_DF = 2_000_000


def _covered(
    block: PositionsBlock, groups: list[list[int]]
) -> tuple[np.ndarray, list[np.ndarray]]:
    """(mask over ``block.cand`` of the docs holding ≥1 tid of EVERY
    group, per-group row masks) — the conjunction bound every positional
    query applies before any per-doc work."""
    covered = np.ones(block.cand.size, dtype=bool)
    masks: list[np.ndarray] = []
    for g in groups:
        m = block.tid == g[0] if len(g) == 1 else np.isin(block.tid, g)
        masks.append(m)
        covered &= np.bincount(
            block.inv[m], minlength=block.cand.size
        ).astype(bool)
    return covered, masks


def _score_block(
    block: PositionsBlock,
    specs: list[tuple],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    deletes: np.ndarray | None,
) -> pd.DataFrame:
    """Every spec's local top-k (query_id, doc_id, score float32) over
    one block — score desc, doc_id asc — with tombstoned docs removed
    first (stale-stats contract: live scores keep full-corpus stats)."""
    live = _live_mask(block.doc, deletes)
    if live is not None:
        block = block.rows(live)
    out: list[pd.DataFrame] = []
    for qid, freqs_fn, idf_total in specs:
        docs, freqs, dls = freqs_fn(block) if block.doc.size else _NO_HITS
        if docs.size == 0:
            continue
        f = np.asarray(freqs, dtype=np.float64)
        tfn = f / (f + k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl))
        sc = (idf_total * tfn).astype(np.float32)
        sel = np.lexsort((docs, -sc.astype(np.float64)))[:k]
        out.append(
            pd.DataFrame(
                {"query_id": qid, "doc_id": docs[sel], "score": sc[sel]}
            )
        )
    if not out:
        return pd.DataFrame(
            {
                "query_id": pd.Series(dtype="str"),
                "doc_id": pd.Series(dtype="int64"),
                "score": pd.Series(dtype="float32"),
            }
        )
    return pd.concat(out, ignore_index=True)


def _shard_scored(
    index: BM25Index, frame: DataFrame, specs: list[tuple], k: int
) -> DataFrame:
    """The shard function: one ``applyInPandas`` task per doc_shard
    scores every spec next to the data and emits each one's local top-k,
    bounding the exchange to shards · specs · k rows."""
    k1, b, avgdl, deletes = index.k1, index.b, index.avgdl, index.deletes

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        block = PositionsBlock.from_pandas(pdf)
        return _score_block(block, specs, k, k1, b, avgdl, deletes)

    return frame.groupBy("doc_shard").applyInPandas(
        score_shard, _SHARD_SCHEMA
    )


def _driver_scored(
    index: BM25Index, tids: list[int], specs: list[tuple], k: int
) -> pd.DataFrame:
    """The driver function: one pyarrow read, every spec scored
    in-process — no Spark job."""
    return _score_block(
        read_positions(index.path, tids), specs, k,
        index.k1, index.b, index.avgdl, index.deletes,
    )


def positional_topk(
    index: BM25Index,
    tids: list[int],
    freqs_fn,
    idf_total: float,
    k: int,
    mode: str,
    sum_df: int,
    seed: tuple[list[int], int] | None = None,
) -> DataFrame:
    """One positional query → (doc_id, score, rank): the driver function
    on the driver route, else the shard function with this one spec and
    a global top-k. ``seed`` = (tids, df) is a phrase's leading-term
    bound: on an uncached scan only docs holding a seed tid shuffle into
    the kernel (a broadcast semi-join when df ≤ BROADCAST_SEED_DF). The
    pinned ``cache_positions`` frame skips it — there is no shuffle to
    bound, and the kernel's coverage mask drops non-candidates in place."""
    spec = ("", freqs_fn, idf_total)
    if driver_route(mode, sum_df):
        sc = _driver_scored(index, tids, [spec], k)
        return local_page(index.spark, sc["doc_id"], sc["score"].to_numpy())
    frame = positions_frame(index, tids)
    if seed is not None and index._positions_cache is None:
        seed_tids, seed_df = seed
        rare = frame.filter(F.col("tid").isin(seed_tids)).select("doc_id")
        if len(seed_tids) > 1:
            rare = rare.distinct()
        if seed_df <= BROADCAST_SEED_DF:
            rare = F.broadcast(rare)
        frame = frame.join(rare, "doc_id", "left_semi")
    return topk_page(_shard_scored(index, frame, [spec], k).drop("query_id"), k)


def positional_topk_batch(
    index: BM25Index, tids: list[int], specs: list[tuple], k: int
) -> DataFrame:
    """Every spec from ONE positions pass over the union of their tids →
    (query_id, doc_id, score, rank), per-query top-k."""
    if not specs:
        return empty_batch_page(index.spark)
    frame = positions_frame(index, tids)
    return batch_page(_shard_scored(index, frame, specs, k), k)


def _exact_phrase_hits(
    groups: list[list[int]],
    masks: list[np.ndarray],
    cov_row: np.ndarray,
    block: PositionsBlock,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact phrase frequencies over a block's covered candidates.

    Tags every position with candidate_index·2^40, intersects ONE sorted
    stream per phrase offset (a union offset merges its members' streams
    and re-sorts — still unique, one token per document position), and
    bincounts the surviving tags — no per-doc Python loop. Bands of 2^22
    candidates keep tag·STRIDE + pos inside int64.

    Returns (candidate_indices, freqs) for candidates with freq > 0;
    indices are positions into ``block.cand``.
    """
    if block.dl.size and int(block.dl.max()) >= int(_STRIDE):
        raise ValueError("document positions exceed the 2^40 tag stride")
    inv, n_cand = block.inv, block.cand.size
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
                flat, lens = block.gather(rows)
                base = flat + np.repeat((inv[rows] - lo) * _STRIDE, lens)
                if len(g) > 1:
                    base = np.sort(base)  # member tids interleave
                seen[key] = base
            streams.append(base - j)
        streams.sort(key=len)  # rarest stream first → smallest intersections
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


def _phrase_freqs(
    groups: list[list[int]], slop: int, block: PositionsBlock
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """A phrase's freqs_fn (bound with ``partial``): coverage mask, then
    the tagged-stream kernel (slop 0) or the sloppy sweep per covered
    doc. Repeated singleton tids ("to be or not to be") share a stream
    and take the sweep's collision machinery; union groups get tuple keys
    so they never alias a repeat."""
    covered, masks = _covered(block, groups)
    if not covered.any():
        return _NO_HITS
    if slop == 0:
        ci, fr = _exact_phrase_hits(groups, masks, covered[block.inv], block)
    else:
        rpt_groups = repeat_groups_of([tuple(g) for g in groups])
        ends = np.append(block.first[1:], block.doc.size)
        ci = np.flatnonzero(covered)
        fr = np.zeros(ci.size, dtype=np.float64)
        for i, c in enumerate(ci):
            present = {
                int(block.tid[r]): block.positions(r)
                for r in range(block.first[c], ends[c])
            }
            by_off = [
                present[g[0]]
                if len(g) == 1
                else np.sort(
                    np.concatenate([present[t] for t in g if t in present])
                )
                for g in groups
            ]
            fr[i] = sloppy_phrase_freq(by_off, slop, rpt_groups)
        ci, fr = ci[fr > 0], fr[fr > 0]
    return block.cand[ci], fr, block.dl[block.first[ci]]


# ---------------------------------------------------------------------------
# index-backed top-k
# ---------------------------------------------------------------------------
class PhraseQuery(NamedTuple):
    """One phrase as a batch entry: match_phrase, or match_phrase_prefix
    when ``max_expansions`` is set (the last token is the prefix)."""

    text: str
    slop: int = 0
    max_expansions: int | None = None


def _fixed_tokens(q: PhraseQuery) -> list[str]:
    tokens = tokenize_py(q.text or "")
    return tokens[:-1] if q.max_expansions is not None else tokens


def _resolve(index: BM25Index, q: PhraseQuery, stats: dict | None = None):
    """(offset groups, idf_total, seed tids, seed df, Σdf) of a phrase,
    or None when it cannot match (no tokens, an OOV fixed token, a
    prefix without expansions — the MatchNoDocsQuery rewrite). ``stats``
    must cover the fixed tokens (read here when omitted)."""
    tokens = tokenize_py(q.text or "")
    if not tokens:
        return None
    _check_slop(tokens, q.slop)
    fixed = _fixed_tokens(q)
    if stats is None:
        stats = index.term_stats(sorted(set(fixed)))
    if any(t not in stats for t in fixed):
        return None
    expansions = []
    if q.max_expansions is not None:
        expansions = index.prefix_stats(tokens[-1], q.max_expansions)
        if not expansions:
            return None
    idf_total = sum(lucene_idf(index.n_docs, stats[t]) for t in fixed) + sum(
        lucene_idf(index.n_docs, df) for _, df in expansions
    )
    groups = [[tid_py(t)] for t in fixed]
    if expansions:
        groups.append(sorted({tid_py(t) for t, _ in expansions}))
    if fixed:
        seed_term = min(set(fixed), key=lambda t: stats[t])
        seed, seed_df = [tid_py(seed_term)], stats[seed_term]
    else:
        seed, seed_df = groups[-1], sum(df for _, df in expansions)
    sum_df = sum(stats[t] for t in set(fixed)) + sum(
        df for _, df in expansions
    )
    return groups, idf_total, seed, seed_df, sum_df


def _phrase_topk(
    index: BM25Index, q: PhraseQuery, k: int, mode: str
) -> DataFrame:
    _require_positions(index)
    r = _resolve(index, q)
    if r is None:
        return local_page(index.spark, [], np.float32([]))
    groups, idf_total, seed, seed_df, sum_df = r
    return positional_topk(
        index, sorted({t for g in groups for t in g}),
        partial(_phrase_freqs, groups, q.slop), idf_total, k, mode, sum_df,
        seed=(seed, seed_df),
    )


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
    return _phrase_topk(index, PhraseQuery(phrase_text, slop), k, mode)


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
    return _phrase_topk(
        index, PhraseQuery(phrase_text, max_expansions=max_expansions), k,
        mode,
    )


def _require_positions(index: BM25Index) -> None:
    if not has_positions(index.path):
        raise ValueError(
            f"index at {index.path} has no positions sidecar — run "
            "index.positions.build_positions first (phrase queries read "
            "positions, which the BM25-only build does not store)"
        )


def phrase_topk_batch(
    index: BM25Index,
    phrases: list[tuple[str, str | PhraseQuery]],
    k: int = 10,
) -> DataFrame:
    """Batched phrase serving: ONE positions pass answers every phrase
    (the msearch analog of ``bm25_topk_batch``).

    ``phrases`` is [(query_id, phrase_text or PhraseQuery), ...] — a bare
    text is an exact match_phrase; a ``PhraseQuery`` may carry a slop or
    be a match_phrase_prefix. Returns (query_id, doc_id, score, rank)
    with per-query top-k; queries that cannot match (no tokens, an OOV
    fixed token, a prefix without expansions) contribute no rows — the
    MatchNoDocsQuery rewrite.

    This is the shard function of a single distributed ``phrase_topk``
    with every query's spec: term stats resolve in ONE point-read over
    the union of the fixed tokens, the scan prunes to the union of every
    query's tids, each shard sorts/indexes its rows once and answers
    every query with a local top-k, and one query_id-partitioned window
    ranks globally. So the fixed scan + Arrow transfer + scheduling cost
    a single distributed query pays is paid once per batch.

    Reference: _msearch over match_phrase bodies; Lucene executes each
    per-shard with shared IndexReader state — the shared state here is
    the one pruned (or ``cache_positions``-pinned) positions scan.
    """
    _require_positions(index)
    queries = [
        (qid, q if isinstance(q, PhraseQuery) else PhraseQuery(q or ""))
        for qid, q in phrases
    ]
    fixed = sorted({t for _, q in queries for t in _fixed_tokens(q)})
    stats = index.term_stats(fixed) if fixed else {}
    specs: list[tuple] = []
    tids: set[int] = set()
    for qid, q in queries:
        r = _resolve(index, q, stats)
        if r is None:
            continue
        groups, idf_total = r[0], r[1]
        specs.append((qid, partial(_phrase_freqs, groups, q.slop), idf_total))
        tids.update(t for g in groups for t in g)
    return positional_topk_batch(index, sorted(tids), specs, k)
