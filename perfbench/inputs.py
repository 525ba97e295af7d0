"""Seeded query streams for the two workloads, and the oracle checks that
every timed result must pass.

The engine only ever receives the generated specs; the oracle
(``neural_search_spark.oracle.BM25Oracle``) is built from the same corpus
and is never timed.
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd

from neural_search_spark.oracle import BM25Oracle
from neural_search_spark.query.hybrid import MIN_SCORE, SINGLE_RESULT_SCORE
from neural_search_spark.tokenizer import tokenize_py
from neural_search_spark.transcripts import COMMON_VOCAB_SIZE, generate_queries

# post_filter predicates: scores are computed as if unfiltered and failing
# docs are dropped, so the oracle check needs no per-filter corpus stats
FILTERS = {
    "role = 'user'": ("role", "user"),
    "role = 'assistant'": ("role", "assistant"),
    "tool = 'search'": ("tool", "search"),
    "tool = 'code'": ("tool", "code"),
}
HOT_POOL = 2000
N_KINDS = 5  # generate_queries: query q has kind q % 5
ZIPF_S = 1.1
# the cold stream draws from the common vocabulary past its head, so no
# term repeats and the stream's terms outnumber the 512-term driver cache
COLD_FIRST_RANK = 512


class QueryStream:
    """Infinite stream of query texts for one workload.

    ``hot``: seeded draws from the fixed ``generate_queries`` pool, which
    cycles through five kinds (common, rare, hot-term multi-term, absent,
    multi-term). The stream cycles through the kinds the same way and draws
    zipf-weighted within a kind, so the head of each kind repeats and every
    seed times the same mix around the same head.
    ``cold``: 1 to 3 terms per query, each term used once in the run.
    """

    def __init__(self, workload: str, seed: int):
        self.rng = np.random.default_rng(seed)
        if workload == "hot":
            pool = generate_queries(HOT_POOL)["query_text"].tolist()
            self._kinds = [pool[k::N_KINDS] for k in range(N_KINDS)]
            w = 1.0 / np.arange(1, len(self._kinds[0]) + 1) ** ZIPF_S
            self._p = w / w.sum()
            self._i = 0
            self.next = self._hot
        elif workload == "cold":
            tail = [f"w{i:04d}" for i in range(COLD_FIRST_RANK, COMMON_VOCAB_SIZE)]
            self._terms = itertools.cycle(self.rng.permutation(tail).tolist())
            self.next = self._cold
        else:
            raise ValueError(f"unknown workload {workload!r}")

    def _hot(self) -> str:
        kind = self._kinds[self._i % N_KINDS]
        self._i += 1
        return kind[self.rng.choice(len(kind), p=self._p)]

    def _cold(self) -> str:
        n = int(self.rng.integers(1, 4))
        return " ".join(next(self._terms) for _ in range(n))

    def filter_expr(self) -> str:
        return list(FILTERS)[int(self.rng.integers(len(FILTERS)))]


def terms_of(text: str) -> list[str]:
    return sorted(set(tokenize_py(text)))


def _ranked(rows) -> list[tuple[int, float]]:
    return [
        (int(r["doc_id"]), float(r["score"]))
        for r in sorted(rows, key=lambda r: r["rank"])
    ]


def _topk(ids: np.ndarray, scores: np.ndarray, k: int) -> pd.DataFrame:
    """Score desc, doc_id asc — the engine's tie-break."""
    order = np.lexsort((ids, -scores.astype(np.float64)))[:k]
    return pd.DataFrame({"doc_id": ids[order], "score": scores[order]})


def _same(got: list[tuple[int, float]], want: pd.DataFrame) -> bool:
    if len(got) != len(want):
        return False
    ids = np.array([g[0] for g in got], dtype=np.int64)
    sc = np.array([g[1] for g in got], dtype=np.float64)
    return bool(
        np.array_equal(ids, want["doc_id"].to_numpy(np.int64))
        and np.allclose(sc, want["score"].to_numpy(np.float64), rtol=1e-6)
    )


class Checker:
    """Rank identity of engine results against the oracle; each method
    returns True when the result is correct."""

    def __init__(self, docs: pd.DataFrame, k: int):
        self.k = k
        self.oracle = BM25Oracle(docs[["doc_id", "text"]])
        self.allowed = {
            expr: docs.loc[docs[col] == val, "doc_id"].to_numpy(np.int64)
            for expr, (col, val) in FILTERS.items()
        }

    def match(self, text: str, rows) -> bool:
        return _same(_ranked(rows), self.oracle.topk(text, k=self.k))

    def msearch(self, texts: dict[str, str], rows) -> bool:
        by_q: dict[str, list] = {qid: [] for qid in texts}
        for r in rows:
            if r["query_id"] not in by_q:
                return False
            by_q[r["query_id"]].append(r)
        return all(self.match(texts[qid], got) for qid, got in by_q.items())

    def filtered(self, text: str, expr: str, rows) -> bool:
        ids, scores = self.oracle.score_all(text)
        keep = np.isin(ids, self.allowed[expr])
        return _same(_ranked(rows), _topk(ids[keep], scores[keep], self.k))

    def hybrid(self, texts: list[str], rows) -> bool:
        """min_max normalization of each branch's top-k, then their
        arithmetic mean, with the engine's float32 roundings."""
        combined: dict[int, float] = {}
        for text in texts:
            top = self.oracle.topk(text, k=self.k)
            s = top["score"].to_numpy(np.float32).astype(np.float64)
            if not len(s):
                continue
            mn, mx = s.min(), s.max()
            with np.errstate(divide="ignore", invalid="ignore"):
                norm = np.where(s == mn, MIN_SCORE, (s - mn) / (mx - mn))
            if mx == mn:
                norm = np.full_like(s, SINGLE_RESULT_SCORE)
            norm = norm.astype(np.float32).astype(np.float64)
            for d, v in zip(top["doc_id"].to_numpy(np.int64), norm):
                combined[int(d)] = combined.get(int(d), 0.0) + float(v)
        ids = np.fromiter(combined, dtype=np.int64, count=len(combined))
        sc = (np.fromiter(combined.values(), dtype=np.float64) / len(texts))
        return _same(_ranked(rows), _topk(ids, sc.astype(np.float32), self.k))
