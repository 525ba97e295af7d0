"""Driver-resident index state: the term dictionary, and bounded FIFO
eviction for the decoded-postings caches.

Entries are tid → tuple-of-numpy-arrays (or None for absent terms). Bounds
are BOTH entry count and total bytes — a zipfian stream of near-threshold
hot terms would otherwise grow a count-only cache to multi-GB on the
driver. FIFO ≈ LRU at these sizes; callers evict AFTER their scoring loop
so in-use entries can't be dropped mid-query.
"""

from __future__ import annotations

import numpy as np

DEFAULT_MAX_TERMS = 512
DEFAULT_MAX_BYTES = 256 * 1024 * 1024


def entry_nbytes(value) -> int:
    if not value:
        return 0
    return sum(a.nbytes for a in value)


class DriverCache(dict):
    """The decoded-postings dict with a running byte total, so a bound
    check costs O(1) instead of a walk over every entry. Entries are set
    by item assignment and dropped by ``pop``; both keep ``nbytes``."""

    def __init__(self):
        super().__init__()
        self.nbytes = 0

    def __setitem__(self, key, value) -> None:
        self.nbytes += entry_nbytes(value) - entry_nbytes(self.get(key))
        super().__setitem__(key, value)

    def pop(self, key):
        value = super().pop(key)
        self.nbytes -= entry_nbytes(value)
        return value


def evict_fifo(cache: DriverCache, max_terms: int, max_bytes: int) -> None:
    while cache and (len(cache) > max_terms or cache.nbytes > max_bytes):
        cache.pop(next(iter(cache)))


class ResidentDictionary:
    """A terms table read ONCE into key-sorted driver arrays: ``terms``
    (an object array of str) and one int64 array per stats column. Point
    lookups and prefix ranges are ``np.searchsorted`` over ``terms``, so
    no query scans the table again — Lucene keeps its terms index
    resident the same way. Vocabulary-sized (≪ corpus at any scale)."""

    def __init__(self, path: str, key: str, columns: tuple[str, ...]):
        import pyarrow.dataset as ds

        tbl = ds.dataset(path, format="parquet").to_table(
            columns=[key, *columns]
        )
        tbl = tbl.sort_by(key)
        self.terms = tbl[key].to_numpy(zero_copy_only=False)
        self.stats = {c: tbl[c].to_numpy().astype(np.int64) for c in columns}

    def find(self, terms) -> tuple[list[str], np.ndarray]:
        """(the distinct present ``terms`` in sorted order, their rows)."""
        q = np.array(sorted(set(terms)), dtype=object)
        if not q.size or not self.terms.size:
            return [], np.empty(0, dtype=np.int64)
        pos = np.searchsorted(self.terms, q)
        hit = pos < self.terms.size
        hit[hit] = self.terms[pos[hit]] == q[hit]
        return q[hit].tolist(), pos[hit]

    def prefix_rows(self, prefix: str) -> slice:
        """The rows of every term starting with ``prefix`` (non-empty):
        [prefix, prefix with its last code point bumped), in term order."""
        hi = prefix[:-1] + chr(ord(prefix[-1]) + 1)
        lo, hi = np.searchsorted(self.terms, np.array([prefix, hi], object))
        return slice(int(lo), int(hi))

    def pairs(self, rows) -> list[tuple[str, int]]:
        """[(term, df)] of ``rows`` (a slice or an index array)."""
        return list(
            zip(self.terms[rows].tolist(), self.stats["df"][rows].tolist())
        )
