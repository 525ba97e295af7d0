"""Bounded FIFO eviction for the driver-side decoded-postings caches.

Entries are tid → tuple-of-numpy-arrays (or None for absent terms). Bounds
are BOTH entry count and total bytes — a zipfian stream of near-threshold
hot terms would otherwise grow a count-only cache to multi-GB on the
driver. FIFO ≈ LRU at these sizes; callers evict AFTER their scoring loop
so in-use entries can't be dropped mid-query.
"""

from __future__ import annotations

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
