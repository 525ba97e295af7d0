"""Vectorized delta + LEB128-varint codec for posting blocks (numpy only).

Posting blocks store sorted doc_ids as zigzag-free unsigned deltas (doc_ids
are mapped int64 → uint64 order-preservingly by adding 2^63, so deltas of the
sorted sequence are non-negative) and term frequencies as plain varints.
Encode/decode are fully vectorized — no per-value Python loops, only a loop
over the ≤10 varint byte positions. The ``*_batch`` forms code many blocks
in one pass: the encoders return one bytes object per row, the decoders
read an Arrow binary column's offsets and data buffers directly and
return the row-concatenated values with per-row counts.

This plays the role Lucene's block postings format plays for the reference
(consumed there via org.apache.lucene Scorer iterators, e.g. reference
query/HybridQueryScorer.java:33-89); built here from scratch for Spark.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_SIGN_FLIP = np.uint64(1) << np.uint64(63)


def encode_varint(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array, vectorized."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # bytes needed per value: 1 + number of 7-bit groups above the first
    nbytes = np.ones(v.shape, dtype=np.int64)
    for i in range(1, 10):
        nbytes += (v >= (np.uint64(1) << np.uint64(7 * i))).astype(np.int64)
    offsets = np.cumsum(nbytes) - nbytes
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    for i in range(10):
        mask = nbytes > i
        if not mask.any():
            break
        chunk = (v[mask] >> np.uint64(7 * i)) & np.uint64(0x7F)
        cont = (nbytes[mask] - 1) > i
        out[offsets[mask] + i] = chunk.astype(np.uint8) | (
            cont.astype(np.uint8) << 7
        )
    return out.tobytes()


def _decode_varint_bytes(b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128 uint8 array → (uint64 values, their start byte offsets).
    Each byte's 7-bit group is shifted by 7 × its position in its value,
    then one ``bitwise_or.reduceat`` over the value starts assembles the
    values: every byte belongs to exactly one value, so OR equals sum.
    Positions and shifts use narrow dtypes to keep the per-byte passes
    cache-sized."""
    ends = (b & 0x80) == 0
    starts = np.flatnonzero(np.concatenate(([True], ends[:-1])))
    idx = np.int32 if b.size < 2**31 else np.int64
    pos = np.arange(b.size, dtype=idx) - np.repeat(
        starts.astype(idx), np.diff(np.append(starts, b.size))
    )
    groups = (b & np.uint8(0x7F)).astype(np.uint64)
    np.left_shift(
        groups, pos.astype(np.uint8) * np.uint8(7), out=groups,
        casting="unsafe",
    )
    return np.bitwise_or.reduceat(groups, starts), starts


def decode_varint(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes → uint64 array, vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    return _decode_varint_bytes(b)[0]


def _binary_rows(arr) -> tuple[np.ndarray, np.ndarray]:
    """(int64 row byte offsets, 0-based and n_rows + 1 long; uint8 data)
    of a non-null Arrow binary array or chunked array, read straight off
    its offsets and data buffers: no per-row Python objects. A slice's
    nonzero ``offset`` is honoured; chunks are combined first."""
    if hasattr(arr, "combine_chunks"):
        arr = arr.combine_chunks()
    _validity, offs_buf, data_buf = arr.buffers()[:3]
    wide = pa.types.is_large_binary(arr.type)
    offs = np.frombuffer(offs_buf, dtype=np.int64 if wide else np.int32)
    offs = offs[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
    if len(arr) == 0 or offs[-1] == offs[0]:
        return np.zeros(len(arr) + 1, dtype=np.int64), np.empty(0, np.uint8)
    data = np.frombuffer(data_buf, dtype=np.uint8)[offs[0] : offs[-1]]
    return offs - offs[0], data


def decode_varint_batch(arr) -> tuple[np.ndarray, np.ndarray]:
    """The decoding counterpart of ``encode_varint_batch``: every row of
    an Arrow binary column of LEB128 rows in ONE vectorized pass →
    (row-concatenated uint64 values, int64 per-row value counts), equal
    to concatenating ``decode_varint`` per row."""
    offs, data = _binary_rows(arr)
    if data.size == 0:
        return np.empty(0, dtype=np.uint64), np.zeros(len(offs) - 1, np.int64)
    vals, starts = _decode_varint_bytes(data)
    # a row's bytes hold whole values: count the value starts in each
    return vals, np.diff(np.searchsorted(starts, offs))


def decode_doc_ids_batch(arr) -> tuple[np.ndarray, np.ndarray]:
    """Batched ``decode_doc_ids`` over an Arrow binary column →
    (row-concatenated int64 doc ids, per-row counts). One uint64 cumsum
    over every delta, minus the running sum before each row's first
    value: each row restarts from its absolute first value (uint64
    arithmetic wraps, so the difference is exact)."""
    deltas, counts = decode_varint_batch(arr)
    u = np.cumsum(deltas, dtype=np.uint64)
    if u.size:
        first = np.cumsum(counts) - counts
        before = np.where(first > 0, u[np.maximum(first - 1, 0)], np.uint64(0))
        u -= np.repeat(before, counts)
    return (u - _SIGN_FLIP).astype(np.int64), counts


def decode_f32_batch(arr) -> tuple[np.ndarray, np.ndarray]:
    """Batched ``decode_f32``: (row-concatenated float32 values, per-row
    counts) of an Arrow binary column of raw float32 rows."""
    offs, data = _binary_rows(arr)
    return data.view("<f4"), np.diff(offs) // 4


def encode_varint_batch(
    values: np.ndarray, row_lengths: np.ndarray
) -> list[bytes]:
    """LEB128-encode MANY rows in one vectorized pass: `values` is the
    row-concatenated uint64 array, `row_lengths` the per-row value
    counts. Returns one bytes object per row, byte-identical to calling
    ``encode_varint`` per row — but the 10-iteration encode runs ONCE
    over the whole batch, so a million one-posting blocks cost one numpy
    pass + a million buffer slices instead of a million full encodes
    (the high-vocabulary-field build path, e.g. shingle subfields)."""
    row_lengths = np.asarray(row_lengths, dtype=np.int64)
    n_rows = len(row_lengths)
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return [b""] * n_rows
    nbytes = np.ones(v.shape, dtype=np.int64)
    for i in range(1, 10):
        nbytes += (v >= (np.uint64(1) << np.uint64(7 * i))).astype(np.int64)
    offsets = np.cumsum(nbytes) - nbytes
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    for i in range(10):
        mask = nbytes > i
        if not mask.any():
            break
        chunk = (v[mask] >> np.uint64(7 * i)) & np.uint64(0x7F)
        cont = (nbytes[mask] - 1) > i
        out[offsets[mask] + i] = chunk.astype(np.uint8) | (
            cont.astype(np.uint8) << 7
        )
    buf = out.tobytes()
    cum = np.concatenate(([0], np.cumsum(nbytes)))
    ends_v = np.cumsum(row_lengths)
    starts_v = ends_v - row_lengths
    bs = cum[starts_v]
    be = cum[ends_v]
    return [buf[s:e] for s, e in zip(bs.tolist(), be.tolist())]


def encode_doc_ids_batch(
    flat_sorted_ids: np.ndarray, row_lengths: np.ndarray
) -> list[bytes]:
    """Batched ``encode_doc_ids``: per-row delta encoding computed
    globally (each row's first value stays absolute), then one batched
    varint pass. Byte-identical to the per-row form."""
    row_lengths = np.asarray(row_lengths, dtype=np.int64)
    u = (
        np.ascontiguousarray(flat_sorted_ids, dtype=np.int64).astype(
            np.uint64
        )
        + _SIGN_FLIP
    )
    if u.size == 0:
        return [b""] * len(row_lengths)
    d = np.empty_like(u)
    d[0] = u[0]
    d[1:] = u[1:] - u[:-1]
    starts = np.cumsum(row_lengths) - row_lengths
    starts = starts[row_lengths > 0]  # empty rows have no first value
    d[starts] = u[starts]
    return encode_varint_batch(d, row_lengths)


def encode_doc_ids(sorted_doc_ids: np.ndarray) -> bytes:
    """Delta + varint encode an ascending int64 doc_id array."""
    u = sorted_doc_ids.astype(np.int64).astype(np.uint64) + _SIGN_FLIP
    deltas = np.empty_like(u)
    deltas[0:1] = u[0:1]
    deltas[1:] = u[1:] - u[:-1]
    return encode_varint(deltas)


def decode_doc_ids(buf: bytes) -> np.ndarray:
    deltas = decode_varint(buf)
    if deltas.size == 0:
        return np.empty(0, dtype=np.int64)
    u = np.cumsum(deltas, dtype=np.uint64)
    return (u - _SIGN_FLIP).astype(np.int64)


def encode_f32(vals: np.ndarray) -> bytes:
    """Raw little-endian float32 payload (sparse feature weights — the
    FeatureField analog stores one float per posting, not an int tf)."""
    return np.ascontiguousarray(vals, dtype="<f4").tobytes()


def decode_f32(buf: bytes) -> np.ndarray:
    return np.frombuffer(buf, dtype="<f4")


def encode_tfs(tfs: np.ndarray) -> bytes:
    return encode_varint(tfs.astype(np.uint64))


def decode_tfs(buf: bytes) -> np.ndarray:
    return decode_varint(buf).astype(np.int64)
