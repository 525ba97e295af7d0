import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from neural_search_spark.index.codec import (
    decode_doc_ids,
    decode_varint,
    encode_doc_ids,
    encode_varint,
)


def test_varint_roundtrip_simple():
    vals = np.array([0, 1, 127, 128, 16383, 16384, 2**32, 2**63, 2**64 - 1],
                    dtype=np.uint64)
    assert np.array_equal(decode_varint(encode_varint(vals)), vals)


def test_varint_empty():
    assert decode_varint(b"").size == 0
    assert encode_varint(np.array([], dtype=np.uint64)) == b""


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
def test_varint_roundtrip_property(xs):
    vals = np.array(xs, dtype=np.uint64)
    assert np.array_equal(decode_varint(encode_varint(vals)), vals)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=1,
        max_size=300,
        unique=True,
    )
)
def test_doc_id_roundtrip_property(xs):
    ids = np.sort(np.array(xs, dtype=np.int64))
    assert np.array_equal(decode_doc_ids(encode_doc_ids(ids)), ids)


def test_batch_encode_parity_varint():
    import numpy as np

    from neural_search_spark.index.codec import (
        encode_varint,
        encode_varint_batch,
    )

    rng = np.random.default_rng(7)
    rows = [
        rng.integers(0, 2**62, size=n, dtype=np.int64).astype(np.uint64)
        for n in (0, 1, 1, 3, 0, 17, 1, 256, 0)
    ]
    flat = (
        np.concatenate([r for r in rows if r.size])
        if any(r.size for r in rows)
        else np.empty(0, np.uint64)
    )
    lens = np.array([r.size for r in rows])
    got = encode_varint_batch(flat, lens)
    assert got == [encode_varint(r) for r in rows]
    # all-empty batch
    assert encode_varint_batch(np.empty(0, np.uint64), np.array([0, 0])) == [
        b"", b"",
    ]


def test_batch_encode_parity_doc_ids():
    import numpy as np

    from neural_search_spark.index.codec import (
        encode_doc_ids,
        encode_doc_ids_batch,
    )

    rng = np.random.default_rng(11)
    rows = []
    for n in (1, 0, 5, 1, 40, 0, 2):
        ids = np.sort(
            rng.integers(-(2**62), 2**62, size=n, dtype=np.int64)
        )
        rows.append(ids)
    flat = (
        np.concatenate([r for r in rows if r.size])
        if any(r.size for r in rows)
        else np.empty(0, np.int64)
    )
    lens = np.array([r.size for r in rows])
    got = encode_doc_ids_batch(flat, lens)
    exp = [encode_doc_ids(r) if r.size else b"" for r in rows]
    assert got == exp


# ---- batched decoders: one pass over an Arrow binary column ----------


def _rows_strategy(lo, hi):
    """Rows of 0, 1 or many values, sometimes touching both bounds."""
    edge = st.sampled_from([lo, hi])
    value = st.one_of(edge, st.integers(min_value=lo, max_value=hi))
    return st.lists(
        st.one_of(
            st.just([]),
            st.lists(value, min_size=1, max_size=1),
            st.lists(value, min_size=2, max_size=40),
        ),
        max_size=12,
    )


def _arrow_forms(blobs, cut):
    """The column as one array, as a slice with a nonzero offset of a
    wider array, and as a multi-chunk ChunkedArray."""
    import pyarrow as pa

    whole = pa.array(blobs, type=pa.binary())
    padded = pa.array([b"\x05\x01"] + blobs + [b"\x7f"], type=pa.binary())
    cut = min(cut, len(blobs))
    chunked = pa.chunked_array(
        [pa.array(blobs[:cut], pa.binary()), pa.array(blobs[cut:], pa.binary())]
    )
    return {
        "array": whole,
        "offset_slice": padded.slice(1, len(blobs)),
        "chunked": chunked,
    }


@settings(max_examples=150, deadline=None)
@given(_rows_strategy(0, 2**64 - 1), st.integers(min_value=0, max_value=12))
def test_decode_varint_batch_matches_per_row(rows, cut):
    """Values ≥ 2^63 take the 10-byte varint form."""
    from neural_search_spark.index.codec import decode_varint_batch

    blobs = [encode_varint(np.array(r, dtype=np.uint64)) for r in rows]
    want = np.concatenate(
        [np.empty(0, np.uint64)] + [decode_varint(b) for b in blobs]
    )
    for form, arr in _arrow_forms(blobs, cut).items():
        vals, counts = decode_varint_batch(arr)
        assert vals.dtype == np.uint64, form
        assert np.array_equal(vals, want), form
        assert counts.tolist() == [len(r) for r in rows], form


@settings(max_examples=150, deadline=None)
@given(_rows_strategy(-(2**63), 2**63 - 1), st.integers(min_value=0, max_value=12))
def test_decode_doc_ids_batch_matches_per_row(rows, cut):
    """Each row's delta chain restarts at its own first id, across the
    whole int64 range."""
    from neural_search_spark.index.codec import decode_doc_ids_batch

    sorted_rows = [np.unique(np.array(r, dtype=np.int64)) for r in rows]
    blobs = [encode_doc_ids(r) if r.size else b"" for r in sorted_rows]
    want = np.concatenate(
        [np.empty(0, np.int64)] + [decode_doc_ids(b) for b in blobs]
    )
    for form, arr in _arrow_forms(blobs, cut).items():
        ids, counts = decode_doc_ids_batch(arr)
        assert ids.dtype == np.int64, form
        assert np.array_equal(ids, want), form
        assert counts.tolist() == [r.size for r in sorted_rows], form


def test_decode_f32_batch_matches_per_row():
    from neural_search_spark.index.codec import (
        decode_f32,
        decode_f32_batch,
        encode_f32,
    )

    rows = [np.float32([]), np.float32([1.5]), np.float32([0.25, -3.0, 7.0])]
    blobs = [encode_f32(r) for r in rows]
    want = np.concatenate([decode_f32(b) for b in blobs])
    for form, arr in _arrow_forms(blobs, 2).items():
        vals, counts = decode_f32_batch(arr)
        assert np.array_equal(vals, want), form
        assert counts.tolist() == [0, 1, 3], form


def test_decode_batch_of_empty_rows():
    import pyarrow as pa

    from neural_search_spark.index.codec import (
        decode_doc_ids_batch,
        decode_varint_batch,
    )

    for arr in (pa.array([], pa.binary()), pa.array([b"", b""], pa.binary())):
        for decode in (decode_varint_batch, decode_doc_ids_batch):
            vals, counts = decode(arr)
            assert vals.size == 0
            assert counts.tolist() == [0] * len(arr)
    assert decode_varint(b"").dtype == np.uint64
