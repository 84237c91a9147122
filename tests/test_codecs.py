"""Unit tests: SmallFloat norm codec, varint/delta codecs, postings codecs."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pim_lucene_spark.functions.postings import (
    decode_columnar,
    decode_interleaved,
    encode_columnar,
    encode_interleaved,
    segmented_cumsum,
    segmented_delta,
    uvarint_byte_lengths,
)
from pim_lucene_spark.functions.smallfloat import (
    LENGTH_TABLE,
    byte4_to_int,
    int_to_byte4,
    norm_inverse_cache,
    quantize_norm_inverse,
)
from pim_lucene_spark.functions.varint import (
    decode_uvarints,
    delta_decode,
    delta_encode,
    encode_uvarints,
    zigzag_decode,
    zigzag_encode,
)


# --- SmallFloat (SmallFloat.java:103-167 semantics) ------------------------

def java_int_to_byte4(i: int) -> int:
    """Scalar transliteration used as oracle for the vectorized version."""
    NUM_FREE_VALUES = 24

    def long_to_int4(v):
        num_bits = v.bit_length()
        if num_bits < 4:
            return v
        shift = num_bits - 4
        return ((v >> shift) & 0x07) | ((shift + 1) << 3)

    if i < NUM_FREE_VALUES:
        return i
    return NUM_FREE_VALUES + long_to_int4(i - NUM_FREE_VALUES)


def java_byte4_to_int(b: int) -> int:
    NUM_FREE_VALUES = 24

    def int4_to_long(v):
        bits = v & 0x07
        shift = (v >> 3) - 1
        if shift == -1:
            return bits
        return (bits | 0x08) << shift

    if b < NUM_FREE_VALUES:
        return b
    return NUM_FREE_VALUES + int4_to_long(b - NUM_FREE_VALUES)


def test_byte4_matches_scalar_oracle_exhaustive_small():
    vals = np.arange(0, 100000)
    enc = int_to_byte4(vals)
    expected = np.array([java_int_to_byte4(int(v)) for v in range(0, 100000)])
    np.testing.assert_array_equal(enc.astype(np.int64), expected)


def test_byte4_roundtrip_monotone_lossy():
    vals = np.array([0, 1, 23, 24, 25, 100, 255, 1000, 2**20, 2**31 - 1])
    enc = int_to_byte4(vals)
    dec = byte4_to_int(enc)
    # decoded value never exceeds the original and re-encodes identically
    assert np.all(dec <= vals)
    np.testing.assert_array_equal(int_to_byte4(dec), enc)
    # exact below NUM_FREE_VALUES
    np.testing.assert_array_equal(byte4_to_int(int_to_byte4(np.arange(24))), np.arange(24))


def test_length_table_matches_decode():
    # Lucene stores the decoded lengths in a float[] (BM25Similarity.java:123),
    # so the table entries are the int values rounded to float32.
    np.testing.assert_array_equal(
        LENGTH_TABLE,
        np.array([java_byte4_to_int(i) for i in range(256)], dtype=np.float32),
    )
    np.testing.assert_array_equal(
        byte4_to_int(np.arange(256)),
        np.array([java_byte4_to_int(i) for i in range(256)]),
    )


def test_norm_inverse_quantization_reference_rounding():
    # PimIndexWriter.java:468-484: qf = int(256/max), q = ceil(c*qf) & 0xFF
    cache = norm_inverse_cache(avgdl=7.5)
    qf, quant = quantize_norm_inverse(cache)
    assert cache.dtype == np.float32
    assert qf == int(np.float32(256.0) / np.float32(cache.max()))
    idx = np.argmax(cache)
    assert quant[idx] == (int(np.ceil(cache[idx] * np.float32(qf))) & 0xFF)
    # admissibility: quant/qf >= cache wherever no 0xFF wraparound happened
    no_wrap = np.ceil(cache * np.float32(qf)) < 256
    assert np.all(quant[no_wrap].astype(np.float64) / qf >= cache[no_wrap].astype(np.float64) - 1e-9)


# --- varint -----------------------------------------------------------------

@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=200))
def test_uvarint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    enc = encode_uvarints(arr)
    dec = decode_uvarints(enc.tobytes())
    np.testing.assert_array_equal(dec, arr)
    assert len(enc) == int(uvarint_byte_lengths(arr).sum()) if len(values) else len(enc) == 0


def test_uvarint_wire_format():
    # classic LEB128 examples
    assert encode_uvarints(np.array([0], np.uint64)).tobytes() == b"\x00"
    assert encode_uvarints(np.array([127], np.uint64)).tobytes() == b"\x7f"
    assert encode_uvarints(np.array([128], np.uint64)).tobytes() == b"\x80\x01"
    assert encode_uvarints(np.array([300], np.uint64)).tobytes() == b"\xac\x02"


def test_uvarint_decode_widths_and_truncation():
    # every width 1..10 bytes, mixed in one stream, including 2**64 - 1
    vals = np.array([0, 127, 128, 300, 2**14, 2**21 + 5, 2**28, 2**35,
                     2**42 - 1, 2**42, 2**49, 2**56 + 1, 2**63, 2**64 - 1, 1],
                    dtype=np.uint64)
    assert set(uvarint_byte_lengths(vals).tolist()) == set(range(1, 11))
    for order in (vals, vals[::-1]):
        enc = encode_uvarints(order).tobytes()
        np.testing.assert_array_equal(decode_uvarints(enc), order)
    assert decode_uvarints(b"").size == 0
    with pytest.raises(ValueError, match="truncated"):
        decode_uvarints(b"\xac\x02\x80")


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1), max_size=100))
def test_zigzag_roundtrip(values):
    arr = np.array(values, dtype=np.int64)
    np.testing.assert_array_equal(zigzag_decode(zigzag_encode(arr)), arr)


def test_delta_roundtrip():
    v = np.array([3, 7, 7, 10, 100])
    np.testing.assert_array_equal(delta_decode(delta_encode(v)), v)
    with pytest.raises(ValueError):
        delta_encode(np.array([5, 3]))


def test_segmented_delta_cumsum():
    vals = np.array([5, 9, 12, 2, 4, 30])
    mask = np.array([True, False, False, True, False, False])
    gaps = segmented_delta(vals, mask)
    np.testing.assert_array_equal(gaps, [5, 4, 3, 2, 2, 26])
    np.testing.assert_array_equal(segmented_cumsum(gaps, np.array([0, 3])), vals)


# --- postings codecs ---------------------------------------------------------

def _random_postings(rng, num_partitions=4, num_segments=3, ndocs=40, total_docs=200):
    abs_docs = np.sort(rng.choice(np.arange(0, total_docs, num_partitions), size=ndocs, replace=False))
    rel_docs = abs_docs // num_partitions
    nb_per_seg = -(-total_docs // num_segments)
    seg_ids = abs_docs // nb_per_seg
    freqs = rng.integers(1, 6, size=ndocs)
    positions = np.concatenate([
        np.sort(rng.choice(1000, size=f, replace=False)) for f in freqs
    ])
    return rel_docs, freqs.astype(np.int64), positions.astype(np.int64), seg_ids, num_segments


def test_columnar_roundtrip():
    rng = np.random.default_rng(7)
    for trial in range(10):
        rel, fr, pos, seg, S = _random_postings(rng, ndocs=int(rng.integers(1, 50)))
        enc = encode_columnar(rel, fr, pos, seg, S)
        dec = decode_columnar(enc["doc_blob"], enc["freq_blob"], enc["pos_blob"],
                              enc["seg_doc_counts"])
        np.testing.assert_array_equal(dec.rel_docs, rel)
        np.testing.assert_array_equal(dec.freqs, fr)
        np.testing.assert_array_equal(dec.positions, pos)
        assert enc["df"] == len(rel)
        assert enc["ttf"] == int(fr.sum())
        assert int(np.sum(enc["seg_doc_counts"])) == len(rel)
        # skip data adds up to the blob sizes
        assert int(np.sum(enc["seg_doc_bytes"])) == len(enc["doc_blob"])
        assert int(np.sum(enc["seg_pos_bytes"])) == len(enc["pos_blob"])


def test_columnar_empty():
    enc = encode_columnar(np.empty(0, np.int64), np.empty(0, np.int64),
                          np.empty(0, np.int64), np.empty(0, np.int64), 4)
    dec = decode_columnar(enc["doc_blob"], enc["freq_blob"], enc["pos_blob"],
                          enc["seg_doc_counts"])
    assert dec.rel_docs.size == 0 and dec.positions.size == 0


def test_interleaved_roundtrip_matches_columnar():
    rng = np.random.default_rng(11)
    for trial in range(5):
        rel, fr, pos, seg, S = _random_postings(rng, ndocs=int(rng.integers(1, 50)))
        blob, seg_sizes = encode_interleaved(rel, fr, pos, seg, S)
        dec = decode_interleaved(blob, seg_sizes)
        np.testing.assert_array_equal(dec.rel_docs, rel)
        np.testing.assert_array_equal(dec.freqs, fr)
        np.testing.assert_array_equal(dec.positions, pos)


def test_slice_segments_masked_decode():
    """Per-segment skip sizes let any segment subset be sought and decoded
    independently (PimIndexWriter.java:903-916; matcher.c:31-35)."""
    import numpy as np
    from pim_lucene_spark.functions.postings import (
        decode_columnar, encode_columnar, slice_segments)

    rng = np.random.RandomState(3)
    num_segments = 5
    nb_per_seg = 20
    rel = np.sort(rng.choice(100, size=40, replace=False))
    abs_doc = rel  # partition of 1
    segs = abs_doc // nb_per_seg
    freqs = rng.randint(1, 5, size=rel.size)
    positions = np.concatenate(
        [np.sort(rng.choice(50, size=f, replace=False)) for f in freqs])
    enc = encode_columnar(rel, freqs, positions, segs, num_segments)

    for mask_bits in [(1, 1, 1, 1, 1), (1, 0, 1, 0, 1), (0, 0, 0, 0, 1),
                      (0, 1, 0, 0, 0)]:
        mask = np.array(mask_bits, dtype=bool)
        blobs = slice_segments(enc["doc_blob"], enc["freq_blob"],
                               enc["pos_blob"], enc["seg_doc_counts"],
                               enc["seg_doc_bytes"], enc["seg_freq_bytes"],
                               enc["seg_pos_bytes"], mask)
        tp = decode_columnar(*blobs)
        keep = mask[segs]
        np.testing.assert_array_equal(tp.rel_docs, rel[keep])
        np.testing.assert_array_equal(tp.freqs, freqs[keep])
        off = np.concatenate([[0], np.cumsum(freqs)])
        exp_pos = np.concatenate(
            [positions[off[i]:off[i + 1]] for i in np.flatnonzero(keep)]
        ) if keep.any() else np.empty(0, dtype=np.int64)
        np.testing.assert_array_equal(tp.positions, exp_pos)
