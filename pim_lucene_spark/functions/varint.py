"""Vectorized varint / zigzag codecs (numpy, no per-value Python loops).

Wire format matches Lucene's ``DataOutput.writeVInt/writeVLong/writeZInt``:
little-endian base-128 with a continuation bit in 0x80; ZInt is the zigzag
transform ``(i << 1) ^ (i >> 31)`` followed by VInt.  Used by the postings
codecs (see :mod:`pim_lucene_spark.functions.postings`), reproducing the
reference's delta+varint compression semantics
(``PimIndexWriter.java:850-893``).

Neither direction loops over values: encode loops over *byte positions*
(<= 10 iterations) and decode makes a fixed number of array passes, so
both stay O(bytes) numpy work.
"""

from __future__ import annotations

import numpy as np

_SEVEN = np.uint64(7)
_MASK7 = np.uint64(0x7F)
_ENCODE_CHUNK_BYTES = 1 << 27  # peak matrix budget for encode_uvarints


def uvarint_byte_lengths(values: np.ndarray) -> np.ndarray:
    """Per-value encoded byte length (1..10) of unsigned varints."""
    vals = np.asarray(values, dtype=np.uint64)
    nbytes = np.ones(vals.size, dtype=np.int64)
    for k in range(1, 10):
        more = vals >= (np.uint64(1) << np.uint64(7 * k))
        if not more.any():
            break
        nbytes += more
    return nbytes


def encode_uvarints(values: np.ndarray,
                    nbytes: np.ndarray | None = None) -> np.ndarray:
    """Encode an array of unsigned ints as concatenated varints → uint8 array.

    ``nbytes`` (optional) is the per-value encoded byte length as returned
    by :func:`pim_lucene_spark.functions.postings.uvarint_byte_lengths`;
    callers that already computed it (the build/merge encode kernel needs
    the lengths for its per-row byte offsets anyway) pass it in to skip
    recomputation.

    Writes a transposed (value, byte-slot) uint8 matrix with column-wise
    shifts, then compresses the valid slots row-major — one sequential
    pass instead of one fancy-index scatter per byte slot (2-40× faster,
    the all-1-byte case degenerating to a single ``astype``).
    """
    vals = np.ascontiguousarray(values, dtype=np.uint64)
    n = vals.size
    if n == 0:
        return np.empty(0, dtype=np.uint8)
    if nbytes is None:
        nbytes = uvarint_byte_lengths(vals)
    else:
        nbytes = np.asarray(nbytes, dtype=np.int64)
    max_b = int(nbytes.max())
    if max_b == 1:
        return vals.astype(np.uint8)
    # cap peak working memory (matrix + mask are n·max_b each): a few
    # wide outliers in a huge mostly-1-byte stream must not allocate
    # max_b× the stream size — chunk and concatenate instead
    step = max(_ENCODE_CHUNK_BYTES // max_b, 1024)
    if n > step:
        return np.concatenate([
            encode_uvarints(vals[i:i + step], nbytes[i:i + step])
            for i in range(0, n, step)])
    mat = np.empty((n, max_b), dtype=np.uint8)
    for j in range(max_b):
        mat[:, j] = ((vals >> np.uint64(7 * j)) & _MASK7).astype(np.uint8)
    cols = np.arange(max_b, dtype=np.int64)[None, :]
    valid = cols < nbytes[:, None]
    cont = valid.copy()
    cont[np.arange(n), nbytes - 1] = False  # last byte of each value
    mat[cont] |= 0x80  # continuation bits
    return mat[valid]


def decode_uvarints(buf: bytes | np.ndarray) -> np.ndarray:
    """Decode a buffer of concatenated varints → uint64 array.

    Single-byte values (the overwhelming case for delta-compressed doc
    gaps, term freqs, and position gaps) decode as one ``astype``.
    Otherwise each byte's 7 payload bits are shifted by its slot within
    its value and every value's bytes are OR-reduced in one
    ``reduceat`` — a fixed handful of array passes whatever the value
    widths, so a request-sized stream of a few hundred bytes costs tens
    of microseconds, not one pass per byte slot.
    """
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    cont = b >= 0x80
    if cont[-1]:
        raise ValueError("truncated varint stream")
    if not cont.any():  # every value fits one byte
        return b.astype(np.uint64)
    ends = np.flatnonzero(~cont)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    slot = np.arange(b.size) - np.repeat(starts, ends - starts + 1)
    vals = (b & 0x7F).astype(np.uint64) << (_SEVEN * slot.astype(np.uint64))
    return np.bitwise_or.reduceat(vals, starts)


def zigzag_encode(values: np.ndarray) -> np.ndarray:
    """Signed int32 → zigzag uint (Lucene ZInt transform)."""
    v = np.asarray(values, dtype=np.int64)
    return ((v << 1) ^ (v >> 63)).astype(np.uint64)


def zigzag_decode(values: np.ndarray) -> np.ndarray:
    """Zigzag uint → signed int64."""
    v = np.asarray(values, dtype=np.uint64)
    return (v >> np.uint64(1)).astype(np.int64) ^ -(v & np.uint64(1)).astype(np.int64)


def delta_encode(sorted_values: np.ndarray, first_delta_from: int = 0) -> np.ndarray:
    """Strictly/weakly increasing ints → gaps (first gap relative to base)."""
    v = np.asarray(sorted_values, dtype=np.int64)
    if v.size == 0:
        return v.astype(np.uint64)
    out = np.empty_like(v)
    out[0] = v[0] - first_delta_from
    np.subtract(v[1:], v[:-1], out=out[1:])
    if np.any(out < 0):
        raise ValueError("delta_encode requires sorted input")
    return out.astype(np.uint64)


def delta_decode(gaps: np.ndarray, first_delta_from: int = 0) -> np.ndarray:
    """Inverse of :func:`delta_encode`."""
    g = np.asarray(gaps, dtype=np.int64)
    if g.size == 0:
        return g
    out = np.cumsum(g)
    if first_delta_from:
        out += first_delta_from
    return out
