"""Vectorized posting-block compression kernels (numpy, no per-row Python).

The reference serializes postings as fixed-width little-endian structs with
delta-gap encoding written but disabled (``sea/document.pyx:55-102``,
``sea/indexer.pyx:253-256``). Per the north rule we upgrade this to
delta-gap + LEB128-varint compressed ``BinaryType`` blocks with per-block
``max_score`` / doc-range metadata (block-max WAND skip data).

Both encode and decode are fully vectorized: the only Python-level loop is
over the (max 10) varint byte positions, independent of input size. These
kernels run inside Arrow-batched ``applyInPandas`` / ``mapInPandas`` stages.
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
# thresholds: value < 2**(7k) needs k bytes
_VARINT_BOUNDS = np.array([1 << (7 * k) for k in range(1, 10)], dtype=np.uint64)


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array -> bytes (vectorized)."""
    v = np.ascontiguousarray(values, dtype=_U64)
    if v.size == 0:
        return b""
    nbytes = (np.searchsorted(_VARINT_BOUNDS, v, side="right") + 1).astype(np.int64)
    offsets = np.zeros(v.size, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=offsets[1:])
    total = int(offsets[-1] + nbytes[-1])
    out = np.empty(total, dtype=np.uint8)
    for k in range(10):
        mask = nbytes > k
        if not mask.any():
            break
        byte = ((v[mask] >> _U64(7 * k)) & _U64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] - 1 > k).astype(np.uint8) << 7
        out[offsets[mask] + k] = byte | cont
    return out.tobytes()


def varint_decode(buf: bytes | np.ndarray) -> np.ndarray:
    """Decode LEB128 bytes -> uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, (bytes, bytearray)) else buf
    if b.size == 0:
        return np.empty(0, dtype=_U64)
    ends = (b & 0x80) == 0
    starts = np.empty(b.size, dtype=bool)
    starts[0] = True
    starts[1:] = ends[:-1]
    start_idx = np.flatnonzero(starts)
    group_id = np.cumsum(starts) - 1
    pos_in_group = np.arange(b.size, dtype=np.int64) - start_idx[group_id]
    shifted = (b & 0x7F).astype(_U64) << (7 * pos_in_group).astype(_U64)
    return np.add.reduceat(shifted, start_idx)


def delta_encode(sorted_values: np.ndarray) -> np.ndarray:
    """Delta-gap a sorted uint64 array (first value kept absolute)."""
    v = np.ascontiguousarray(sorted_values, dtype=_U64)
    out = np.empty_like(v)
    if v.size:
        out[0] = v[0]
        np.subtract(v[1:], v[:-1], out=out[1:])
    return out


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    return np.cumsum(np.ascontiguousarray(deltas, dtype=_U64), dtype=_U64)


def grouped_delta_encode(flat: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Delta-gap within each group of a flattened ragged array.

    ``flat`` holds ``counts[i]`` consecutive non-decreasing values per group;
    the first value of each group stays absolute. Used for per-posting
    position lists packed into one block buffer.
    """
    flat = np.ascontiguousarray(flat, dtype=_U64)
    counts = np.ascontiguousarray(counts, dtype=np.int64)
    if flat.size == 0:
        return flat.copy()
    out = np.empty_like(flat)
    out[0] = flat[0]
    np.subtract(flat[1:], flat[:-1], out=out[1:])
    starts = np.zeros(counts.size, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    starts = starts[counts > 0]
    out[starts] = flat[starts]
    return out


def grouped_delta_decode(deltas: np.ndarray, counts: np.ndarray) -> np.ndarray:
    deltas = np.ascontiguousarray(deltas, dtype=_U64)
    counts = np.ascontiguousarray(counts, dtype=np.int64)
    if deltas.size == 0:
        return deltas.copy()
    starts = np.zeros(counts.size, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    starts = starts[counts > 0]
    # prefix-sum, then subtract (per group) everything accumulated before the
    # group start — each group's first delta is stored absolute
    csum = np.cumsum(deltas, dtype=_U64)
    before = np.where(starts > 0, csum[starts - 1], _U64(0))
    lengths = np.diff(np.append(starts, deltas.size))
    return csum - np.repeat(before, lengths)


def varint_sizes(values: np.ndarray) -> np.ndarray:
    """Encoded byte length per value (vectorized)."""
    v = np.ascontiguousarray(values, dtype=_U64)
    return (np.searchsorted(_VARINT_BOUNDS, v, side="right") + 1).astype(
        np.int64
    )


def split_bytes(buf: bytes, offsets: np.ndarray) -> list[bytes]:
    """Cut ``buf`` at ``offsets`` (n+1 ascending byte offsets, the first
    0 and the last ``len(buf)``) into its n pieces."""
    o = offsets.tolist()
    return [buf[i:j] for i, j in zip(o[:-1], o[1:])]


def varint_encode_ragged(
    flat: np.ndarray, counts: np.ndarray
) -> list[bytes]:
    """Varint-encode a flattened ragged array and return one bytes object
    per group. Equals ``[varint_encode(g) for g in groups]`` but does ONE
    vectorized encode pass over the whole batch — the per-group form is
    what the packed posting schema stores, and varint is per-value, so
    group-wise concatenation later reproduces the identical block bytes."""
    value_ends = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=value_ends[1:])
    byte_ends = np.zeros(len(flat) + 1, dtype=np.int64)
    np.cumsum(varint_sizes(flat), out=byte_ends[1:])
    return split_bytes(varint_encode(flat), byte_ends[value_ends])


def encode_scores(scores: np.ndarray) -> bytes:
    return np.ascontiguousarray(scores, dtype="<f4").tobytes()


def decode_scores(buf: bytes) -> np.ndarray:
    return np.frombuffer(buf, dtype="<f4")
