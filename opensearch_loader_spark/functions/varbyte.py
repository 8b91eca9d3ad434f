"""Delta-gap + varbyte posting-list codecs (numpy-vectorized).

North-rule requirement: "(term, docID, tf) postings, delta-gap + varbyte
compressed posting lists with per-block max-score metadata". These codecs run
*inside* Arrow-batched pandas UDFs (block packing / query-time
decoding), so they are pure numpy — no per-row Python in the hot path
(driver input_hint).

Encoding: classic varbyte (VB) — each uint64 is split into 7-bit groups,
little-endian group order, high bit set on the *last* byte of each value
(the Manning/Raghavan/Schütze IR-book convention). Delta-gap: first value
stored absolute, subsequent values store ``v[i] - v[i-1]`` (strictly
increasing docIDs ⇒ gaps ≥ 1; we do not subtract the extra 1 so the codec
also round-trips tf streams, which are encoded without delta).
"""

from __future__ import annotations

import numpy as np


def delta_encode(values: np.ndarray) -> np.ndarray:
    """Strictly-increasing uint64 array → gap array (first kept absolute)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return v
    out = np.empty_like(v)
    out[0] = v[0]
    np.subtract(v[1:], v[:-1], out=out[1:])
    return out


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    """Inverse of :func:`delta_encode` (cumulative sum)."""
    g = np.asarray(gaps, dtype=np.uint64)
    return np.cumsum(g, dtype=np.uint64)


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encode of a uint64 array.

    Builds all 7-bit groups for all values at once (max 10 groups for
    uint64), masks out leading zero groups, and emits bytes in one
    ``tobytes`` — no Python loop over values.
    """
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # All 7-bit groups for all values at once (10 groups cover uint64),
    # little-endian group order; vectorized across values.
    groups = np.empty((10, v.size), dtype=np.uint8)
    rem = v.copy()
    for g in range(10):
        groups[g] = (rem & np.uint64(0x7F)).astype(np.uint8)
        rem >>= np.uint64(7)
    ngroups = np.ones(v.size, dtype=np.int64)
    for g in range(1, 10):
        ngroups[v >= (np.uint64(1) << np.uint64(7 * g))] = g + 1
    # emit little-endian groups 0..ngroups-1, terminator bit on last group
    total = int(ngroups.sum())
    out = np.empty(total, dtype=np.uint8)
    pos = np.concatenate(([0], np.cumsum(ngroups)))[:-1]
    for g in range(10):
        sel = ngroups > g
        if not sel.any():
            break
        idx = pos[sel] + g
        byte = groups[g, sel]
        last = ngroups[sel] == (g + 1)
        byte = byte | (last.astype(np.uint8) << 7)
        out[idx] = byte
    return out.tobytes()


def varbyte_encode_segments(
    values: np.ndarray, seg_starts: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """Encode a CONCATENATION of segments in one vectorized pass.

    Returns (blob, offsets) with len(offsets) == len(seg_starts)+1 such that
    ``blob[offsets[i]:offsets[i+1]] == varbyte_encode(values[s_i:s_{i+1}])``
    — valid because varbyte encodes each value independently, so a segment's
    encoding is exactly the slice of the whole-array encoding at its values'
    byte offsets. This removes the per-call overhead that dominated when
    encoding many small segments (measured 133 µs per 128-value
    varbyte_encode call vs one pass over the full array): block packing and
    partial-run flushing encode thousands of segments per task.
    """
    v = np.asarray(values, dtype=np.uint64)
    seg_starts = np.asarray(seg_starts, dtype=np.int64)
    if v.size == 0:
        return b"", np.zeros(len(seg_starts) + 1, dtype=np.int64)
    groups = np.empty((10, v.size), dtype=np.uint8)
    rem = v.copy()
    for g in range(10):
        groups[g] = (rem & np.uint64(0x7F)).astype(np.uint8)
        rem >>= np.uint64(7)
    ngroups = np.ones(v.size, dtype=np.int64)
    for g in range(1, 10):
        ngroups[v >= (np.uint64(1) << np.uint64(7 * g))] = g + 1
    total = int(ngroups.sum())
    out = np.empty(total, dtype=np.uint8)
    cum = np.concatenate(([0], np.cumsum(ngroups)))
    offsets = np.append(cum[seg_starts], total)
    pos = cum[:-1]
    for g in range(10):
        sel = ngroups > g
        if not sel.any():
            break
        idx = pos[sel] + g
        byte = groups[g, sel]
        last = ngroups[sel] == (g + 1)
        byte = byte | (last.astype(np.uint8) << 7)
        out[idx] = byte
    return out.tobytes(), offsets


def delta_encode_segments(
    values: np.ndarray, seg_starts: np.ndarray
) -> np.ndarray:
    """Segmented delta-gap: per segment, first value absolute, rest gaps —
    one vectorized pass, equivalent to delta_encode per segment."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return v
    out = np.empty_like(v)
    out[0] = v[0]
    np.subtract(v[1:], v[:-1], out=out[1:])
    seg_starts = np.asarray(seg_starts, dtype=np.int64)
    # zero-length trailing segments put a seg_start AT len(values) — mask
    # them out so encode tolerates exactly what delta_decode_segments was
    # hardened for (ADVICE r5: the contract was asymmetric)
    valid = seg_starts[seg_starts < v.size]
    out[valid] = v[valid]
    return out


def delta_decode_segments(gaps: np.ndarray, seg_lengths: np.ndarray) -> np.ndarray:
    """Inverse of delta_encode_segments given per-segment value counts:
    global cumsum minus the running total before each segment's start.

    Tolerates zero-length segments (ADVICE r4): prior-per-segment indexes a
    zero-padded cumsum at each segment's START offset, so an empty segment
    contributes nothing and never corrupts its successor's prior (the old
    ``cs[ends[:-1] - 1]`` read ``cs[-1]`` — the grand total — when a
    previous end was 0)."""
    g = np.asarray(gaps, dtype=np.uint64)
    if g.size == 0:
        return g
    n = np.asarray(seg_lengths, dtype=np.int64)
    cs = np.cumsum(g, dtype=np.uint64)
    padded = np.concatenate((np.zeros(1, dtype=np.uint64), cs))
    ends = np.cumsum(n)
    prior = padded[ends - n]  # cumsum value just before each segment start
    seg_of = np.repeat(np.arange(len(n)), n)
    return cs - prior[seg_of]


def varbyte_decode(data: bytes) -> np.ndarray:
    """Vectorized varbyte decode → uint64 array."""
    b = np.frombuffer(data, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) != 0
    payload = (b & 0x7F).astype(np.uint64)
    # value id for each byte = count of terminators strictly before it
    vid = np.concatenate(([0], np.cumsum(is_last)))[:-1]
    n_vals = int(is_last.sum())
    # group position within each value = index - first index of that value
    starts = np.concatenate(([0], np.nonzero(is_last)[0][:-1] + 1))
    shift = (np.arange(b.size) - starts[vid]).astype(np.uint64) * np.uint64(7)
    out = np.zeros(n_vals, dtype=np.uint64)
    np.add.at(out, vid, payload << shift)
    return out
