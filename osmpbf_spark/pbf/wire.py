"""Protobuf wire-format primitives, hand-rolled (no protobuf dependency).

Implements exactly the subset of the proto2 wire encoding used by the public
OSM PBF format (fileformat.proto / osmformat.proto): varints, zigzag
(sint32/sint64), length-delimited fields, and packed repeated scalars.

The decode side is numpy-vectorized: a packed-varint buffer is decoded with
O(bytes) numpy operations and no per-value Python loop. This is the
Spark-side analogue of the reference's lazy per-element iterators
(/root/reference/src/dense.rs:148-163, /root/reference/src/elements.rs:332-348):
where the Rust engine amortizes decode cost by iterating lazily, we amortize
it by decoding whole packed columns as vectors inside an Arrow batch UDF.
"""

from __future__ import annotations

import numpy as np

_U64_MASK = (1 << 64) - 1

# Wire types (proto2)
WT_VARINT = 0
WT_I64 = 1
WT_LEN = 2
WT_I32 = 5


# ---------------------------------------------------------------------------
# Encoding (used by the deterministic fixture/scale generator)
# ---------------------------------------------------------------------------

def encode_varint(value: int) -> bytes:
    """Encode a non-negative (or 64-bit-wrapped negative) int as a varint."""
    value &= _U64_MASK
    out = bytearray()
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag_encode(value: int) -> int:
    return ((value << 1) ^ (value >> 63)) & _U64_MASK


def zigzag_decode(value: int) -> int:
    return (value >> 1) ^ -(value & 1)


def tag(field_no: int, wire_type: int) -> bytes:
    return encode_varint((field_no << 3) | wire_type)


def varint_field(field_no: int, value: int, *, zigzag: bool = False) -> bytes:
    if zigzag:
        value = zigzag_encode(value)
    return tag(field_no, WT_VARINT) + encode_varint(value)


def len_field(field_no: int, payload: bytes) -> bytes:
    return tag(field_no, WT_LEN) + encode_varint(len(payload)) + payload


def packed_field(field_no: int, values, *, zigzag: bool = False,
                 delta: bool = False) -> bytes:
    """Encode a packed repeated scalar field; optionally delta then zigzag.

    Delta+zigzag is the OSM PBF encoding for DenseNodes id/lat/lon, way refs,
    relation memids (osmformat.proto comments "DELTA coded").
    Empty input yields b"" (field omitted) — proto2 packed semantics.
    """
    vals = list(values)
    if not vals:
        return b""
    if delta:
        deltas = [vals[0]]
        for prev, cur in zip(vals, vals[1:]):
            deltas.append(cur - prev)
        vals = deltas
    body = bytearray()
    for v in vals:
        body += encode_varint(zigzag_encode(v) if zigzag else v)
    return len_field(field_no, bytes(body))


# ---------------------------------------------------------------------------
# Decoding — scalar scanner for message structure
# ---------------------------------------------------------------------------

def read_varint(buf, pos: int) -> tuple[int, int]:
    """Read one varint at ``pos``; returns (value, next_pos)."""
    result = 0
    shift = 0
    n = len(buf)
    while True:
        if pos >= n:
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if b < 0x80:
            return result & _U64_MASK, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def scan_fields(buf):
    """Yield (field_no, wire_type, value) for each top-level field of a
    message.  ``value`` is an int for VARINT fields and a memoryview slice
    for LEN fields; I32/I64 yield the raw slice.  Unknown wire types raise.
    """
    view = memoryview(buf)
    pos = 0
    end = len(view)
    while pos < end:
        key, pos = read_varint(view, pos)
        field_no = key >> 3
        wt = key & 7
        if wt == WT_VARINT:
            value, pos = read_varint(view, pos)
        elif wt == WT_LEN:
            length, pos = read_varint(view, pos)
            value = view[pos:pos + length]
            if len(value) != length:
                raise ValueError("truncated LEN field")
            pos += length
        elif wt == WT_I64:
            value = view[pos:pos + 8]
            pos += 8
        elif wt == WT_I32:
            value = view[pos:pos + 4]
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield field_no, wt, value


# ---------------------------------------------------------------------------
# Decoding — vectorized packed varints
# ---------------------------------------------------------------------------

_EMPTY_U64 = np.empty(0, dtype=np.uint64)


def decode_packed_u64(buf) -> np.ndarray:
    """Decode a packed-varint buffer to uint64, fully vectorized.

    Algorithm: each byte contributes its low 7 bits shifted by 7*position
    within its varint; ``np.add.reduceat`` sums each varint's contributions.
    uint64 wrap-around matches protobuf 64-bit truncation semantics.
    """
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return _EMPTY_U64
    low = (b & 0x7F).astype(np.uint64)
    is_end = b < 0x80
    if not is_end[-1]:
        raise ValueError("truncated varint at end of packed buffer")
    ends = np.flatnonzero(is_end)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    if lengths.max() > 10:
        raise ValueError("varint longer than 10 bytes")
    # position of each byte within its varint
    pos_in_group = np.arange(b.size, dtype=np.int64) - np.repeat(starts, lengths)
    shifted = low << (7 * pos_in_group.astype(np.uint64))
    return np.add.reduceat(shifted, starts)


def unzigzag(values: np.ndarray) -> np.ndarray:
    """Vectorized zigzag decode uint64 -> int64."""
    return ((values >> np.uint64(1)).astype(np.int64)
            ^ -(values & np.uint64(1)).astype(np.int64))


def decode_packed_sint64_delta(buf) -> np.ndarray:
    """DELTA-coded packed sint64 (DenseNodes id/lat/lon, way refs, memids):
    zigzag decode then cumulative sum (/root/reference/src/dense.rs:148-151).
    """
    return np.cumsum(unzigzag(decode_packed_u64(buf)), dtype=np.int64)


def decode_packed_int64(buf) -> np.ndarray:
    """Plain (two's-complement) packed int64/int32/enums/bools as int64."""
    return decode_packed_u64(buf).astype(np.int64)


# ---------------------------------------------------------------------------
# Segmented batch decoding — many packed buffers in ONE numpy pass
# ---------------------------------------------------------------------------
# The per-message operators (way refs, relation memids, tag id arrays) would
# otherwise pay numpy-call overhead per element; joining all buffers of a
# group and decoding once turns ~10k ways/s into millions/s.

def decode_packed_u64_segments(bufs: list) -> tuple[np.ndarray, np.ndarray]:
    """Decode a list of packed-varint buffers in one vectorized pass.

    Returns (values, seg_lengths): all varint values concatenated, plus the
    number of values contributed by each input buffer (0 for empty bufs).
    """
    if not bufs:
        return _EMPTY_U64, np.empty(0, dtype=np.int64)
    byte_lens = np.fromiter((len(x) for x in bufs), dtype=np.int64,
                            count=len(bufs))
    joined = b"".join(bytes(x) for x in bufs)
    values = decode_packed_u64(joined)
    if len(joined) == 0:
        return values, np.zeros(len(bufs), dtype=np.int64)
    b = np.frombuffer(joined, dtype=np.uint8)
    is_end = (b < 0x80).astype(np.int64)
    cum_ends = np.concatenate(([np.int64(0)], np.cumsum(is_end)))
    offs = np.concatenate(([np.int64(0)], np.cumsum(byte_lens)))
    # fail-fast guard: every NONEMPTY buffer must end on a varint
    # terminator, else a dangling continuation byte silently merges its
    # value into the NEXT buffer's first varint — wrong refs/memids for
    # two elements with no error (single-buffer decode_packed_u64 catches
    # this; the joined pass must too)
    ends = offs[1:][byte_lens > 0]
    if ends.size and not (b[ends - 1] < 0x80).all():
        raise ValueError("truncated varint at packed-field segment end")
    seg_lengths = cum_ends[offs[1:]] - cum_ends[offs[:-1]]
    return values, seg_lengths


def segmented_cumsum(vals: np.ndarray, seg_lengths: np.ndarray) -> np.ndarray:
    """Per-segment cumulative sum (delta decode restarting at each segment
    boundary) without a Python loop: global cumsum minus the carried
    prefix at each segment start."""
    if vals.size == 0:
        return vals.astype(np.int64)
    cs = np.cumsum(vals, dtype=np.int64)
    nz = seg_lengths[seg_lengths > 0]
    starts = np.cumsum(nz) - nz
    base = np.where(starts > 0, cs[starts - 1], 0)
    return cs - np.repeat(base, nz)


# ---------------------------------------------------------------------------
# Lockstep-vectorized message scanner (r6, guide §1.2 step 2)
# ---------------------------------------------------------------------------
# The per-message field walk (scan_fields) was the measured hot spot of
# way-group decode: ~7 generator yields + 2 scalar varint reads per Way
# cost more than all of the group's vectorized packed-column work
# combined. scan_messages_vec advances EVERY message of a group through
# its fields in lockstep — one numpy gather per (field, varint byte)
# step across all messages — so the scan cost is O(max fields per
# message) vector passes instead of O(total fields) Python iterations.
# Semantics mirror scan_fields exactly: last occurrence wins for a
# repeated field, unknown fields are skipped by wire type, unsupported
# wire types / truncated varints raise the same errors.

def _vec_varint(big: np.ndarray, cur: np.ndarray, ends: np.ndarray,
                mask: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Read one varint per active lane at ``cur``; returns
    (values uint64, advanced cursors). Lanes outside ``mask`` are
    untouched (value 0, cursor unchanged)."""
    n = big.shape[0]
    val = np.zeros(cur.shape[0], dtype=np.uint64)
    pos = cur.copy()
    act = mask.copy()
    for j in range(10):
        if not act.any():
            return val, pos
        if (pos[act] >= ends[act]).any() or (pos[act] >= n).any():
            raise ValueError("truncated varint")
        b = big[pos[act]]
        val[act] |= (b.astype(np.uint64) & np.uint64(0x7F)) \
            << np.uint64(7 * j)
        pos[act] += 1
        nxt = np.zeros_like(act)
        nxt[act] = b >= 0x80
        act = nxt
    if act.any():
        raise ValueError("varint too long")
    return val, pos


def scan_messages_vec(bufs: list, *, varint_fields: tuple,
                      len_fields: tuple):
    """Scan many top-level messages in lockstep.

    Returns ``(joined, vals, spans)``:

    - ``joined`` — the concatenated message bytes as a uint8 array;
    - ``vals``   — {field_no: uint64 array}, the LAST varint value of
      that field per message (0 where absent), for ``varint_fields``;
    - ``spans``  — {field_no: (starts, lens, present)} indexing the
      LAST LEN payload of that field per message into ``joined``
      (len 0 where absent; ``present`` distinguishes an ABSENT field
      from a present-but-empty payload — Info semantics need it), for
      ``len_fields``.
    """
    n = len(bufs)
    byte_lens = np.fromiter((len(x) for x in bufs), dtype=np.int64,
                            count=n)
    joined = b"".join(bytes(x) for x in bufs)
    big = np.frombuffer(joined, dtype=np.uint8)
    offs = np.concatenate(([np.int64(0)], np.cumsum(byte_lens)))
    cur = offs[:-1].copy()
    ends = offs[1:]
    vals = {f: np.zeros(n, dtype=np.uint64) for f in varint_fields}
    spans = {f: (np.zeros(n, dtype=np.int64), np.zeros(n, dtype=np.int64),
                 np.zeros(n, dtype=bool))
             for f in len_fields}
    active = cur < ends
    while active.any():
        key, cur = _vec_varint(big, cur, ends, active)
        fno = (key >> np.uint64(3)).astype(np.int64)
        wt = (key & np.uint64(7)).astype(np.int64)
        m_v = active & (wt == WT_VARINT)
        if m_v.any():
            v, cur = _vec_varint(big, cur, ends, m_v)
            for f in varint_fields:
                mf = m_v & (fno == f)
                vals[f][mf] = v[mf]
        m_l = active & (wt == WT_LEN)
        if m_l.any():
            ln_u, cur = _vec_varint(big, cur, ends, m_l)
            ln = ln_u.astype(np.int64)
            if (ln[m_l] < 0).any():
                raise ValueError("LEN field too long")
            for f in len_fields:
                mf = m_l & (fno == f)
                spans[f][0][mf] = cur[mf]
                spans[f][1][mf] = ln[mf]
                spans[f][2][mf] = True
            cur = np.where(m_l, cur + ln, cur)
        cur = np.where(active & (wt == WT_I64), cur + 8, cur)
        cur = np.where(active & (wt == WT_I32), cur + 4, cur)
        bad = active & ~np.isin(wt, (WT_VARINT, WT_LEN, WT_I64, WT_I32))
        if bad.any():
            raise ValueError(
                f"unsupported wire type {int(wt[bad][0])}")
        if (cur[active] > ends[active]).any():
            raise ValueError("truncated LEN field")
        active = active & (cur < ends)
    return big, vals, spans


def decode_packed_u64_spans(big: np.ndarray, starts: np.ndarray,
                            lens: np.ndarray
                            ) -> tuple[np.ndarray, np.ndarray]:
    """Like :func:`decode_packed_u64_segments`, but over (starts, lens)
    spans into an already-materialized uint8 array — no per-message
    bytes objects, one gather + one vectorized decode."""
    if starts.size == 0:
        return _EMPTY_U64, np.empty(0, dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return _EMPTY_U64, np.zeros(starts.size, dtype=np.int64)
    goffs = np.concatenate(([np.int64(0)], np.cumsum(lens)))
    idx = np.repeat(starts - goffs[:-1], lens) + np.arange(total)
    b = big[idx]
    values = decode_packed_u64(b.tobytes())
    is_end = (b < 0x80).astype(np.int64)
    cum = np.concatenate(([np.int64(0)], np.cumsum(is_end)))
    nz = lens > 0
    gends = goffs[1:][nz]
    if gends.size and not (b[gends - 1] < 0x80).all():
        raise ValueError("truncated varint at packed-field segment end")
    return values, cum[goffs[1:]] - cum[goffs[:-1]]
