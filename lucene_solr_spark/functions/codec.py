"""Postings block codecs — Δ + FOR / PFOR bit-packing and VByte tails.

Semantics mirror the reference's Lucene84 postings format
(`codecs/lucene84/ForDeltaUtil.java:56-82`, `ForUtil.java:221`,
`PForUtil.java:49-95`, `Lucene84PostingsWriter.java:218-375`):

- full blocks of ``BLOCK_SIZE = 128`` values are bit-packed with a fixed
  per-block width (FOR); a block where every value is identical collapses
  to a 1-byte-ish header (the reference's "all 1s" special case)
- PFOR additionally patches up to 3 exception values: the width covers
  everything but the top outliers, whose high bits are stored aside
- tails shorter than 128 are VByte-encoded (the reference folds freq==1
  into the low bit of the delta; we keep freqs in their own column, so
  the tail is a plain VByte stream)

The byte layout itself is ORIGINAL to this engine (we are not writing
Lucene index files): every blob starts with a 1-byte tag. Encoding and
decoding are fully vectorized numpy (bit matrix via packbits/unpackbits).
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128

_TAG_FOR = 0      # [tag][width][packed bits]
_TAG_CONST = 1    # [tag][vbyte(value)] — all values equal
_TAG_VBYTE = 2    # [tag][vbyte stream]
_TAG_PFOR = 3     # [tag][width][n_exc][(idx, vbyte(high))...][packed bits]

_MAX_PFOR_EXCEPTIONS = 3


# --- bit packing -----------------------------------------------------------

def _pack_bits(values: np.ndarray, width: int) -> bytes:
    """Pack len(values) uints of `width` bits, MSB-first, into bytes."""
    if width == 0:
        return b""
    v = values.astype(np.uint64)
    shifts = np.arange(width - 1, -1, -1, dtype=np.uint64)
    bits = ((v[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits.ravel()).tobytes()


def _unpack_bits(buf: bytes, count: int, width: int) -> np.ndarray:
    if width == 0:
        return np.zeros(count, dtype=np.int64)
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8), count=count * width)
    bits = bits.reshape(count, width).astype(np.uint64)
    weights = (np.uint64(1) << np.arange(width - 1, -1, -1, dtype=np.uint64))
    return (bits * weights).sum(axis=1).astype(np.int64)


def _bit_width(max_value: int) -> int:
    return int(max_value).bit_length()


# --- vbyte -----------------------------------------------------------------

def vbyte_encode(values: np.ndarray) -> bytes:
    """Standard VByte: 7 data bits per byte, high bit = continuation.
    Values must be non-negative (a negative one would never terminate)."""
    vals = np.asarray(values, dtype=np.int64)
    if len(vals) and vals.min() < 0:
        raise ValueError("VByte encodes non-negative ints only")
    out = bytearray()
    for v in vals:
        v = int(v)
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    return bytes(out)


def vbyte_encode_batch(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized VByte of MANY values at once (the build hot path).

    Returns (buf, offsets): ``buf[offsets[i]:offsets[i+1]]`` is the
    encoding of ``values[i]`` — byte-identical to :func:`vbyte_encode`
    value-by-value (7 LSB-first data bits per byte, high bit =
    continuation). Callers slice contiguous runs out of ``buf`` to get
    per-run streams without any per-value Python. Values must be
    non-negative, as for :func:`vbyte_encode`.
    """
    v = np.asarray(values, dtype=np.int64)
    if len(v) == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(1, dtype=np.int64)
    if v.min() < 0:
        raise ValueError("VByte encodes non-negative ints only")
    nb = np.ones(len(v), dtype=np.int64)
    thresh = np.int64(1 << 7)
    while True:
        over = v >= thresh
        if not over.any():
            break
        nb[over] += 1
        if thresh > (np.int64(1) << 55):
            break
        thresh <<= 7
    offsets = np.zeros(len(v) + 1, dtype=np.int64)
    np.cumsum(nb, out=offsets[1:])
    buf = np.zeros(offsets[-1], dtype=np.uint8)
    for j in range(int(nb.max())):
        sel = nb > j
        idx = offsets[:-1][sel] + j
        chunk = (v[sel] >> (7 * j)) & 0x7F
        cont = (nb[sel] - 1 > j).astype(np.uint8) << 7
        buf[idx] = chunk.astype(np.uint8) | cont
    return buf, offsets


def vbyte_decode(buf: bytes, count: int) -> np.ndarray:
    """Vectorized VByte decode (no per-value Python loop)."""
    if count == 0:
        return np.zeros(0, dtype=np.int64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    ends = np.flatnonzero((raw & 0x80) == 0)[:count]
    starts = np.concatenate(([0], ends[:-1] + 1))
    # values are ≤ 2**63: at most 9 bytes each; build positional weights
    out = np.zeros(count, dtype=np.int64)
    lengths = ends - starts + 1
    for l in np.unique(lengths):
        sel = lengths == l
        idx = starts[sel][:, None] + np.arange(l)
        chunk = (raw[idx].astype(np.int64) & 0x7F)
        shifts = (np.arange(l) * 7).astype(np.int64)
        out[sel] = (chunk << shifts).sum(axis=1)
    return out


# --- block encoders --------------------------------------------------------

def encode_for(values: np.ndarray) -> bytes:
    """FOR-pack a full 128-value block (constant block collapses)."""
    v = np.asarray(values, dtype=np.int64)
    if v.min() == v.max():
        return bytes([_TAG_CONST]) + vbyte_encode(np.array([v[0]]))
    w = _bit_width(int(v.max()))
    return bytes([_TAG_FOR, w]) + _pack_bits(v, w)


def encode_pfor(values: np.ndarray) -> bytes:
    """PFOR-pack: width covers all but ≤3 outliers, patched aside."""
    v = np.asarray(values, dtype=np.int64)
    if v.min() == v.max():
        return bytes([_TAG_CONST]) + vbyte_encode(np.array([v[0]]))
    order = np.argsort(v, kind="stable")
    best_w = _bit_width(int(v.max()))
    best_n = 0
    for n in range(1, _MAX_PFOR_EXCEPTIONS + 1):
        w = _bit_width(int(v[order[-n - 1]]))
        if w < best_w:
            best_w, best_n = w, n
    if best_n == 0:
        return bytes([_TAG_FOR, best_w]) + _pack_bits(v, best_w)
    exc_idx = np.sort(order[-best_n:])
    low = v.copy()
    high = (v[exc_idx] >> best_w).astype(np.int64)
    low[exc_idx] = v[exc_idx] & ((1 << best_w) - 1)
    head = bytearray([_TAG_PFOR, best_w, best_n])
    for i, h in zip(exc_idx, high):
        head.append(int(i))
        head += vbyte_encode(np.array([h]))
    return bytes(head) + _pack_bits(low, best_w)


def encode_vbyte_tail(values: np.ndarray) -> bytes:
    return bytes([_TAG_VBYTE]) + vbyte_encode(values)


def decode_block(buf: bytes, count: int) -> np.ndarray:
    """Decode any blob produced by the encoders above."""
    tag = buf[0]
    if tag == _TAG_CONST:
        return np.full(count, vbyte_decode(buf[1:], 1)[0], dtype=np.int64)
    if tag == _TAG_FOR:
        return _unpack_bits(buf[2:], count, buf[1])
    if tag == _TAG_VBYTE:
        return vbyte_decode(buf[1:], count)
    if tag == _TAG_PFOR:
        w, n_exc = buf[1], buf[2]
        pos = 3
        exc = []
        for _ in range(n_exc):
            idx = buf[pos]
            pos += 1
            end = pos
            while buf[end] & 0x80:
                end += 1
            end += 1
            exc.append((idx, int(vbyte_decode(buf[pos:end], 1)[0])))
            pos = end
        v = _unpack_bits(buf[pos:], count, w)
        for idx, high in exc:
            v[idx] |= high << w
        return v
    raise ValueError(f"unknown block tag {tag}")


# --- posting-list level ----------------------------------------------------

def encode_block_payloads(doc_ids: np.ndarray, freqs: np.ndarray, base: int):
    """Encode one block (≤128 docs): returns (doc_blob, freq_blob).

    doc deltas: doc_ids[0]-base, then successive diffs — all ≥1 for a
    strictly increasing list with base < doc_ids[0].
    """
    d = np.asarray(doc_ids, dtype=np.int64)
    deltas = np.empty_like(d)
    deltas[0] = d[0] - base
    if len(d) > 1:
        deltas[1:] = np.diff(d)
    if len(d) == BLOCK_SIZE:
        return encode_for(deltas), encode_pfor(np.asarray(freqs, dtype=np.int64))
    return encode_vbyte_tail(deltas), encode_vbyte_tail(np.asarray(freqs, dtype=np.int64))


def decode_block_payloads(doc_blob: bytes, freq_blob: bytes, count: int, base: int):
    deltas = decode_block(doc_blob, count)
    docs = base + np.cumsum(deltas)
    freqs = decode_block(freq_blob, count)
    return docs.astype(np.int64), freqs
