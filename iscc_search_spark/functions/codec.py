"""Posting-list codecs: docID delta + varbyte AND frame-of-reference (FOR)
bitpacking, numpy-vectorized.

The compressed-posting analogue of the reference's LMDB dupsort pages
(sorted duplicate doc-id runs per term key,
iscc_search/indexes/lmdb/index.py:395-422): ascending doc_ids are
delta-encoded (in sign-flipped uint64 space — doc_ids are signed 64-bit
blake2b prefixes) and LEB128-varbyte packed; term frequencies are varbyte
packed in parallel.

Both encode and decode are numpy-vectorized: the per-value work is a loop
over *byte positions* (≤10 iterations of whole-array ops), never over
values — the Arrow-batch discipline mandated by the input_hint ("no
per-row Python").
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
_MAX_VARBYTE_LEN = 10


def varbyte_lengths(values: np.ndarray) -> np.ndarray:
    """Encoded byte length per value (vectorized)."""
    v = values.astype(np.uint64, copy=True)
    bits = np.zeros(len(v), dtype=np.int64)
    nonzero = v != 0
    while nonzero.any():
        bits[nonzero] += 1
        v >>= _U64(7)
        nonzero = v != 0
    return np.maximum(bits, 1)


def varbyte_encode_batch(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode a uint64 array; returns (buffer, per-value byte offsets of
    length n+1) so callers can slice out contiguous sub-ranges — the
    whole-group encode path (one vectorized pass for ~10^5 blocks instead
    of one numpy call per block)."""
    n = len(values)
    if n == 0:
        return b"", np.zeros(1, dtype=np.int64)
    nbytes = varbyte_lengths(values)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offsets[1:])
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    pos = offsets[:-1]
    rem = values.astype(np.uint64, copy=True)
    for k in range(_MAX_VARBYTE_LEN):
        mask = nbytes > k
        if not mask.any():
            break
        byte = (rem[mask] & _U64(0x7F)).astype(np.uint8)
        more = (nbytes[mask] > k + 1).astype(np.uint8) << 7
        out[pos[mask] + k] = byte | more
        rem[mask] >>= _U64(7)
    return out.tobytes(), offsets


def varbyte_encode(values: np.ndarray) -> bytes:
    """LEB128 encode a uint64 array (vectorized over byte positions)."""
    v = values.astype(np.uint64, copy=True)
    n = len(v)
    if n == 0:
        return b""
    # bytes needed per value: ceil(bits/7), min 1
    bits = np.zeros(n, dtype=np.int64)
    tmp = v.copy()
    nonzero = tmp != 0
    while nonzero.any():
        bits[nonzero] += 1
        tmp >>= _U64(7)
        nonzero = tmp != 0
    nbytes = np.maximum(bits, 1)
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    pos = np.concatenate([[0], np.cumsum(nbytes)[:-1]])
    rem = v.copy()
    for k in range(_MAX_VARBYTE_LEN):
        mask = nbytes > k
        if not mask.any():
            break
        byte = (rem[mask] & _U64(0x7F)).astype(np.uint8)
        more = (nbytes[mask] > k + 1).astype(np.uint8) << 7
        out[pos[mask] + k] = byte | more
        rem[mask] >>= _U64(7)
    return out.tobytes()


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes to uint64 (vectorized over byte positions)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.concatenate([[0], ends[:-1] + 1])
    n = len(ends)
    out = np.zeros(n, dtype=np.uint64)
    lengths = ends - starts + 1
    for k in range(int(lengths.max())):
        mask = lengths > k
        out[mask] |= (b[starts[mask] + k] & 0x7F).astype(np.uint64) << _U64(7 * k)
    return out


_SIGN_BIT = np.uint64(1 << 63)


def encode_doc_ids(doc_ids: np.ndarray) -> bytes:
    """Strictly-ascending signed int64 doc_ids -> first value + uint64 deltas.

    The sign bit is flipped first (order-preserving int64 -> uint64 map) so
    deltas are computed in uint64 space: blake2b doc_ids span nearly the
    whole signed range, and adjacent gaps can exceed 2^63 — int64 delta
    arithmetic would overflow.
    """
    d = np.asarray(doc_ids, dtype=np.int64)
    if len(d) == 0:
        return b""
    u = d.view(np.uint64) ^ _SIGN_BIT
    codes = np.empty(len(u), dtype=np.uint64)
    codes[0] = u[0]
    if len(u) > 1:
        if (u[1:] <= u[:-1]).any():
            raise ValueError("doc_ids must be strictly ascending")
        codes[1:] = u[1:] - u[:-1]
    return varbyte_encode(codes)


def decode_doc_ids(buf: bytes) -> np.ndarray:
    codes = varbyte_decode(buf)
    if len(codes) == 0:
        return np.empty(0, dtype=np.int64)
    u = np.cumsum(codes, dtype=np.uint64)
    return (u ^ _SIGN_BIT).view(np.int64)


# --- frame-of-reference bitpacking ------------------------------------------
# Per block: [1 header byte = bit width w][ceil(n*w/8) payload bytes], values
# packed MSB-first at the block's max bit width.  Denser than varbyte when
# values are near-uniform (sorted-hash doc-id deltas, tfs, doc lens): a tf of
# 1..15 costs 4 bits instead of varbyte's 8, a ~2^45 doc-id delta 45-46 bits
# instead of 56.  Empty blocks encode to zero bytes.


def bit_lengths(values: np.ndarray) -> np.ndarray:
    """Bit length per uint64 value (0 -> 0), vectorized."""
    v = values.astype(np.uint64, copy=True)
    out = np.zeros(len(v), dtype=np.int64)
    nz = v != 0
    while nz.any():
        out[nz] += 1
        v >>= _U64(1)
        nz = v != 0
    return out


def for_pack_batch(
    values: np.ndarray, block_starts: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """FOR-pack a concatenation of blocks in ONE vectorized pass.

    Returns (buffer, byte offsets of length n_blocks+1); block b's bytes are
    buffer[offsets[b]:offsets[b+1]].  The only Python loop is over BIT
    positions (<= 64 whole-array ops) — same discipline as the varbyte path.
    """
    values = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(values)
    starts = np.asarray(block_starts, dtype=np.int64)
    nb = len(starts)
    offsets = np.zeros(nb + 1, dtype=np.int64)
    if nb == 0:
        return b"", offsets
    ends = np.append(starts[1:], n)
    counts = ends - starts

    w = np.zeros(nb, dtype=np.int64)
    nonempty = counts > 0
    if nonempty.any():
        # consecutive nonempty starts delimit exactly the nonempty ranges
        bl = bit_lengths(values)
        w[nonempty] = np.maximum(np.maximum.reduceat(bl, starts[nonempty]), 1)

    pay_bytes = (counts * w + 7) // 8
    np.cumsum(np.where(nonempty, 1 + pay_bytes, 0), out=offsets[1:])

    if n == 0:
        return b"", offsets

    # flat payload bit array: value j of block b occupies bits
    # [base_b + pos_j*w_b, base_b + (pos_j+1)*w_b), MSB first
    pay_bit_base = np.zeros(nb, dtype=np.int64)
    np.cumsum(pay_bytes[:-1] * 8, out=pay_bit_base[1:])
    blk_of = np.repeat(np.arange(nb), counts)
    pos_in_blk = np.arange(n) - np.repeat(starts, counts)
    vw = w[blk_of]
    bit_start = pay_bit_base[blk_of] + pos_in_blk * vw
    bits = np.zeros(int(pay_bytes.sum()) * 8, dtype=np.uint8)
    for k in range(int(w.max())):
        m = vw > k
        shift = (vw[m] - 1 - k).astype(np.uint64)
        bits[bit_start[m] + k] = ((values[m] >> shift) & _U64(1)).astype(np.uint8)
    packed = np.packbits(bits)

    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    out[offsets[:-1][nonempty]] = w[nonempty].astype(np.uint8)
    pay_byte_base = np.zeros(nb, dtype=np.int64)
    np.cumsum(pay_bytes[:-1], out=pay_byte_base[1:])
    # payload byte -> output position: per-block constant shift
    shift_b = offsets[:-1] + 1 - pay_byte_base
    out[np.arange(len(packed)) + np.repeat(shift_b, pay_bytes)] = packed
    return out.tobytes(), offsets


def for_unpack(buf: bytes, n: int) -> np.ndarray:
    """Decode one FOR block of n values -> uint64 (exact for any width)."""
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8)
    w = int(b[0])
    bits = np.unpackbits(b[1:])[: n * w].reshape(n, w)
    full = np.zeros((n, 64), dtype=np.uint8)
    full[:, 64 - w :] = bits
    by = np.packbits(full, axis=1)  # (n, 8) big-endian bytes
    return by.view(">u8").reshape(n).astype(np.uint64)
