"""Block-wise frame-of-reference bit-packing: the one integer kernel.

It carries the SGC ``for`` and ``delta`` codecs, the length and count
streams of ``plain``, ``fsst``, ``lined``, ``alpha`` and ``rle_runs``,
and the writer's DELTA_BINARY_PACKED and DELTA_LENGTH_BYTE_ARRAY pages.
FOR and delta share one design, a reference and a width per block
(PAPERS.md, "Can Delta Compete with Frame-of-Reference for Lightweight
Integer Compression?", VLDB 2024).  The block body is the
DELTA_BINARY_PACKED one of the Parquet format spec (parquet-format
Encodings.md, "Delta Encoding"):

  block body, per BLOCK values:
    <min: zigzag ULEB128> <bit width: 1 byte per miniblock>
    <MINIBLOCKS miniblocks of MINI values, bit-packed LSB-first>
  delta page (SGC ``delta`` and the writer's DBP pages):
    <BLOCK: ULEB128> <MINIBLOCKS: ULEB128> <value count: ULEB128>
    <first value: zigzag ULEB128> <block body over the n-1 diffs>
  SGC ``for``: the block body over the values, less its end padding.

The last miniblock is zero-padded to MINI values and miniblocks past the
data have width 0 and no bytes; ``for`` drops the padding (a 3-value
length stream costs 13 bytes, not 9 + 16 * width).  Arithmetic wraps
modulo 2^64, so every int64 input round-trips, wrapped diffs included.
The encoder has no per-block Python loop: minima, widths and headers are
numpy, and each width's miniblocks pack in one ``pack_bits`` call.  The
decoder walks the block headers in Python, then loads every value in one
gather.  A lone block (the short length streams) takes a scalar path of
a few numpy calls instead.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from cpp_parquet_spark.kernels.bitpack import decode_vlq, encode_vlq, pack_bits, unpack_bits

# spec-legal geometry: the block a multiple of 128, a miniblock a multiple of 32
BLOCK = 1024
MINIBLOCKS = 8
MINI = BLOCK // MINIBLOCKS
_MB_BYTES = MINI // 8  # packed bytes per miniblock and bit of width
_POW2 = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))
_MASKS = np.array([(1 << w) - 1 for w in range(65)], np.uint64)
_LANE = np.arange(MINI)
_SHIFTS = np.arange(0, 64, 7, dtype=np.uint64)  # one per byte of a 64-bit ULEB128


def as_int64(values: pa.Array | np.ndarray) -> np.ndarray:
    """Integer values as int64; dates and timestamps travel as their
    raw integers."""
    if isinstance(values, pa.Array) and (pa.types.is_date(values.type) or pa.types.is_timestamp(values.type)):
        values = values.view(pa.int32() if values.type.bit_width == 32 else pa.int64())
    v = np.asarray(values)
    if v.dtype.kind not in "iu":
        raise TypeError(f"integer packing needs integers, got {v.dtype}")
    return v.astype(np.int64, copy=False)


def _windows(buf: np.ndarray, span: int) -> np.ndarray:
    """Writable view whose row i is ``buf[i : i + span]``."""
    return np.ndarray((len(buf) - span + 1, span), np.uint8, buf, strides=(1, 1))


def _miniblock_offsets(starts: np.ndarray, widths: np.ndarray) -> np.ndarray:
    """Byte offset of every miniblock, given where each block's data starts."""
    sizes = widths.reshape(-1, MINIBLOCKS).astype(np.int64) * _MB_BYTES
    return (starts[:, None] + np.cumsum(sizes, axis=1) - sizes).ravel()


def encode_blocks(x: np.ndarray) -> tuple[bytes, int]:
    """Block body over int64 ``x``, and how many bytes at its end are
    the last miniblock's zero padding."""
    n = len(x)
    if n == 0:
        return b"", 0
    nb, live = -(-n // BLOCK), -(-n // MINI)
    if nb == 1:
        lo = int(x.min())
        d = np.zeros(live * MINI, np.uint64)
        np.subtract(x, lo, out=d[:n].view(np.int64))  # wraps modulo 2^64
        rows = d.reshape(live, MINI)
        ws = [int(m).bit_length() for m in rows.max(axis=1).tolist()]
        data = pack_bits(d, ws[0]) if len(set(ws)) == 1 else b"".join(map(pack_bits, rows, ws))
        head = encode_vlq((lo << 1) ^ (lo >> 63)) + bytes(ws) + bytes(MINIBLOCKS - live)
        return head + data, (live * MINI - n) * ws[-1] // 8
    adj = np.empty(nb * BLOCK, np.int64)
    adj[:n] = x
    adj[n:] = x[-1]  # a value of the last block keeps its minimum
    adj = adj.reshape(nb, BLOCK)
    mins = adj.min(axis=1)
    adj -= mins[:, None]  # wraps modulo 2^64 into the uint64 view below
    adj = adj.view(np.uint64).reshape(-1, MINI)
    adj.reshape(-1)[n:] = 0
    widths = np.searchsorted(_POW2, adj.max(axis=1), side="right").astype(np.uint8)  # bit lengths
    # zigzag ULEB128 of every minimum: 7 bits a byte, high bit = more
    rest = ((mins.view(np.uint64) << np.uint64(1)) ^ (mins >> 63).view(np.uint64))[:, None] >> _SHIFTS
    uleb = (rest & np.uint64(0x7F)).astype(np.uint8) | ((rest > 0x7F).astype(np.uint8) << 7)
    used = rest != 0
    used[:, 0] = True
    wpos = used.sum(axis=1)  # ULEB length; the widths start there
    size = wpos + MINIBLOCKS + widths.reshape(nb, MINIBLOCKS).sum(axis=1, dtype=np.int64) * _MB_BYTES
    starts = np.cumsum(size) - size
    wpos += starts
    out = np.empty(int(size.sum()), np.uint8)
    out[(starts[:, None] + np.arange(len(_SHIFTS)))[used]] = uleb[used]
    _windows(out, MINIBLOCKS)[wpos] = widths.reshape(nb, MINIBLOCKS)
    offsets = _miniblock_offsets(wpos + MINIBLOCKS, widths)
    for w in set(widths.tolist()) - {0}:
        sel = np.flatnonzero(widths == w)
        rows = adj if len(sel) == len(adj) else adj[sel]
        packed = np.frombuffer(pack_bits(rows.ravel(), w), np.uint8)
        _windows(out, w * _MB_BYTES)[offsets[sel]] = packed.reshape(len(sel), -1)
    pad = (live * MINI - n) * int(widths[live - 1]) // 8
    return out.tobytes(), pad


def decode_blocks(buf: bytes, pos: int, n: int) -> np.ndarray:
    """``n`` int64 values from the block body at ``buf[pos:]``."""
    if n == 0:
        return np.zeros(0, np.int64)
    nb, live = -(-n // BLOCK), -(-n // MINI)  # miniblocks past ``live`` carry no bytes
    mins, wpos = [], []
    for b in range(nb):
        z, pos = decode_vlq(buf, pos)
        mins.append((z >> 1) ^ -(z & 1))
        wpos.append(pos)
        pos += MINIBLOCKS + _MB_BYTES * sum(buf[pos : pos + min(MINIBLOCKS, live - b * MINIBLOCKS)])
    if nb == 1 and len(set(buf[wpos[0] : wpos[0] + live])) == 1:  # one width: one bit stream
        return unpack_bits(buf[wpos[0] + MINIBLOCKS :], buf[wpos[0]], n).view(np.int64) + mins[0]
    raw = np.zeros(max(len(buf), pos) + 16, np.uint8)
    raw[: len(buf)] = np.frombuffer(buf, np.uint8)
    wpos = np.array(wpos)
    widths = _windows(raw, MINIBLOCKS)[wpos].ravel().astype(np.int64)
    widths[live:] = 0
    # every value in one gather: an unaligned 8-byte load at its first
    # byte, shifted down; widths over 56 also take bits from the next load
    words = np.ndarray(len(raw) - 7, "<u8", raw, strides=(1,))
    bit = (_miniblock_offsets(wpos + MINIBLOCKS, widths) * 8)[:, None] + _LANE * widths[:, None]
    shift = (bit & 7).astype(np.uint64)
    vals = np.take(words, bit >> 3) >> shift
    wide = np.flatnonzero(widths > 56)
    if len(wide):
        vals[wide] |= (words[(bit[wide] >> 3) + 8] << np.uint64(1)) << (np.uint64(63) - shift[wide])
    vals &= _MASKS[widths][:, None]
    vals = vals.view(np.int64).reshape(nb, BLOCK)
    vals += np.array(mins, np.int64)[:, None]  # wraps modulo 2^64
    return vals.ravel()[:n]


def encode_for(values: pa.Array | np.ndarray) -> bytes:
    """SGC ``for``: the block body over the values, less its trailing
    zero padding (the decoder reads missing bytes as zeros)."""
    body, pad = encode_blocks(as_int64(values))
    return body[: len(body) - pad]


def decode_for(buf: bytes, n: int) -> np.ndarray:
    return decode_blocks(buf, 0, n)


def encode_delta(values: pa.Array | np.ndarray) -> bytes:
    """SGC ``delta`` and the writer's DELTA_BINARY_PACKED page body."""
    v = as_int64(values)
    first = int(v[0]) if len(v) else 0
    head = encode_vlq(BLOCK) + encode_vlq(MINIBLOCKS) + encode_vlq(len(v)) + encode_vlq((first << 1) ^ (first >> 63))
    return head + encode_blocks(np.diff(v))[0]


def decode_delta(buf: bytes, n: int) -> np.ndarray:
    block, pos = decode_vlq(buf, 0)
    miniblocks, pos = decode_vlq(buf, pos)
    count, pos = decode_vlq(buf, pos)
    if (block, miniblocks, count) != (BLOCK, MINIBLOCKS, n):
        raise ValueError(f"delta header {(block, miniblocks, count)} does not match {(BLOCK, MINIBLOCKS, n)}")
    z, pos = decode_vlq(buf, pos)
    out = np.empty(n, np.int64)
    if n:
        out[0] = (z >> 1) ^ -(z & 1)
        np.cumsum(decode_blocks(buf, pos, n - 1), out=out[1:])
        out[1:] += out[0]
    return out
