"""Frame-of-reference + bit-packing for integer columns.

North-rule codec (no reference analogue — the reference only writes
PLAIN, parquet-column.cc:385-388): subtract the chunk minimum, bit-pack
the non-negative deltas at minimal width (PAPERS.md:10 pattern).  Reuses
the LSB-first packer the hybrid RLE uses (bitpack.pack_bits).

Layout: i64 min (LE) | u8 width | packed bits.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from cpp_parquet_spark.kernels.bitpack import pack_bits, unpack_bits


def encode_for(values: pa.Array | np.ndarray) -> bytes:
    v = np.asarray(values)
    if v.dtype.kind not in "iu":
        raise TypeError(f"frame-of-reference needs integers, got {v.dtype}")
    n = len(v)
    if n == 0:
        return (0).to_bytes(8, "little", signed=True) + b"\x00"
    v = v.astype(np.int64, copy=False)
    lo = int(v.min())
    deltas = (v - lo).astype(np.uint64)
    hi = int(deltas.max())
    width = hi.bit_length()  # 0 allowed: constant column packs to nothing
    out = bytearray(lo.to_bytes(8, "little", signed=True))
    out.append(width)
    out += pack_bits(deltas, width)
    return bytes(out)


def decode_for(buf: bytes, n: int) -> np.ndarray:
    lo = int.from_bytes(buf[:8], "little", signed=True)
    width = buf[8]
    deltas = unpack_bits(np.frombuffer(buf, dtype=np.uint8, offset=9), width, n)
    return deltas.astype(np.int64) + lo


def encode_delta(values: pa.Array | np.ndarray) -> bytes:
    """Delta + frame-of-reference: first value i64, then FOR over the
    consecutive differences — near-zero bits/value for monotone ids
    (FIXTURES.md F8 row_id case).

    Layout: i64 first (LE) | FOR blob of diffs (n-1 values).
    """
    v = np.asarray(values)
    if v.dtype.kind not in "iu":
        raise TypeError(f"delta needs integers, got {v.dtype}")
    v = v.astype(np.int64, copy=False)
    n = len(v)
    first = int(v[0]) if n else 0
    out = bytearray(first.to_bytes(8, "little", signed=True))
    out += encode_for(np.diff(v)) if n > 1 else encode_for(np.zeros(0, np.int64))
    return bytes(out)


def decode_delta(buf: bytes, n: int) -> np.ndarray:
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    first = int.from_bytes(buf[:8], "little", signed=True)
    diffs = decode_for(buf[8:], n - 1)
    out = np.empty(n, dtype=np.int64)
    out[0] = first
    np.cumsum(diffs, out=out[1:])
    out[1:] += first
    return out
