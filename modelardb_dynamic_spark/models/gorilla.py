"""Gorilla XOR float compression (lossless), bit-compatible with the
reference's encoder/decoder.

Behavioral contract (reference: core/models/FacebookGorillaModelType.java:
46-140 compress, 210-241 decompress; bit packing MSB-first within each byte,
core/utility/BitBuffer.java:51-132):

- first value: raw 32 bits of the IEEE-754 float
- each next value: XOR with previous 32-bit pattern
    * xor == 0            -> '0'
    * reuse stored window -> '1' '0' + significant bits (xor >>> storedTZ)
      when leadingZeros >= storedLZ and trailingZeros >= storedTZ
    * new window          -> '1' '1' + 5-bit LZ + 6-bit significant-bit
      count + significant bits; LZ capped at 31; a significant count of 32
      wraps to '100000' (decoder maps 0 -> 32)
- stream is padded with zero bits to a whole byte

The packer uses a single Python big integer (MSB-first shift/or), which is
equivalent to the reference's byte-at-a-time buffer and fast for the <=
length_bound (default 50) values a segment may hold.
"""

from __future__ import annotations

import numpy as np

_MASK32 = 0xFFFFFFFF


def _xor_lz_tz(bits: np.ndarray) -> tuple[list, list, list]:
    """Vectorized per-value xor with predecessor plus leading/trailing zero
    counts (Integer.numberOfLeading/TrailingZeros semantics). log2 of an
    exact uint32 (and of its isolated lowest set bit) floors exactly in
    float64, so the counts are exact; zeros are masked out and their
    lz/tz entries never read."""
    if len(bits) < 2:
        return [], [], []
    if len(bits) <= 128:
        # numpy per-call overhead beats the win on short segments
        bl = bits.tolist()
        xl = [(bl[i + 1] ^ bl[i]) for i in range(len(bl) - 1)]
        lzs = [32 - x.bit_length() if x else 0 for x in xl]
        tzs = [((x & -x).bit_length() - 1) if x else 0 for x in xl]
        return xl, lzs, tzs
    xors = bits[1:] ^ bits[:-1]
    safe = np.where(xors != 0, xors, 1)
    lzs = (31 - np.floor(np.log2(safe)).astype(np.int64)).tolist()
    low = safe & (~safe + np.uint32(1))
    tzs = np.floor(np.log2(low)).astype(np.int64).tolist()
    return xors.tolist(), lzs, tzs


def gorilla_encode(values: np.ndarray) -> tuple[bytes, int]:
    """Encode float32 values; returns (stream bytes, size in bytes).

    The byte size equals the reference's BitBuffer.size() (partial final
    byte counts as one byte).
    """
    v = np.ascontiguousarray(values, dtype=np.float32)
    bits_np = v.view(np.uint32)
    acc = int(bits_np[0])
    nbits = 32
    stored_lz = 1 << 30  # sentinel: Integer.MAX_VALUE semantics
    stored_tz = 0
    xl, lzs, tzs = _xor_lz_tz(bits_np)
    for i, xor in enumerate(xl):
        if xor == 0:
            acc <<= 1
            nbits += 1
        else:
            lz = lzs[i]
            tz = tzs[i]
            if lz >= stored_lz and tz >= stored_tz:
                sig = 32 - stored_lz - stored_tz
                acc = (acc << 2) | 0b10
                acc = (acc << sig) | ((xor >> stored_tz) & ((1 << sig) - 1))
                nbits += 2 + sig
            else:
                sig = 32 - lz - tz
                acc = (acc << 2) | 0b11
                acc = (acc << 5) | lz
                acc = (acc << 6) | (sig & 0x3F)
                acc = (acc << sig) | ((xor >> tz) & ((1 << sig) - 1))
                nbits += 13 + sig
                stored_lz = lz
                stored_tz = tz
    pad = (-nbits) % 8
    acc <<= pad
    total_bytes = (nbits + pad) // 8
    return acc.to_bytes(total_bytes, "big"), total_bytes


def gorilla_size_bytes(values: np.ndarray) -> int:
    """Stream size in bytes without materializing it (same walk, no pack)."""
    v = np.ascontiguousarray(values, dtype=np.float32)
    bits = v.view(np.uint32)
    if len(bits) == 1:
        return 4
    xl, lzs, tzs = _xor_lz_tz(bits)
    nbits = 32
    stored_lz = 1 << 30
    stored_tz = 0
    for i, xor in enumerate(xl):
        if xor == 0:
            nbits += 1
        else:
            lz = lzs[i]
            tz = tzs[i]
            if lz >= stored_lz and tz >= stored_tz:
                nbits += 2 + (32 - stored_lz - stored_tz)
            else:
                nbits += 13 + (32 - lz - tz)
                stored_lz = lz
                stored_tz = tz
    return (nbits + 7) // 8


def gorilla_decode(model: bytes, n: int) -> np.ndarray:
    """Decode n float32 values from a Gorilla stream. Dispatches to the C
    kernel when available (bit-identical — differential test in
    tests/test_ckernel.py); the Python path below is the fallback and the
    readable specification."""
    import ctypes

    from modelardb_dynamic_spark.models import ckernel

    lib = ckernel.load()
    if lib is not None and n > 0:
        out = np.empty(n, dtype=np.uint32)
        buf = np.frombuffer(model, dtype=np.uint8)
        lib.mdbs_gorilla_decode(
            buf.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
            len(model), n,
            out.ctypes.data_as(ctypes.POINTER(ctypes.c_uint32)),
        )
        return out.view(np.float32)
    return _gorilla_decode_py(model, n)


def gorilla_decode_batch(
    buf: np.ndarray,
    offs: np.ndarray,
    lens: np.ndarray,
    counts: np.ndarray,
    out: np.ndarray,
    out_offs: np.ndarray,
) -> None:
    """Decode many Gorilla streams into slices of a preallocated float32
    array: stream j is buf[offs[j] : offs[j] + lens[j]] and fills
    out[out_offs[j] : out_offs[j] + counts[j]].

    buf is a uint8 array over every stream, typically the data buffer of
    an Arrow binary column, so no stream is copied out of it. One C call
    for the whole batch: rollup and reconstruction decode millions of
    ~15-70-point segments, so a per-segment ctypes (or Python-loop) hop
    would dominate the actual bit-twiddling. Falls back to the Python
    decoder per stream when no C kernel is available."""
    import ctypes

    from modelardb_dynamic_spark.models import ckernel

    if len(offs) == 0:
        return
    offs, lens, counts, out_offs = (
        np.ascontiguousarray(a, dtype=np.int64)
        for a in (offs, lens, counts, out_offs)
    )
    buf = np.ascontiguousarray(buf, dtype=np.uint8)
    if ((out_offs < 0) | (out_offs + counts > len(out))).any():
        raise ValueError("gorilla_decode_batch: output slice out of range")
    lib = ckernel.load()
    if lib is None:
        for o, k, c, oo in zip(*(a.tolist() for a in (offs, lens, counts, out_offs))):
            out[oo : oo + c] = _gorilla_decode_py(buf[o : o + k].tobytes(), c)
        return
    out_u32 = out.view(np.uint32)

    def p(a, ct):
        return a.ctypes.data_as(ctypes.POINTER(ct))

    rc = lib.mdbs_gorilla_decode_batch(
        p(buf, ctypes.c_uint8), len(buf),
        p(offs, ctypes.c_int64), p(lens, ctypes.c_int64),
        p(counts, ctypes.c_int64), p(out_offs, ctypes.c_int64),
        len(offs), p(out_u32, ctypes.c_uint32),
    )
    if rc != 0:
        raise ValueError("gorilla_decode_batch: inconsistent offsets")


def _gorilla_decode_py(model: bytes, n: int) -> np.ndarray:
    """Pure-Python Gorilla decode (specification / no-compiler fallback)."""
    total = len(model) * 8
    acc = int.from_bytes(model, "big")
    pos = 0

    def read(k: int) -> int:
        nonlocal pos
        val = (acc >> (total - pos - k)) & ((1 << k) - 1)
        pos += k
        return val

    out = np.empty(n, dtype=np.uint32)
    last = read(32)
    out[0] = last
    stored_lz = 1 << 30
    stored_tz = 0
    for i in range(1, n):
        if read(1):
            if read(1):
                stored_lz = read(5)
                sig = read(6)
                if sig == 0:
                    sig = 32
                stored_tz = 32 - sig - stored_lz
            value = read(32 - stored_lz - stored_tz)
            value = (value << stored_tz) & _MASK32
            last = last ^ value
        out[i] = last
    return out.view(np.float32)
