"""Loader for the C segmentation kernel (_ckernel.c).

The C source ships with the package and is compiled on first use into a
content-hash-keyed shared object under a per-user cache dir, then loaded
via ctypes — so Spark executors (which each import this module in their
Python workers) compile at most once per host and reuse the cached .so
afterwards.  On a real cluster the cache dir is per-node local disk; the
compile is a one-time ~1 s cost per node, amortized over every task.

If no C compiler is available, load() returns None and models/kernels.py
falls back to the pure-Python/numpy implementation — same results (the
differential tests in tests/test_ckernel.py pin the two byte-identical),
lower throughput.

cascade() is the one Python entry to the C cascade: single series (the
build, streaming ingest) and never-splitting groups alike.

Compile flags: -O2 -ffp-contract=off.  fp-contract MUST be off: the kernel
re-runs the reference's double recurrences op for op, and a fused
multiply-add in e.g. `y0 - ua*t0` would round once where numpy/Java round
twice, breaking bit-parity with the golden fixtures.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import pkgutil
import subprocess
import tempfile
from typing import NamedTuple

import numpy as np

_CFLAGS = ["-O2", "-shared", "-fPIC", "-ffp-contract=off", "-fno-math-errno"]

_lib = None
_tried = False


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    d = os.path.join(base, "mdbs_ckernel")
    os.makedirs(d, exist_ok=True)
    return d


def _compile() -> str | None:
    # read through the package's loader, not by path: under spark-submit
    # the package is a --py-files zip
    src = pkgutil.get_data(__name__.rpartition(".")[0], "_ckernel.c")
    tag = hashlib.sha256(src + b"|" + " ".join(_CFLAGS).encode()).hexdigest()[:16]
    so_path = os.path.join(_cache_dir(), f"ckernel-{tag}.so")
    if os.path.exists(so_path):
        return so_path
    cc = os.environ.get("CC", "gcc")
    # write to a temp name then rename: concurrent executors racing the
    # compile each produce identical bytes, rename is atomic
    fd, tmp = tempfile.mkstemp(dir=_cache_dir(), suffix=".so.tmp")
    os.close(fd)
    try:
        subprocess.run(
            [cc, *_CFLAGS, "-o", tmp, "-x", "c", "-"],
            input=src,
            check=True,
            capture_output=True,
            timeout=120,
        )
        os.replace(tmp, so_path)
        return so_path
    except (subprocess.SubprocessError, OSError, FileNotFoundError):
        try:
            os.unlink(tmp)
        except OSError:
            pass
        return None


def load() -> ctypes.CDLL | None:
    """The bound CDLL, or None when the C path is unavailable."""
    global _lib, _tried
    if _tried:
        return _lib
    _tried = True
    so = _compile()
    if so is None:
        return None
    try:
        lib = ctypes.CDLL(so)
    except OSError:
        return None
    i64 = ctypes.c_int64
    p_i64 = ctypes.POINTER(ctypes.c_int64)
    p_u8 = ctypes.POINTER(ctypes.c_uint8)
    # the cascade entries take raw addresses (one workspace per call, see
    # cascade()): per-array ctypes pointer objects cost more than the
    # kernel on short series
    vp = ctypes.c_void_p
    lib.mdbs_compress_series.restype = i64
    lib.mdbs_compress_series.argtypes = [
        vp, vp, i64, i64, ctypes.c_double, i64,  # t, v, n, si, eb, lb
        vp, vp, vp, vp, vp,                 # start_idx, len, mtid, off, mlen
        vp, vp, vp,                         # vmin, vmax, vsum
        vp, i64, vp, vp,                    # arena, cap, gscratch, consumed
    ]
    lib.mdbs_compress_group.restype = i64
    lib.mdbs_compress_group.argtypes = [
        vp, vp, i64, i64, ctypes.c_double, i64,  # t, v, n, G, eb, lb
        ctypes.c_int,                       # allow_flush
        vp, vp, vp, vp, vp,                 # start_idx, len, mtid, off, mlen
        vp, vp, vp,                         # vmin, vmax, vsum
        vp, i64, vp, vp,                    # arena, cap, gscratch, consumed
    ]
    p_u32 = ctypes.POINTER(ctypes.c_uint32)
    lib.mdbs_gorilla_decode.restype = i64
    lib.mdbs_gorilla_decode.argtypes = [p_u8, i64, i64, p_u32]
    lib.mdbs_gorilla_decode_batch.restype = i64
    lib.mdbs_gorilla_decode_batch.argtypes = [
        p_u8, i64, p_i64, p_i64, p_i64, p_i64, i64, p_u32
    ]
    _lib = lib
    return _lib


class Cascade(NamedTuple):
    """What one C cascade call emitted, one list entry per segment."""

    cnt: list[int]  # rows the segment represents
    start_ts: list[int]
    end_ts: list[int]
    mtid: list[int]
    model: list[bytes]
    vmin: list[float]  # closed-form summaries (G == 1), else empty
    vmax: list[float]
    vsum: list[float]
    consumed: int  # input rows consumed


def cascade(
    t: np.ndarray,
    v: np.ndarray,
    error_bound: float,
    length_bound: int,
    *,
    si_ms: int | None = None,
    allow_flush: bool = True,
) -> Cascade:
    """Run the C cascade over t (n,) int64 and v (n,) or (n, G) float32.

    With si_ms, v is one series that mdbs_compress_series splits into
    gap-free runs and flushes run by run; otherwise mdbs_compress_group
    segments the rows as given (see its comment for allow_flush).
    Summaries are computed for G == 1.

    Retries with a doubled model arena on overflow (the 8nG+1k initial
    cap already exceeds the worst case — Gorilla <= 6 B/value — so the
    retry loop is a belt-and-braces path, not a hot one), then copies
    only the used prefix of the arena."""
    lib = load()
    if lib is None:
        raise RuntimeError("C kernel unavailable")
    t = np.ascontiguousarray(t, dtype=np.int64)
    v = np.ascontiguousarray(v, dtype=np.float32)
    n = len(t)
    G = 1 if v.ndim == 1 else v.shape[1]
    # one workspace: seven 8-byte columns (start, len, off, mlen, vmin,
    # vmax, vsum), the int32 mtid column, the Gorilla scratch, then the
    # model arena
    gs = 6 * min(length_bound, n) * G + 32
    head = 60 * n + gs
    arena_cap = 8 * n * G + 1024
    consumed = ctypes.c_int64(0)
    if si_ms is None:
        fn = lib.mdbs_compress_group
        args = [G, float(error_bound), int(length_bound), int(allow_flush)]
    else:
        fn = lib.mdbs_compress_series
        args = [int(si_ms), float(error_bound), int(length_bound)]
    while True:
        ws = np.empty(head + arena_cap, dtype=np.uint8)
        col = [ws.ctypes.data + 8 * n * j for j in range(8)]
        outs = [col[0], col[1], col[7], col[2], col[3]]
        outs += col[4:7] if G == 1 else [None] * 3
        k = fn(t.ctypes.data, v.ctypes.data, n, *args, *outs,
               col[0] + head, arena_cap, col[0] + 60 * n,
               ctypes.byref(consumed))
        if k >= 0:
            break
        if k != -1:
            raise ValueError(f"C kernel rejected its arguments (rc={k})")
        arena_cap *= 2
    ints = ws[: 56 * n].view(np.int64).reshape(7, n)[:, :k]
    start, cnt, off, mlen = ints[:4]
    ends = off + mlen
    ab = ws[head : head + (int(ends.max()) if k else 0)].tobytes()
    summ = ints[4:].view(np.float64).tolist() if G == 1 else ([], [], [])
    return Cascade(
        cnt.tolist(),
        t[start].tolist(),
        t[start + cnt - 1].tolist(),
        ws[56 * n : 60 * n].view(np.int32)[:k].tolist(),
        [ab[a:b] for a, b in zip(off.tolist(), ends.tolist())],
        *summ,
        int(consumed.value),
    )
