"""Loader for the C segmentation kernel (_ckernel.c).

The C source ships with the package and is compiled on first use into a
content-hash-keyed shared object under a per-user cache dir, then loaded
via ctypes — so Spark executors (which each import this module in their
Python workers) compile at most once per host and reuse the cached .so
afterwards.  On a real cluster the cache dir is per-node local disk; the
compile is a one-time ~1 s cost per node, amortized over every task.

If no C compiler is available (or MDBS_NO_CKERNEL=1), load() returns None
and models/kernels.py falls back to the pure-Python/numpy implementation —
same results (the differential tests in tests/test_ckernel.py pin the two
byte-identical), lower throughput.

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
    if os.environ.get("MDBS_NO_CKERNEL"):
        return None
    so = _compile()
    if so is None:
        return None
    try:
        lib = ctypes.CDLL(so)
    except OSError:
        return None
    i64 = ctypes.c_int64
    p_i64 = ctypes.POINTER(ctypes.c_int64)
    p_i32 = ctypes.POINTER(ctypes.c_int32)
    p_f32 = ctypes.POINTER(ctypes.c_float)
    p_f64 = ctypes.POINTER(ctypes.c_double)
    p_u8 = ctypes.POINTER(ctypes.c_uint8)
    common_out = [
        p_i64, p_i64, p_i32, p_i64, p_i64,  # start_idx, len, mtid, off, mlen
        p_f64, p_f64, p_f64,                # vmin, vmax, vsum
        p_u8, i64,                          # arena, arena_cap
        p_u8,                               # gscratch
        p_i64,                              # consumed_out
    ]
    lib.mdbs_compress_run.restype = i64
    lib.mdbs_compress_run.argtypes = [
        p_i64, p_f32, i64, ctypes.c_double, i64, ctypes.c_int, *common_out
    ]
    lib.mdbs_compress_series.restype = i64
    lib.mdbs_compress_series.argtypes = [
        p_i64, p_f32, i64, i64, ctypes.c_double, i64, *common_out
    ]
    lib.mdbs_compress_group.restype = i64
    lib.mdbs_compress_group.argtypes = [
        p_i64, p_f32, i64, i64, ctypes.c_double, i64,
        ctypes.c_int, i64,                  # allow_flush, n_gaps
        i64, i64,                           # model_idx0, prev_row0
        p_i64, p_i64, p_i32, p_i64, p_i64,  # start_idx, len, mtid, off, mlen
        p_i64,                              # emit_row (pass-order sort key)
        p_u8, i64,                          # arena, arena_cap
        p_u8,                               # gscratch
        p_i64,                              # consumed_out
    ]
    lib.mdbs_pmc_prefix_grp.restype = i64
    lib.mdbs_pmc_prefix_grp.argtypes = [
        p_f32, i64, i64, ctypes.c_double, p_f64
    ]
    lib.mdbs_swing_prefix_grp.restype = i64
    lib.mdbs_swing_prefix_grp.argtypes = [
        p_i64, p_f32, i64, i64, ctypes.c_double, p_f64, p_f64, p_f64, p_f64
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
