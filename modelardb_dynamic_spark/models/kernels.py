"""Segmentation kernels: greedy model prefixes + the cascade/selection
semantics of the reference's SegmentGenerator, restated functionally.

Key reduction (derived from core/SegmentGenerator.java:152-304): every model
type's state is a pure function of the current buffer contents because
`initialize` replays `append` from an empty state and append is fail-sticky.
Therefore, per gap-free run of regularly-sampled points:

- a finalized segment is emitted the first time the buffer size B satisfies
  B > pmc_prefix, B > swing_prefix and B > length_bound (the Gorilla /
  Uncompressed cap) — i.e. at B* = max(p, s, length_bound) + 1 — or when the
  run ends (flush, SegmentGenerator.java:213-236);
- the emitted model is chosen by the literal loop
  `best = (ratio(m) < ratio(best)) ? best : m` over the cascade order, which
  makes ties and NaN ratios go to the LATER model
  (SegmentGenerator.java:266-269);
- compressionRatio = 16*len / (24 + size + 4*gaps) in float32 arithmetic
  (core/models/ModelType.java:65-70); with one series per group gaps == 0;
- if the winner's ratio is NaN or its length is 0, the Uncompressed fallback
  is fitted to the whole buffer (SegmentGenerator.java:271-279);
- exactly `length(best)` points are dropped from the buffer head and the
  cascade restarts (SegmentGenerator.java:281-283).

Float discipline notes (the bit-match-sensitive spots):
- PMC-Mean keeps float32 min/max, float64 sum, and casts avg = (float)(sum/n)
  before the error check (PMC_MeanModelType.java:48-75); the stored model is
  that float32 mean (4 bytes, big-endian).
- Swing uses double bounds anchored at an averaged first point, a deviation
  of abs(value * errorBound/100.1) (SwingFilterModelType.java:77), stores the
  midline (a, b) as 8/12/16 bytes depending on whether float32 round-trips
  exactly (:131-143), and size() re-verifies every gridded float32 point
  against the error bound, returning NaN on violation (:156-186).
- Gorilla appends are capped at length_bound and are otherwise lossless.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from modelardb_dynamic_spark.config import (
    EngineConfig,
    MTID_GORILLA,
    MTID_PMC_MEAN,
    MTID_SWING,
    MTID_UNCOMPRESSED,
)
from modelardb_dynamic_spark.models.error import outside_error_bound_vec
from modelardb_dynamic_spark.models.gorilla import gorilla_encode


@dataclass
class Segment:
    """One emitted segment of a single series (group size 1)."""

    start_ts: int  # epoch millis, first represented point
    end_ts: int  # epoch millis, last represented point (inclusive)
    mtid: int
    model: bytes
    cnt: int
    vmin: float  # float32 value domain
    vmax: float
    vsum: float  # float64


def pmc_prefix(v: np.ndarray, error_bound: float) -> tuple[int, float]:
    """Length of the maximal prefix PMC-Mean accepts, plus its float32 mean.

    Vectorized with geometrically growing windows: prefix cummin/cummax in
    float32, prefix cumsum in float64, avg cast to float32 before the error
    check — matching PMC_MeanModelType.java:48-75 op for op.
    """
    n = len(v)
    if n and error_bound == 0.0 and v[0] != 0 and not np.isnan(v[0]):
        # eb=0 fast path: a prefix passes iff min == max == f32 mean, i.e.
        # all values bit-equal (±0 mixes excluded above); the fail point
        # and mean the general walk would produce are exactly the run end
        # and the shared value. Chunked so short runs don't scan the whole
        # remaining buffer (callers hand us everything left).
        v0 = v[0]
        p = 0
        chunk = 64
        nan_bail = False
        while p < n:
            end = min(n, p + chunk)
            eq = v[p:end] == v0
            if not eq.all():
                j = p + int(np.argmin(eq))
                if np.isnan(v[j]):
                    # NaN is NOT a fail in the general walk: percentage
                    # error against a NaN min/max/avg compares false
                    # everywhere (Static.java:105-118), so NaN absorbs
                    # the rest of the buffer. Fall through to the
                    # general walk for exact semantics.
                    nan_bail = True
                    break
                return j, float(v0)
            p = end
            chunk *= 4
        if not nan_bail:
            return n, float(v0)
    base_sum = 0.0
    carry_min = np.float32(np.inf)
    carry_max = np.float32(-np.inf)
    start = 0
    chunk = 64
    while start < n:
        end = min(n, start + chunk)
        w = v[start:end]
        mins = np.minimum(np.minimum.accumulate(w), carry_min)
        maxs = np.maximum(np.maximum.accumulate(w), carry_max)
        sums = base_sum + np.cumsum(w, dtype=np.float64)
        counts = np.arange(start + 1, end + 1, dtype=np.float64)
        avg = (sums / counts).astype(np.float32).astype(np.float64)
        fail = outside_error_bound_vec(
            error_bound, avg, mins.astype(np.float64)
        ) | outside_error_bound_vec(error_bound, avg, maxs.astype(np.float64))
        idx = np.argmax(fail) if fail.any() else -1
        if idx >= 0:
            p = start + int(idx)
            mean_sum = sums[idx - 1] if idx > 0 else base_sum
            mean = float(np.float32(mean_sum / p)) if p > 0 else float("nan")
            return p, mean
        base_sum = float(sums[-1])
        carry_min = mins[-1]
        carry_max = maxs[-1]
        start = end
        chunk *= 4
    mean = float(np.float32(base_sum / n))
    return n, mean


def swing_prefix(
    t: np.ndarray, v: np.ndarray, error_bound: float
) -> tuple[int, tuple[float, float, float, float] | None]:
    """Length of the maximal prefix the Swing filter accepts, plus the final
    (upper_a, upper_b, lower_a, lower_b) double bounds (None while < 2 pts).

    Sequential double recurrence per SwingFilterModelType.java:48-116; the
    loop is plain Python over native floats, bounded by the segment length
    (runs amortize to ~1 visit/point because emission consumes the prefix).
    """
    n = len(v)
    if n == 0:
        return 0, None
    y0 = float(v[0])
    t0 = int(t[0])
    if n == 1:
        return 1, None
    ebdiv = float(np.float32(error_bound)) / 100.1
    t1 = int(t[1])
    v1 = float(np.float64(v[1]))
    dev = abs(v1 * ebdiv)
    ua = (v1 + dev - y0) / (t1 - t0)
    ub = y0 - ua * t0
    la = (v1 - dev - y0) / (t1 - t0)
    lb = y0 - la * t0
    # Scalar/vector hybrid. A point is a no-op (neither fails nor tightens
    # a bound) iff uba - dev <= vi <= lba + dev; once the bounds converge,
    # nearly every point is a no-op, so long quiet runs are cleared with a
    # single vectorized mask (the action mask (vi < uba-dev)|(vi > lba+dev)
    # is the EXACT complement — a fail implies it because uba >= lba at
    # every step). Dense-update phases (noise, where swing fails within a
    # few points anyway) run a plain scalar stretch first so numpy per-call
    # overhead never dominates. Every executed update/fail runs the
    # identical scalar float64 ops in the same order, so results stay
    # bit-identical to the sequential Java recurrence.
    i = 2
    while i < n:
        # scalar stretch: handles dense updates at Python-loop speed
        end_s = min(n, i + 64)
        tl = t[i:end_s].tolist()
        vl = v[i:end_s].astype(np.float64).tolist()
        for kk in range(len(tl)):
            ti = tl[kk]
            vi = vl[kk]
            dev = abs(vi * ebdiv)
            uba = ua * ti + ub
            lba = la * ti + lb
            if uba + dev < vi or lba - dev > vi:
                return i + kk, (ua, ub, la, lb)
            if uba - dev > vi:
                ua = (vi + dev - y0) / (ti - t0)
                ub = y0 - ua * t0
            if lba + dev < vi:
                la = (vi - dev - y0) / (ti - t0)
                lb = y0 - la * t0
        i = end_s
        # vector mode: clear whole chunks while no point needs an update
        chunk = 256
        while i < n:
            hi = min(n, i + chunk)
            tc = t[i:hi].astype(np.float64)
            vc = v[i:hi].astype(np.float64)
            devc = np.abs(vc * ebdiv)
            action = (vc < ua * tc + ub - devc) | (vc > la * tc + lb + devc)
            if action.any():
                i += int(action.argmax())  # resume scalar AT the action
                break
            i = hi
            chunk = min(chunk * 4, 1 << 16)
    return n, (ua, ub, la, lb)


def _f32_roundtrips(x: float) -> bool:
    return float(np.float32(x)) == x


def _swing_encode(bounds: tuple[float, float, float, float]) -> bytes:
    """Midline encode, 8/12/16 bytes (SwingFilterModelType.java:131-143)."""
    ua, ub, la, lb = bounds
    a = (la + ua) / 2.0
    b = (lb + ub) / 2.0
    if _f32_roundtrips(a) and _f32_roundtrips(b):
        return struct.pack(">ff", a, b)
    elif _f32_roundtrips(a):
        return struct.pack(">fd", a, b)
    else:
        return struct.pack(">dd", a, b)


def swing_decode(model: bytes) -> tuple[float, float]:
    """Decode (a, b) honoring the 8/12/16-byte widths
    (SwingFilterSegment ctor, SwingFilterModelType.java:200-215)."""
    if len(model) == 16:
        return struct.unpack(">dd", model)
    if len(model) == 12:
        a, b = struct.unpack(">fd", model)
        return float(a), b
    a, b = struct.unpack(">ff", model)
    return float(a), float(b)


def _swing_size(
    bounds: tuple[float, float, float, float],
    t: np.ndarray,
    v: np.ndarray,
    error_bound: float,
) -> float:
    """Swing size(): NaN if the float32-cast midline violates the bound at
    any gridded point, else the encoded width (SwingFilterModelType.java:
    156-186)."""
    ua, ub, la, lb = bounds
    a = (la + ua) / 2.0
    b = (lb + ub) / 2.0
    approx = (a * t.astype(np.float64) + b).astype(np.float32).astype(np.float64)
    if outside_error_bound_vec(error_bound, approx, v.astype(np.float64)).any():
        return float("nan")
    if _f32_roundtrips(a) and _f32_roundtrips(b):
        return 8.0
    elif _f32_roundtrips(a):
        return 12.0
    else:
        return 16.0


def _ratio(length: int, size: float) -> np.float32:
    """compressionRatio in float32 arithmetic (ModelType.java:65-70);
    gaps == 0 with one series per group."""
    if length == 0 or np.isnan(size):
        return np.float32("nan")
    return np.float32(16.0 * length) / (np.float32(24.0) + np.float32(size))


def _seq_sum64(v: np.ndarray) -> float:
    """Left-to-right float64 accumulation of float32 values (Java's
    `double += float` loop), not numpy pairwise summation."""
    if len(v) == 0:
        return 0.0
    return float(np.cumsum(v.astype(np.float64))[-1])


def _emit(
    mtid: int,
    model: bytes,
    t: np.ndarray,
    v: np.ndarray,
    length: int,
) -> Segment:
    """Build the segment row incl. pre-computed summary columns.

    Summaries use the reference's decompress-side closed forms so that
    rollups computed from summaries match rollups computed from grid():
    PMC min=max=value, sum=(double)(length*value) as float math
    (PMC_MeanModelType.java:137-150); Swing endpoint min/max by slope sign
    and sum=(f(start)+f(end))/2*length in doubles (SwingFilterModelType.java:
    220-248); Gorilla/Uncompressed loop over the (losslessly stored) floats.
    """
    start_ts = int(t[0])
    end_ts = int(t[length - 1])
    if mtid == MTID_PMC_MEAN:
        value = struct.unpack(">f", model)[0]
        vmin = vmax = float(np.float32(value))
        vsum = float(np.float32(length) * np.float32(value))
    elif mtid == MTID_SWING:
        a, b = swing_decode(model)
        first = a * start_ts + b
        last = a * end_ts + b
        vsum = (first + last) / 2.0 * length
        f_start = float(np.float32(first))
        f_end = float(np.float32(last))
        if a == 0:
            vmin = vmax = float(np.float32(b))
        elif a > 0:
            vmin, vmax = f_start, f_end
        else:
            vmin, vmax = f_end, f_start
    else:  # Gorilla / Uncompressed store the exact float32 values
        w = v[:length]
        vmin = float(w.min())
        vmax = float(w.max())
        vsum = _seq_sum64(w)
    return Segment(start_ts, end_ts, mtid, model, length, vmin, vmax, vsum)


def _compress_core_py(
    t: np.ndarray, v: np.ndarray, cfg: EngineConfig, allow_flush: bool
) -> tuple[list[Segment], int]:
    """Shared cascade loop; returns (segments, points consumed).

    allow_flush=True implements the full reference semantics including
    run-end flush emission (SegmentGenerator.java:213-236); False stops
    before the first flush emission so only prefix-stable segments are
    produced (the streaming-ingest case; a segment emitted at buffer size
    B* = max(pmc_prefix, swing_prefix, length_bound) + 1 <= rem depends
    only on the first B* points because the cascade is greedy and
    fail-sticky, SegmentGenerator.java:190-211)."""
    eb = cfg.error_bound
    lb = cfg.length_bound
    n = len(v)
    segments: list[Segment] = []
    i = 0
    while i < n:
        rem = n - i
        tw = t[i:]
        vw = v[i:]
        p, pmc_mean = pmc_prefix(vw, eb)
        s, swing_bounds = swing_prefix(tw, vw, eb)
        if max(p, s, lb) + 1 <= rem:
            bsize = max(p, s, lb) + 1  # emission point: all models stuck
        elif allow_flush:
            bsize = rem  # run ended: flush
        else:
            break  # unfinished run: emission here would not be stable
        len_p = min(p, bsize)
        len_s = min(s, bsize)
        len_g = min(lb, bsize)

        # candidate sizes / ratios, cascade order PMC, Swing, Gorilla
        size_p = 4.0 if len_p > 0 else float("nan")
        if len_s >= 2 and swing_bounds is not None:
            size_s = _swing_size(swing_bounds, tw[:len_s], vw[:len_s], eb)
        else:
            size_s = float("nan")
        g_model, g_bytes = gorilla_encode(vw[:len_g])
        size_g = float(g_bytes)

        candidates = (
            (MTID_PMC_MEAN, len_p, _ratio(len_p, size_p)),
            (MTID_SWING, len_s, _ratio(len_s, size_s)),
            (MTID_GORILLA, len_g, _ratio(len_g, size_g)),
        )
        best = candidates[0]
        for cand in candidates:
            # literal reference loop: keep best only on strict less-than,
            # so NaNs and ties fall through to the later model
            if not (cand[2] < best[2]):
                best = cand
        mtid, blen, bratio = best
        if np.isnan(bratio) or blen == 0:
            # Uncompressed fallback fitted to the whole buffer
            mtid = MTID_UNCOMPRESSED
            blen = min(lb, bsize)
            model = np.ascontiguousarray(vw[:blen], dtype=">f4").tobytes()
        elif mtid == MTID_PMC_MEAN:
            model = struct.pack(">f", pmc_mean)
        elif mtid == MTID_SWING:
            model = _swing_encode(swing_bounds)
        else:
            model = g_model
        segments.append(_emit(mtid, model, tw, vw, blen))
        i += blen
    return segments, i


def _c_call(fn, t, v, cfg, extra_args, n) -> tuple[list[Segment], int]:
    """Invoke a C cascade entry point and materialize Segment rows.

    Retries with a doubled model arena on overflow (the 8n+1k initial cap
    already exceeds the worst case — Gorilla <= 6 B/pt — so the retry loop
    is a belt-and-braces path, not a hot one)."""
    import ctypes

    seg_idx = np.empty(n, dtype=np.int64)
    seg_len = np.empty(n, dtype=np.int64)
    seg_mtid = np.empty(n, dtype=np.int32)
    seg_off = np.empty(n, dtype=np.int64)
    seg_mlen = np.empty(n, dtype=np.int64)
    seg_vmin = np.empty(n, dtype=np.float64)
    seg_vmax = np.empty(n, dtype=np.float64)
    seg_vsum = np.empty(n, dtype=np.float64)
    gscratch = np.empty(6 * min(cfg.length_bound, n) + 32, dtype=np.uint8)
    arena_cap = 8 * n + 1024
    consumed = ctypes.c_int64(0)

    def ptr(a, ct):
        return a.ctypes.data_as(ctypes.POINTER(ct))

    while True:
        arena = np.empty(arena_cap, dtype=np.uint8)
        k = fn(
            ptr(t, ctypes.c_int64), ptr(v, ctypes.c_float), n, *extra_args,
            ptr(seg_idx, ctypes.c_int64), ptr(seg_len, ctypes.c_int64),
            ptr(seg_mtid, ctypes.c_int32), ptr(seg_off, ctypes.c_int64),
            ptr(seg_mlen, ctypes.c_int64), ptr(seg_vmin, ctypes.c_double),
            ptr(seg_vmax, ctypes.c_double), ptr(seg_vsum, ctypes.c_double),
            ptr(arena, ctypes.c_uint8), arena_cap,
            ptr(gscratch, ctypes.c_uint8), ctypes.byref(consumed),
        )
        if k >= 0:
            break
        if k != -1:
            raise ValueError(f"C kernel rejected its arguments (rc={k})")
        arena_cap *= 2
    # copy only the used prefix: the arena is 8n+1k but the model bytes
    # occupy max(off+mlen) of it (ADVICE r3 — avoids a transient copy
    # several times the payload on large series)
    used = int((seg_off[:k] + seg_mlen[:k]).max()) if k else 0
    ab = arena[:used].tobytes()
    out = []
    for j in range(k):
        a = int(seg_idx[j])
        ln = int(seg_len[j])
        off = int(seg_off[j])
        out.append(
            Segment(
                int(t[a]), int(t[a + ln - 1]), int(seg_mtid[j]),
                ab[off : off + int(seg_mlen[j])], ln,
                float(seg_vmin[j]), float(seg_vmax[j]), float(seg_vsum[j]),
            )
        )
    return out, int(consumed.value)


def _compress_core(
    t: np.ndarray, v: np.ndarray, cfg: EngineConfig, allow_flush: bool
) -> tuple[list[Segment], int]:
    """Dispatch one gap-free run to the C kernel when available (identical
    output, ~10-30x the throughput), else the numpy implementation."""
    from modelardb_dynamic_spark.models import ckernel

    lib = ckernel.load()
    if lib is None:
        return _compress_core_py(t, v, cfg, allow_flush)
    n = len(v)
    if n == 0:
        return [], 0
    t = np.ascontiguousarray(t, dtype=np.int64)
    v = np.ascontiguousarray(v, dtype=np.float32)
    return _c_call(
        lib.mdbs_compress_run, t, v, cfg,
        (float(cfg.error_bound), int(cfg.length_bound), int(allow_flush)), n,
    )


def compress_run(
    t: np.ndarray, v: np.ndarray, cfg: EngineConfig
) -> list[Segment]:
    """Compress one gap-free run (regular sampling interval) of one series.

    t: int64 epoch-millis (regularly spaced), v: float32 values.
    Implements the reduced emission semantics documented in the module
    docstring for the reference cascade PMC-Mean -> Swing -> Gorilla with
    the Uncompressed fallback.
    """
    return _compress_core(t, v, cfg, allow_flush=True)[0]


def compress_run_stable(
    t: np.ndarray, v: np.ndarray, cfg: EngineConfig
) -> tuple[list[Segment], int]:
    """Compress only the *stable* prefix of an unfinished run: segments
    whose contents cannot change if more points are appended. Returns
    (segments, points_consumed). Used by the streaming ingest for runs
    still open under the watermark."""
    return _compress_core(t, v, cfg, allow_flush=False)


def split_runs(t: np.ndarray, si_ms: int) -> list[tuple[int, int]]:
    """[start, end) index ranges of gap-free runs: a boundary wherever the
    timestamp delta differs from the sampling interval (the reference
    flushes on gaps, SegmentGenerator.java:165-185)."""
    n = len(t)
    if n == 0:
        return []
    breaks = np.nonzero(np.diff(t) != si_ms)[0] + 1
    starts = np.concatenate(([0], breaks))
    ends = np.concatenate((breaks, [n]))
    return list(zip(starts.tolist(), ends.tolist()))


def compress_series(
    t: np.ndarray, v: np.ndarray, cfg: EngineConfig
) -> list[Segment]:
    """Compress a whole (sorted, deduplicated) series: split into gap-free
    runs, compress each run independently.  With the C kernel loaded this
    is ONE C call per series (run splitting happens in C too), so the
    per-call overhead stays constant no matter how gappy the series is."""
    from modelardb_dynamic_spark.models import ckernel

    t = np.ascontiguousarray(t, dtype=np.int64)
    v = np.ascontiguousarray(v, dtype=np.float32)
    lib = ckernel.load()
    if lib is None:
        out: list[Segment] = []
        for a, b in split_runs(t, cfg.sampling_interval_ms):
            out.extend(
                _compress_core_py(t[a:b], v[a:b], cfg, allow_flush=True)[0]
            )
        return out
    n = len(v)
    if n == 0:
        return []
    return _c_call(
        lib.mdbs_compress_series, t, v, cfg,
        (
            int(cfg.sampling_interval_ms),
            float(cfg.error_bound),
            int(cfg.length_bound),
        ), n,
    )[0]
