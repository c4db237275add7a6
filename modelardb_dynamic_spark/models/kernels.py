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

One cascade, widened bound: with the C kernel loaded, every entry here
runs _ckernel.c's mdbs_compress_group on the series as a group of one (as
the reference does; the grouped engine in models/grouped.py is the same
cascade over G members). This numpy module is its differential reference,
and the fallback without a C compiler. Percentage errors are compared
against the float32 error bound widened to double (Static.java:105-107).

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


def _minmax32(w: np.ndarray) -> tuple[float, float]:
    """Java Math.min/max folded over float32 values: NaN-propagating, and
    -0.0 < +0.0 (numpy's min/max pick a signed zero by position)."""
    vmin = float(w.min())
    vmax = float(w.max())
    if vmin == 0.0 or vmax == 0.0:
        neg = np.signbit(w[w == 0])
        if vmin == 0.0:
            vmin = -0.0 if neg.any() else 0.0
        if vmax == 0.0:
            vmax = -0.0 if neg.all() else 0.0
    return vmin, vmax


def _emit(
    mtid: int,
    model: bytes,
    start_ts: int,
    end_ts: int,
    v: np.ndarray | None,
    length: int,
) -> Segment:
    """Build the segment row incl. pre-computed summary columns.

    Summaries use the reference's decompress-side closed forms so that
    rollups computed from summaries match rollups computed from grid():
    PMC min=max=value, sum=(double)(length*value) as float math
    (PMC_MeanModelType.java:137-150); Swing endpoint min/max by slope sign
    and sum=(f(start)+f(end))/2*length in doubles (SwingFilterModelType.java:
    220-248); Gorilla/Uncompressed loop over the (losslessly stored) floats
    in v (unused for PMC and Swing).
    """
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
        vmin, vmax = _minmax32(w)
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
        segments.append(
            _emit(mtid, model, int(tw[0]), int(tw[blen - 1]), vw, blen)
        )
        i += blen
    return segments, i


def _c_segments(
    t: np.ndarray, v: np.ndarray, cfg: EngineConfig, **kw
) -> tuple[list[Segment], int]:
    """Segments of one series from the C cascade (a group of one, ~10-30x
    the numpy throughput, identical output); returns (segments, points
    consumed)."""
    from modelardb_dynamic_spark.models import ckernel

    c = ckernel.cascade(t, v, cfg.error_bound, cfg.length_bound, **kw)
    segs = list(
        map(Segment, c.start_ts, c.end_ts, c.mtid, c.model, c.cnt,
            c.vmin, c.vmax, c.vsum)
    )
    return segs, c.consumed


def _compress_core(
    t: np.ndarray, v: np.ndarray, cfg: EngineConfig, allow_flush: bool
) -> tuple[list[Segment], int]:
    """Dispatch one gap-free run to the C kernel when available, else the
    numpy implementation."""
    from modelardb_dynamic_spark.models import ckernel

    if ckernel.load() is None:
        return _compress_core_py(t, v, cfg, allow_flush)
    return _c_segments(t, v, cfg, allow_flush=allow_flush)


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
    if ckernel.load() is None:
        out: list[Segment] = []
        for a, b in split_runs(t, cfg.sampling_interval_ms):
            out.extend(
                _compress_core_py(t[a:b], v[a:b], cfg, allow_flush=True)[0]
            )
        return out
    return _c_segments(t, v, cfg, si_ms=int(cfg.sampling_interval_ms))[0]
