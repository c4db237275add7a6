"""Grouped (multi-series) model compression with DYNAMIC SPLIT/JOIN — the
"Dynamic" in ModelarDB-Dynamic, re-expressed from scratch in Python.

Behavioral contract (differentially tested bit-for-bit against the
reference Java engine via tests/golden_grouped/, generated by
tools/goldengen/GroupHarness.java):

- A group of aligned series shares one segment stream: a model must
  represent EVERY member's value at every timestamp within the error
  bound (core/SegmentGenerator.java:152-205).
    * PMC: joint min/max/sum over all member values per row
      (PMC_MeanModelType.java:48-75)
    * Swing: row 0 collapses to the member average (all members must be
      within bound of it); later rows append value-at-a-time to the
      shared line filter (SwingFilterModelType.java:49-116)
    * Gorilla: member values interleave row-major into one XOR stream,
      length bound counts ROWS (FacebookGorillaModelType.java:46-64)
    * Uncompressed fallback: raw row-major floats
- One cascade, widened bound: every model compares percentage errors
  against the float32 error bound widened to double, like the
  single-series path (Static.java:105-107); a group of one emits the
  single series' segments. Groups that provably never split run
  through the one C cascade (_ckernel.c mdbs_compress_group, via
  ckernel.cascade); this engine runs every other group and is the C
  path's differential reference.
- Gap semantics: a NaN marks gap START for that member (flush, member
  leaves the active set); a timestamp jump > samplingInterval after
  real values resume marks gap END (flush, member re-enters)
  (SegmentGenerator.java:162-185). Buffer membership is constant
  between flushes, so every emitted segment carries the member set.
- Dynamic split (SegmentGenerator.java:296-303, 334-387): after a
  finalized segment, if its compression ratio is below
  dynamic_split_fraction * running average and the buffer is non-empty
  with >1 member, members are greedily partitioned: i and j stay
  together iff every pair of buffered values is within 2 * error_bound
  percentage error (ModelType.withinErrorBound). Each partition becomes
  an independent sub-generator seeded with its slice of the buffer.
- Dynamic join (SegmentGenerator.java:439-575): a sub-generator whose
  finalized-segment count hits a doubling schedule (1, 2, 4, ...) is
  checked against all other subs; if their buffer tails (latest rows,
  equal last timestamps) are pairwise within 2 * error_bound, the subs
  merge: the shared tail seeds the joined buffer, older rows are
  flushed per-sub. When the full original membership reunites, the
  master generator resumes.

The driver loop mirrors consumeAllDataPoints: the master consumes rows
until a split exists; then all subs consume one row per pass with a join
check between passes (SegmentGenerator.java:109-136).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from modelardb_dynamic_spark.config import (
    MTID_GORILLA,
    MTID_PMC_MEAN,
    MTID_SWING,
    MTID_UNCOMPRESSED,
    EngineConfig,
)
from modelardb_dynamic_spark.models.error import (
    percentage_error,
    percentage_error_vec,
)


@dataclass
class GroupSegment:
    start_ts: int
    end_ts: int
    mtid: int
    model: bytes
    cnt: int  # rows (timestamps); data points = cnt * len(members)
    members: tuple[int, ...]  # member ids present in this segment
    gaps: tuple[int, ...]  # member ids of the group absent from it
    kind: str = "F"  # "F" finalized | "T" temporary (maximum_latency)


def _out_of_bound(eb: float, approx: float, real: float) -> bool:
    """eb is the float32 error bound widened to double, as the reference
    compares it (Static.java:105-107); the models widen it once."""
    return percentage_error(approx, real) > eb


# --- model states (append one ROW of member values at a time) ----------------


class _PMC:
    mtid = MTID_PMC_MEAN

    def __init__(self, eb: float):
        self.eb = float(np.float32(eb))

    def initialize(self, buffer: list[list[float]]) -> None:
        self.sum = 0.0
        self.size = 0
        self.min = float("inf")
        self.max = float("-inf")
        self.within = True
        for row in buffer:
            if not self.append(row):
                return

    def append(self, row: list[float]) -> bool:
        if not self.within:
            return False
        nmin, nmax, nsum = self.min, self.max, self.sum
        for val in row:
            nsum += val
            if val < nmin:
                nmin = val
            if val > nmax:
                nmax = val
        avg = float(np.float32(nsum / ((self.size + 1) * len(row))))
        if _out_of_bound(self.eb, avg, nmin) or _out_of_bound(self.eb, avg, nmax):
            self.within = False
            return False
        self.min, self.max, self.sum = nmin, nmax, nsum
        self.size += 1
        return True

    def length(self) -> int:
        return self.size

    def size_bytes(self, ts, buffer, width) -> float:
        return 4.0 if self.size else float("nan")

    def get_model(self, ts, buffer, width) -> bytes:
        return struct.pack(">f", np.float32(self.sum / (self.size * width)))


class _Swing:
    mtid = MTID_SWING

    def __init__(self, eb: float):
        self.eb = float(np.float32(eb))
        self.ebdiv = self.eb / 100.1

    def initialize(self, buffer: list[list[float]], ts: list[int]) -> None:
        self.size = 0
        self.within = True
        self.ua = self.ub = self.la = self.lb = 0.0
        self.t0 = 0
        self.y0 = 0.0
        for i, row in enumerate(buffer):
            if not self.append(ts[i], row):
                return

    def append(self, t: int, row: list[float]) -> bool:
        if not self.within:
            return False
        cur = self.size
        if cur == 0:
            vmin = min(row)
            vmax = max(row)
            # summed from the first member, so a group of one anchors at
            # its value exactly (-0.0 included) like kernels.swing_prefix
            s = row[0]
            for val in row[1:]:
                s += val
            avg = float(np.float32(s / len(row)))
            if _out_of_bound(self.eb, avg, vmin) or _out_of_bound(self.eb, avg, vmax):
                self.within = False
                return False
            self.t0 = t
            self.y0 = avg
        else:
            for vi in row:
                dev = abs(vi * self.ebdiv)
                if self.size == 1:
                    self.ua = (vi + dev - self.y0) / (t - self.t0)
                    self.ub = self.y0 - self.ua * self.t0
                    self.la = (vi - dev - self.y0) / (t - self.t0)
                    self.lb = self.y0 - self.la * self.t0
                    self.size = cur + 1
                else:
                    uba = self.ua * t + self.ub
                    lba = self.la * t + self.lb
                    if uba + dev < vi or lba - dev > vi:
                        self.within = False
                        self.size = cur
                        return False
                    if uba - dev > vi:
                        self.ua = (vi + dev - self.y0) / (t - self.t0)
                        self.ub = self.y0 - self.ua * self.t0
                    if lba + dev < vi:
                        self.la = (vi - dev - self.y0) / (t - self.t0)
                        self.lb = self.y0 - self.la * self.t0
        self.size = cur + 1
        return True

    def length(self) -> int:
        return self.size

    def _ab(self) -> tuple[float, float]:
        return (self.la + self.ua) / 2.0, (self.lb + self.ub) / 2.0

    def size_bytes(self, ts, buffer, width) -> float:
        if self.size < 2:
            return float("nan")
        a, b = self._ab()
        nvals = self.size * (len(buffer[0]) if buffer else 0)
        if nvals >= 32:
            # vectorized re-verify (the final-flush path): same op
            # sequence — f32 midline per row, widened bound,
            # percentage_error semantics. Cutoff 32: below that the
            # array setup costs more than the scalar loop; above, the
            # scalar path's per-value np.float32 boxing dominates
            # (measured 0.23 ms/call at 400 values on the flapping
            # corpus vs ~15 us vectorized)
            tsa = np.asarray(ts[: self.size], dtype=np.float64)
            approx = (a * tsa + b).astype(np.float32).astype(np.float64)
            vals = np.asarray(buffer[: self.size], dtype=np.float64)
            err = percentage_error_vec(
                np.repeat(approx, vals.shape[1]), vals.ravel()
            )
            if (err > self.eb).any():
                return float("nan")
        else:
            for i in range(self.size):
                approx = float(np.float32(a * ts[i] + b))
                for val in buffer[i]:
                    if _out_of_bound(self.eb, approx, val):
                        return float("nan")
        return float(len(self.get_model(ts, buffer, width)))

    def get_model(self, ts, buffer, width) -> bytes:
        a, b = self._ab()
        fa = float(np.float32(a)) == a
        fb = float(np.float32(b)) == b
        if fa and fb:
            return struct.pack(">ff", a, b)
        if fa:
            return struct.pack(">fd", a, b)
        return struct.pack(">dd", a, b)


class _Gorilla:
    mtid = MTID_GORILLA

    def __init__(self, eb: float, length_bound: int):
        self.length_bound = length_bound

    def initialize(self, buffer: list[list[float]]) -> None:
        self.size = 0
        self.acc = 0
        self.nbits = 0
        self.stored_lz = 1 << 30
        self.stored_tz = 0
        self.last = 0
        for row in buffer:
            self.append(row)

    def _compress(self, value: float) -> None:
        cur = int(np.float32(value).view(np.uint32))
        xor = cur ^ self.last
        if xor == 0:
            self.acc <<= 1
            self.nbits += 1
        else:
            lz = 32 - xor.bit_length()
            tz = (xor & -xor).bit_length() - 1
            if lz >= self.stored_lz and tz >= self.stored_tz:
                sig = 32 - self.stored_lz - self.stored_tz
                self.acc = (self.acc << (2 + sig)) | (
                    0b10 << sig
                ) | ((xor >> self.stored_tz) & ((1 << sig) - 1))
                self.nbits += 2 + sig
            else:
                sig = 32 - lz - tz
                self.acc = (self.acc << 2) | 0b11
                self.acc = (self.acc << 5) | lz
                self.acc = (self.acc << 6) | (sig & 0x3F)
                self.acc = (self.acc << sig) | ((xor >> tz) & ((1 << sig) - 1))
                self.nbits += 13 + sig
                self.stored_lz = lz
                self.stored_tz = tz
        self.last = cur

    def append(self, row: list[float]) -> bool:
        if self.size == self.length_bound:
            return False
        if self.size == 0:
            self.last = int(np.float32(row[0]).view(np.uint32))
            self.acc = self.last
            self.nbits = 32
            for val in row[1:]:
                self._compress(val)
        else:
            for val in row:
                self._compress(val)
        self.size += 1
        return True

    def length(self) -> int:
        return self.size

    def size_bytes(self, ts, buffer, width) -> float:
        return float((self.nbits + 7) // 8) if self.size else float("nan")

    def get_model(self, ts, buffer, width) -> bytes:
        pad = (-self.nbits) % 8
        return (self.acc << pad).to_bytes((self.nbits + pad) // 8, "big")


class _Uncompressed:
    mtid = MTID_UNCOMPRESSED

    def __init__(self, eb: float, length_bound: int):
        self.length_bound = length_bound

    def initialize(self, buffer: list[list[float]]) -> None:
        self.size = min(self.length_bound, len(buffer))

    def length(self) -> int:
        return self.size

    def size_bytes(self, ts, buffer, width) -> float:
        return 4.0 * self.size if self.size else float("nan")

    def get_model(self, ts, buffer, width) -> bytes:
        # quirk parity: the reference serializes the WHOLE buffer it is
        # handed, not only length() rows (UncompressedModelType.java:63-71)
        out = bytearray()
        for row in buffer:
            for val in row:
                out += struct.pack(">f", np.float32(val))
        return bytes(out)


def _ratio_g(length: int, size: float, n_gaps: int) -> float:
    """compressionRatio in float32 arithmetic incl. the gaps term
    (ModelType.java:65-70)."""
    if length == 0 or np.isnan(size):
        return float("nan")
    num = np.float32(16.0) * np.float32(length)
    den = np.float32(24.0) + np.float32(size) + np.float32(4.0) * np.float32(n_gaps)
    return float(np.float32(num / den))


def _rows_inband_vec(V64: np.ndarray, bound: float) -> np.ndarray:
    """Per-row bool: every ordered member pair strictly within `bound`
    percentage error — when every row of a group is, a dynamic-split
    partition provably keeps the full width together (_within_2eb is True
    for every pair over any sub-range), so no split ever happens.
    Cheap sufficient row filter first, exact ordered-pair check only on
    rows it can't clear. NaN rows come out False. _group_fast_eligible
    asks it of every row of a whole group."""
    n, w = V64.shape
    if n == 0:
        return np.zeros(0, dtype=bool)
    if w == 1:
        return ~np.isnan(V64[:, 0])
    rmin = V64.min(axis=1)
    rmax = V64.max(axis=1)
    minabs = np.abs(V64).min(axis=1)
    with np.errstate(invalid="ignore"):
        cleared = (rmax - rmin) * 100.0 < bound * minabs
    ok = cleared.copy()
    rest = np.nonzero(~cleared)[0]
    if len(rest):
        B = V64[rest]
        good = ~np.isnan(B).any(axis=1)
        for i in range(w):
            err = percentage_error_vec(
                np.broadcast_to(B[:, i : i + 1], B.shape), B
            )
            with np.errstate(invalid="ignore"):
                good &= (err < bound).all(axis=1)
        ok[rest] = good
    return ok


# --- the (sub-)generator ------------------------------------------------------


class _SubGen:
    def __init__(self, engine: "GroupEngine", cols: tuple[int, ...], gaps: set[int]):
        self.e = engine
        self.cols = cols  # global column indices this generator controls
        self.gaps = set(gaps)  # member ids (1-based tids) currently in gap
        self.buffer_ts: list[int] = []
        self.buffer: list[list[float]] = []
        self.active: tuple[int, ...] = ()  # cols present in buffer rows
        self.prev_ts = {c: engine.prev_ts_init.get(c, -(1 << 62)) for c in cols}
        self.cursor = 0  # next global row index to consume
        self.model_idx = 0
        self.models = self._fresh_models()
        self.models[0].initialize([])
        self.ratio_avg = 0.0
        self.emitted = 0
        self.next_join_check = 1
        self.yet_emitted = 0  # data points since the last (temp) emission
        self._last_data: tuple[int, int] | None = None  # data_ahead cache
        self.dead = False  # a generator that split (or merged away) stops
        # consuming, mirroring TimeSeriesGroup.timeSeriesHasNext = 0 in the
        # split/join constructors (TimeSeriesGroup.java:72-115)

    def _fresh_models(self):
        cfg = self.e.cfg
        return [
            _PMC(cfg.error_bound),
            _Swing(cfg.error_bound),
            _Gorilla(cfg.error_bound, cfg.length_bound),
        ]

    def _init_model(self, m) -> None:
        if isinstance(m, _Swing):
            m.initialize(self.buffer, self.buffer_ts)
        else:
            m.initialize(self.buffer)

    def _reset_cascade(self) -> None:
        self.model_idx = 0
        self.models = self._fresh_models()
        self._init_model(self.models[0])

    def tids(self) -> tuple[int, ...]:
        return tuple(self.e.tid_of[c] for c in self.cols)

    def has_next(self) -> bool:
        if self.dead:
            return False
        V = self.e.V
        while self.cursor < len(self.e.ts):
            row = V[self.cursor]
            if any(not np.isnan(row[c]) for c in self.cols):
                return True
            self.cursor += 1
        return False

    def data_ahead(self) -> bool:
        """TimeSeriesGroup.hasNext() semantics: any value for my columns
        at or after the cursor — WITHOUT advancing it (cached per drive
        pass). Split-mode pass scheduling needs this side-effect-free so
        ticks stay one-row-per-pass."""
        if self.dead:
            return False
        tag = self.e._drive_gen
        if self._last_data is None or self._last_data[0] != tag:
            Vc = self.e.V[:, list(self.cols)]
            rows = np.flatnonzero(~np.isnan(Vc).all(axis=1))
            self._last_data = (tag, int(rows[-1]) if len(rows) else -1)
        return self.cursor <= self._last_data[1]

    def consume_tick(self) -> None:
        """One PASS tick — the reference's per-pass unit: its shared
        si-lattice iterator yields exactly one grid row per pass per
        split generator (TimeSeriesGroup.java:170-193 `next += si`), and
        a row with no values for this generator's columns is consumed as
        a complete no-op (SegmentGenerator.java consumeDataPoints,
        activeTimeSeries == 0 early return — in particular NO gap is
        marked). This keeps all split generators timestamp-aligned pass
        for pass, which the dynamic-join timing depends on: a gapped
        singleton burns one pass per tick and rejoins its cluster at the
        exact gap-end pass (differentially pinned by the Java fuzz)."""
        row = self.e.V[self.cursor]
        if all(np.isnan(row[c]) for c in self.cols):
            self.cursor += 1
            return
        self.consume_next()

    def consume_next(self) -> None:
        i = self.cursor
        self.cursor += 1
        ts = int(self.e.ts[i])
        row = self.e.V[i]
        current: list[float] = []
        active: list[int] = []
        for c in self.cols:
            val = row[c]
            tid = self.e.tid_of[c]
            if np.isnan(val):
                if tid not in self.gaps:
                    self._flush()
                    self.gaps.add(tid)
            else:
                if (ts - self.prev_ts[c]) > self.e.cfg.sampling_interval_ms:
                    self._flush()
                    self.gaps.discard(tid)
                current.append(float(val))
                active.append(c)
                self.prev_ts[c] = ts
        if not current:
            return
        self.active = tuple(active)
        self.buffer_ts.append(ts)
        self.buffer.append(current)
        self.yet_emitted += 1
        m = self.models[self.model_idx]
        ok = (
            m.append(ts, current) if isinstance(m, _Swing) else m.append(current)
        )
        if not ok:
            self.model_idx += 1
            if self.model_idx == len(self.models):
                self._emit_final(split_allowed=True)
                self._reset_cascade()
            else:
                self._init_model(self.models[self.model_idx])
        # temporary segment after maximum_latency unemitted points
        # (SegmentGenerator.java:207-211)
        if self.e.maximum_latency > 0 and self.yet_emitted == self.e.maximum_latency:
            self._emit_temporary()
            self.yet_emitted = 0

    def _flush(self) -> None:
        if not self.buffer:
            return
        for j in range(self.model_idx + 1, len(self.models)):
            self._init_model(self.models[j])
        while self.buffer:
            self._emit_final(split_allowed=False)
            for m in self.models:
                self._init_model(m)
        self._reset_cascade()

    def _ratio(self, m) -> float:
        return _ratio_g(m.length(), m.size_bytes(self.buffer_ts, self.buffer, len(self.active)), len(self.gaps))

    def _emit_final(self, split_allowed: bool) -> None:
        best = self.models[0]
        for m in self.models:
            r_m = self._ratio(m)
            r_b = self._ratio(best)
            best = best if r_m < r_b else m
        length = best.length()
        ratio = self._ratio(best)
        if np.isnan(ratio) or length == 0:
            best = _Uncompressed(self.e.cfg.error_bound, self.e.cfg.length_bound)
            best.initialize(self.buffer)
            length = best.length()
            ratio = self._ratio(best)
        width = len(self.buffer[0])
        start = self.buffer_ts[0]
        end = self.buffer_ts[length - 1]
        model = best.get_model(self.buffer_ts, self.buffer, width)
        members = tuple(sorted(self.e.tid_of[c] for c in self.active))
        self.e.out.append(
            GroupSegment(
                start_ts=start,
                end_ts=end,
                mtid=best.mtid,
                model=model,
                cnt=length,
                members=members,
                gaps=tuple(sorted(self.gaps)),
            )
        )
        del self.buffer[:length]
        del self.buffer_ts[:length]
        self.yet_emitted = min(self.yet_emitted, len(self.buffer))

        below = ratio < self.e.split_fraction * self.ratio_avg
        self.ratio_avg = (self.ratio_avg * self.emitted + ratio) / (self.emitted + 1)
        self.emitted += 1

        if split_allowed and self.buffer and len(self.buffer[0]) > 1 and below:
            self._split()
        elif self.e.splits and self.emitted == self.next_join_check:
            self.e.to_join.add(self)
            self.emitted = 0
            self.next_join_check *= 2

    def _emit_temporary(self) -> None:
        """SegmentGenerator.java:245-262: emit the current model over the
        whole buffer to the temporary stream; the fallback covers the
        buffer when the current model does not."""
        if not self.buffer:
            return
        m = self.models[self.model_idx]
        ratio = self._ratio(m)
        if m.length() < len(self.buffer) or np.isnan(ratio):
            m = _Uncompressed(self.e.cfg.error_bound, self.e.cfg.length_bound)
            m.initialize(self.buffer)
        length = m.length()
        width = len(self.buffer[0])
        members = tuple(sorted(self.e.tid_of[c] for c in self.active))
        self.e.out.append(
            GroupSegment(
                start_ts=self.buffer_ts[0],
                end_ts=self.buffer_ts[length - 1],
                mtid=m.mtid,
                model=m.get_model(self.buffer_ts, self.buffer, width),
                cnt=length,
                members=members,
                gaps=tuple(sorted(self.gaps)),
                kind="T",
            )
        )

    # --- dynamic split --------------------------------------------------------

    def _within_2eb(self, i: int, j: int) -> bool:
        bound = 2.0 * float(np.float32(self.e.cfg.error_bound))
        for row in self.buffer:
            if percentage_error(row[i], row[j]) >= bound:
                return False
        return True

    def _split(self) -> None:
        remaining = sorted(range(len(self.active)))
        remaining_set = set(remaining)
        width = len(self.active)
        while remaining_set:
            i = min(remaining_set)
            take = [
                j
                for j in sorted(remaining_set)
                if j == i or self._within_2eb(i, j)
            ]
            if len(take) == width:
                return  # everyone still correlated: no split
            for j in take:
                remaining_set.discard(j)
            take_cols = tuple(self.active[j] for j in take)
            gaps = {t for t in self.e.all_tids} - {
                self.e.tid_of[c] for c in take_cols
            }
            self._spawn(take_cols, [r for r in take], gaps)
        if width != len(self.cols):
            # members currently in a gap form their own sub-generator
            gap_cols = tuple(
                c for c in self.cols if self.e.tid_of[c] in self.gaps
            )
            if gap_cols:
                self._spawn(gap_cols, None, set(self.e.all_tids))
        self.buffer.clear()
        self.buffer_ts.clear()
        self.active = ()
        self.dead = True

    def _spawn(self, cols: tuple[int, ...], buf_idx, gaps: set[int]) -> None:
        sg = _SubGen(self.e, cols, gaps)
        if buf_idx is not None:
            sg.buffer_ts = list(self.buffer_ts)
            sg.buffer = [[row[j] for j in buf_idx] for row in self.buffer]
            sg.active = cols
        sg.cursor = self.cursor
        for c in cols:
            sg.prev_ts[c] = self.prev_ts[c]
        sg._reset_cascade()
        if self in self.e.splits:
            self.e.splits[self.e.splits.index(self)] = None
        self.e.splits.append(sg)
        # each split child re-announces its buffer as a temporary segment
        # (SegmentGenerator.java:412-417)
        if self.e.maximum_latency > 0:
            self.yet_emitted = 0
            if sg.buffer:
                sg._emit_temporary()

    def close(self) -> None:
        self._flush()


class GroupEngine:
    """Runs the master/split/join state machine over an aligned value
    matrix (rows = grid timestamps, cols = member series, NaN = absent).

    Two usage modes with IDENTICAL output (the state machine is purely
    order-driven, exactly like the reference's online ingestion — the
    SegmentGenerator never looks ahead):
    - batch: GroupEngine(ts, V, ...).run()
    - incremental/streaming: construct with the column count, then
      feed(ts_chunk, V_chunk) per micro-batch and finish() at the end;
      consumed rows are pruned so state stays bounded by the open
      buffers, not the stream length."""

    def __init__(
        self,
        ts: np.ndarray | None,
        V: np.ndarray | None,
        cfg: EngineConfig,
        split_fraction: float = 10.0,
        tids: list[int] | None = None,
        maximum_latency: int = 0,
        n_series: int | None = None,
    ):
        self.maximum_latency = int(maximum_latency)
        self._drive_gen = 0
        if ts is None:
            if n_series is None:
                raise ValueError("incremental mode needs n_series")
            ts = np.empty(0, dtype=np.int64)
            V = np.empty((0, n_series), dtype=np.float32)
        self.ts = ts
        self.V = V
        self.cfg = cfg
        self.split_fraction = float(np.float32(split_fraction))
        self.tid_of = tids or list(range(1, V.shape[1] + 1))
        self.all_tids = list(self.tid_of)
        self.prev_ts_init: dict[int, int] = {}
        self.out: list[GroupSegment] = []
        self.splits: list[_SubGen | None] = []
        self.to_join: set[_SubGen] = set()
        self._master: _SubGen | None = None

    def _ensure_master(self) -> _SubGen:
        if self._master is None:
            self._master = _SubGen(self, tuple(range(self.V.shape[1])), set())
        return self._master

    def _drive(self, flush: bool) -> None:
        """consumeAllDataPoints (SegmentGenerator.java:109-136), resumable:
        the master consumes until a split exists; split generators then
        each consume one row per pass with a join check between passes; a
        join restoring full membership revives the master.

        Incremental alignment: while feeding (flush=False), a split-mode
        pass only executes when EVERY alive sub-generator has its next row
        available — a sub whose row has not arrived yet would otherwise
        fall behind the batch pass schedule and shift join-check timing
        (observed divergence on gap scenarios). finish() drives with
        flush=True, where a rowless sub is genuinely exhausted and batch
        semantics (skip it, keep passing) apply — so the prefix passes run
        identically either way and streamed output == batch output."""
        master = self._ensure_master()
        self._drive_gen += 1
        while True:
            while not self.splits and master.has_next():
                master.consume_next()
            if not self.splits:
                return
            while True:
                alive = [s for s in self.splits if s is not None]
                if not alive:
                    self.splits = []
                    break  # everyone merged away: back to the master loop
                # pass scheduling mirrors SegmentGenerator.java:118-131:
                # every generator whose series still hold data ticks ONE
                # grid row per pass (consume_tick), so all stay
                # timestamp-aligned; a generator out of data stops
                # ticking (its state freezes) while the others continue
                if flush:
                    tickers = [
                        s
                        for s in alive
                        if s.cursor < len(self.ts) and s.data_ahead()
                    ]
                    if not tickers:
                        return  # bounded close: close() flushes buffers
                else:
                    # feed mode: a quiet stretch may get data in a later
                    # feed (unbounded-series hasNext), so every alive sub
                    # ticks; lockstep keeps all cursors equal, so one
                    # availability check covers the pass
                    if alive[0].cursor >= len(self.ts):
                        return  # await more rows
                    tickers = alive
                tick_ids = {id(s) for s in tickers}
                for sg in list(self.splits):
                    if (
                        sg is not None
                        and id(sg) in tick_ids
                        and sg.cursor < len(self.ts)
                    ):
                        sg.consume_tick()
                self.splits = [s for s in self.splits if s is not None]
                self._join_if_correlated(master)
                if not self.splits:
                    break  # full rejoin revived the master
            if not self.splits and not master.has_next():
                return

    def _prune(self) -> None:
        """Drop fully-consumed rows; buffers hold value copies, so only
        cursors need shifting. Keeps incremental state proportional to the
        open buffers."""
        gens = [g for g in [self._master, *self.splits] if g is not None]
        alive = [g for g in gens if not g.dead]
        if not alive:
            return
        offset = min(g.cursor for g in alive)
        if offset <= 0:
            return
        self.ts = self.ts[offset:]
        self.V = self.V[offset:]
        for g in gens:
            g.cursor = max(0, g.cursor - offset)

    def feed(self, ts_chunk: np.ndarray, V_chunk: np.ndarray) -> list[GroupSegment]:
        """Append rows (grid-aligned, strictly increasing across feeds) and
        drive until quiescent; returns the segments emitted by this call."""
        mark = len(self.out)
        self.ts = np.concatenate([self.ts, np.asarray(ts_chunk, dtype=np.int64)])
        self.V = np.concatenate(
            [self.V, np.asarray(V_chunk, dtype=np.float32)], axis=0
        )
        self._drive(flush=False)
        self._prune()
        return self.out[mark:]

    def finish(self) -> list[GroupSegment]:
        """Flush all open buffers (SegmentGenerator.close)."""
        master = self._ensure_master()
        self._drive(flush=True)
        for sg in self.splits:
            if sg is not None:
                sg.close()
        master.close()
        return self.out

    def run(self) -> list[GroupSegment]:
        self.finish()
        return self.out

    # --- dynamic join ---------------------------------------------------------

    def _tail_within_2eb(self, a: _SubGen, b: _SubGen) -> bool:
        bound = 2.0 * float(np.float32(self.cfg.error_bound))
        la, lb = len(a.buffer), len(b.buffer)
        for k in range(min(la, lb)):
            ra = a.buffer[la - 1 - k]
            rb = b.buffer[lb - 1 - k]
            if percentage_error(ra[0], rb[0]) >= bound:
                return False
        return True

    def _join_if_correlated(self, master: _SubGen) -> None:
        marked: set[int] = set()
        joined: list[_SubGen] = []
        while self.to_join:
            sgi = next(iter(sorted(self.to_join, key=lambda s: s.cols)))
            group: list[_SubGen] = []
            shortest = 1 << 62
            for sgj in self.splits:
                if sgj is None:
                    continue
                if sgj is sgi:
                    group.append(sgi)
                    marked.add(id(sgi))
                    self.to_join.discard(sgi)
                    continue
                if id(sgj) in marked:
                    continue
                a, b = len(sgi.buffer), len(sgj.buffer)
                can = (
                    a > 0
                    and b > 0
                    and sgi.buffer_ts[-1] == sgj.buffer_ts[-1]
                    and self._tail_within_2eb(sgi, sgj)
                )
                if can:
                    shortest = min(shortest, min(a, b))
                    group.append(sgj)
                    marked.add(id(sgj))
                    self.to_join.discard(sgj)
            if len(group) > 1:
                self._merge(group, shortest, joined, master)
                for g in group:
                    self.to_join.discard(g)
        self.splits.extend(joined)

    def _merge(
        self,
        sgs: list[_SubGen],
        shortest: int,
        joined: list[_SubGen],
        master: _SubGen,
    ) -> None:
        all_cols = tuple(sorted(c for sg in sgs for c in sg.cols))
        active_cols = tuple(
            sorted(
                c
                for sg in sgs
                for c in sg.cols
                if self.tid_of[c] not in sg.gaps
            )
        )
        if len(all_cols) == len(self.all_tids):
            nsg = master
            nsg.cols = all_cols
            nsg.dead = False
        else:
            nsg = _SubGen(self, all_cols, set())
            joined.append(nsg)
        # shared tail rows seed the joined buffer (newest first, reversed)
        new_buf: list[list[float]] = []
        new_ts: list[int] = []
        for k in range(1, shortest + 1):
            rowvals = {}
            for sg in sgs:
                r = sg.buffer[len(sg.buffer) - k]
                for idx, c in enumerate(sg.active):
                    rowvals[c] = r[idx]
            new_ts.append(sgs[0].buffer_ts[len(sgs[0].buffer_ts) - k])
            new_buf.append([rowvals[c] for c in active_cols])
        new_buf.reverse()
        new_ts.reverse()
        nsg.buffer = new_buf
        nsg.buffer_ts = new_ts
        nsg.active = active_cols
        # older rows of each sub flush as final segments
        for sg in sgs:
            if sg is not nsg and sg in self.splits:
                self.splits[self.splits.index(sg)] = None
            sg.dead = True
            keep = len(new_buf)
            del sg.buffer[len(sg.buffer) - keep :]
            del sg.buffer_ts[len(sg.buffer_ts) - keep :]
            sg._reset_cascade()
            sg._flush()
            for c in sg.cols:
                nsg.prev_ts[c] = sg.prev_ts[c]
        # min, NOT max: a data-exhausted sub's cursor froze behind the
        # ticking subs; max would skip the rows in between (data loss if
        # any carried another member's value). Under lockstep ticking the
        # join precondition (equal last buffered timestamps) guarantees
        # every row in [min, max) is value-free for every merged member,
        # so re-ticking them is a no-op — and the Java join constructor
        # resumes from the MINIMUM of the groups' lattice positions too
        # (TimeSeriesGroup.java:93-115 `next = Math.min(...)`), so the
        # post-join pass lag matches the reference exactly.
        nsg.cursor = min(sg.cursor for sg in sgs)
        nsg.dead = False
        nsg.gaps = set(self.all_tids) - {self.tid_of[c] for c in active_cols}
        nsg._reset_cascade()
        if nsg is master:
            self.splits = [
                s for s in self.splits if s is not None and s is not master
            ]
        # one temp segment supersedes the merged subs' temporaries
        # (SegmentGenerator.java:570-574)
        if self.maximum_latency > 0 and nsg.buffer:
            nsg._emit_temporary()


def _group_fast_eligible(
    ts: np.ndarray, V: np.ndarray, cfg: EngineConfig
) -> bool:
    """True iff the group provably never splits, joins, gaps, or flushes
    mid-stream, so the C cascade fast path is bit-equivalent:

    - no NaN (a NaN is a gap start -> flush + member-set change);
    - no timestamp jump > sampling interval (gap end -> flush);
    - every ordered member pair within 2*eb percentage error at every
      row (_rows_inband_vec): _split's partition then always keeps the
      full width together (take == width -> no split), joins never arise
      without splits."""
    if len(ts) == 0 or np.isnan(V).any():
        return False
    if (np.diff(ts) > cfg.sampling_interval_ms).any():
        return False
    bound = 2.0 * float(np.float32(cfg.error_bound))
    return bool(_rows_inband_vec(V.astype(np.float64), bound).all())


def _compress_group_c(
    ts: np.ndarray, V: np.ndarray, cfg: EngineConfig
) -> list[GroupSegment] | None:
    """C fast path for eligible groups (None -> caller runs the Python
    engine).  Same segment stream bit-for-bit; differentially pinned by
    tests/test_grouped.py::test_group_fast_path_matches_engine."""
    from modelardb_dynamic_spark.models import ckernel

    if ckernel.load() is None or not _group_fast_eligible(ts, V, cfg):
        return None
    c = ckernel.cascade(ts, V, cfg.error_bound, cfg.length_bound)
    members = tuple(range(1, V.shape[1] + 1))
    return [
        GroupSegment(start_ts=s, end_ts=e, mtid=m, model=b, cnt=ln,
                     members=members, gaps=())
        for s, e, m, b, ln in zip(c.start_ts, c.end_ts, c.mtid, c.model, c.cnt)
    ]


def compress_group(
    ts: np.ndarray,
    V: np.ndarray,
    cfg: EngineConfig,
    split_fraction: float = 10.0,
    maximum_latency: int = 0,
) -> list[GroupSegment]:
    """Compress an aligned multi-series group. ts: (n,) int64 grid
    timestamps; V: (n, G) float32 with NaN where a member has no value.
    maximum_latency > 0 also emits temporary segments (kind="T") covering
    the unemitted buffer every maximum_latency points.

    Groups that provably never split/join/gap (see _group_fast_eligible)
    run through the C cascade at ~100x the per-row Python state machine;
    everything else — the scenarios the split/join goldens pin — runs the
    exact Python engine. split_fraction does not affect eligibility: a
    below-average ratio only triggers a split when some member pair
    leaves the 2*eb band, which eligibility excludes."""
    if maximum_latency == 0:
        fast = _compress_group_c(ts, V, cfg)
        if fast is not None:
            return fast
    return GroupEngine(
        ts, V, cfg, split_fraction, maximum_latency=maximum_latency
    ).run()
