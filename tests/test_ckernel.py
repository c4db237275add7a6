"""C cascade kernel vs the numpy reference implementation: byte-identical
segment streams on adversarial corpora (the numpy path itself is pinned to
the Java engine core/SegmentGenerator.java by tests/golden/*, which run
against whatever backend is loaded — see test_models.py).

Comparison is bitwise: model bytes plus struct-packed summary doubles, so
NaN summaries (possible with NaN inputs) compare by bit pattern, not by
IEEE equality.
"""

from __future__ import annotations

import struct
import sys

import numpy as np
import pytest

sys.path.insert(0, "tools")

from modelardb_dynamic_spark.config import EngineConfig
from modelardb_dynamic_spark.models import ckernel
from modelardb_dynamic_spark.models.kernels import (
    _compress_core_py,
    compress_run,
    compress_run_stable,
    compress_series,
    split_runs,
    swing_decode,
)

from kernel_bench import gen_mixed, gen_noise, gen_ramp, gen_smooth

SI = 60_000

pytestmark = pytest.mark.skipif(
    ckernel.load() is None, reason="no C compiler in this environment"
)


def _key(s):
    return (
        s.start_ts, s.end_ts, s.mtid, s.model, s.cnt,
        struct.pack(">ddd", s.vmin, s.vmax, s.vsum),
    )


def _py_series(t, v, cfg):
    out = []
    for a, b in split_runs(t, cfg.sampling_interval_ms):
        out.extend(_compress_core_py(t[a:b], v[a:b], cfg, True)[0])
    return out


@pytest.mark.parametrize("gen", [gen_mixed, gen_noise, gen_smooth, gen_ramp])
@pytest.mark.parametrize("eb", [0.0, 1.0, 10.0])
def test_c_series_matches_python_with_gaps(gen, eb):
    rng = np.random.default_rng(11)
    v = gen(20_000)
    t = np.arange(len(v), dtype=np.int64) * SI
    keep = rng.random(len(v)) > 0.001  # sprinkle gaps
    t, v = t[keep], v[keep]
    for lb in (50, 256):
        cfg = EngineConfig(
            error_bound=eb, sampling_interval_ms=SI, length_bound=lb
        )
        cs = compress_series(t, v, cfg)
        ps = _py_series(t, v, cfg)
        assert [_key(s) for s in cs] == [_key(s) for s in ps]


@pytest.mark.parametrize("eb", [0.0, 10.0])
def test_c_run_and_stable_match_python_with_nans(eb):
    rng = np.random.default_rng(3)
    for trial in range(12):
        n = int(rng.integers(1, 4000))
        v = gen_mixed(n, seed=trial)
        if trial % 3 == 0:
            v[rng.integers(0, n, size=max(1, n // 100))] = np.nan
        t = np.arange(n, dtype=np.int64) * SI
        cfg = EngineConfig(error_bound=eb, sampling_interval_ms=SI)
        c = compress_run(t, v, cfg)
        p = _compress_core_py(t, v, cfg, True)[0]
        assert [_key(s) for s in c] == [_key(s) for s in p], trial
        cseg, ccon = compress_run_stable(t, v, cfg)
        pseg, pcon = _compress_core_py(t, v, cfg, False)
        assert ccon == pcon, trial
        assert [_key(s) for s in cseg] == [_key(s) for s in pseg], trial


def _group_of_one(t, v, cfg, flush):
    """The C group cascade at G = 1 over one gap-free run, as _key rows."""
    c = ckernel.cascade(
        t, v[:, None], cfg.error_bound, cfg.length_bound, allow_flush=flush
    )
    rows = [
        (a, b, m, mb, n, struct.pack(">ddd", lo, hi, sm))
        for a, b, m, mb, n, lo, hi, sm in zip(
            c.start_ts, c.end_ts, c.mtid, c.model, c.cnt, c.vmin, c.vmax,
            c.vsum,
        )
    ]
    return rows, c.consumed


def assert_series_is_a_group_of_one(t, v, cfg):
    """compress_series equals the C group cascade at G = 1 run by run; on
    every run the group entry equals the numpy reference in flush and
    stable mode; without NaN or gaps the Python GroupEngine agrees."""
    from modelardb_dynamic_spark.models.grouped import GroupEngine

    grouped = []
    for a, b in split_runs(t, cfg.sampling_interval_ms):
        for flush in (True, False):
            rows, consumed = _group_of_one(t[a:b], v[a:b], cfg, flush)
            ref, ref_consumed = _compress_core_py(t[a:b], v[a:b], cfg, flush)
            assert rows == [_key(s) for s in ref]
            assert consumed == ref_consumed
            if flush:
                grouped += rows
    series = compress_series(t, v, cfg)
    assert [_key(s) for s in series] == grouped
    if len(split_runs(t, cfg.sampling_interval_ms)) == 1 and not np.isnan(
        v
    ).any():
        eng = GroupEngine(t, v[:, None], cfg).run()
        assert [(s.start_ts, s.end_ts, s.mtid, s.model, s.cnt) for s in eng] \
            == [k[:5] for k in grouped]


@pytest.mark.parametrize("eb", [0.0, 0.3, 1.0, 10.0])
@pytest.mark.parametrize("lb", [3, 50, 256])
def test_series_is_a_group_of_one(eb, lb):
    """One cascade: a single series compresses as a group of one. gen_mixed
    with NaN, +/-inf, +/-0 and a subnormal injected, with and without
    timestamp gaps."""
    rng = np.random.default_rng(int(eb * 10) + lb)
    cfg = EngineConfig(
        error_bound=eb, sampling_interval_ms=SI, length_bound=lb
    )
    specials = np.array(
        [np.nan, np.inf, -np.inf, 0.0, -0.0, 1e-40], dtype=np.float32
    )
    for trial in range(6):
        n = int(rng.integers(1, 1500))
        v = gen_mixed(n, seed=trial)
        t = np.arange(n, dtype=np.int64) * SI
        if trial % 3 == 1:
            idx = rng.integers(0, n, size=max(1, n // 40))
            v[idx] = rng.choice(specials[1:], size=len(idx))
        elif trial % 3 == 2:
            idx = rng.integers(0, n, size=max(1, n // 40))
            v[idx] = rng.choice(specials, size=len(idx))
            keep = rng.random(n) > 0.01
            keep[0] = True
            t, v = t[keep], v[keep]
        assert_series_is_a_group_of_one(t, v, cfg)


def test_group_of_one_widens_the_error_bound():
    """0.3 is not float32-exact: the percentage error of the PMC mean here
    (0.3000000110) lies between 0.3 and float32(0.3). The reference
    widens the float32 bound, so the series and the group of one both
    accept PMC-Mean (the grouped copy once compared the raw double bound
    and fell back to Gorilla)."""
    from modelardb_dynamic_spark.models.grouped import (
        GroupEngine, compress_group)

    t = np.array([0, SI], dtype=np.int64)
    v = np.array([8838.216, 8891.245], dtype=np.float32)
    cfg = EngineConfig(error_bound=0.3, sampling_interval_ms=SI)
    expect = [(2, bytes.fromhex("460a82ec"))]
    for segs in (
        compress_series(t, v, cfg),
        compress_group(t, v[:, None], cfg),
        GroupEngine(t, v[:, None], cfg).run(),
    ):
        assert [(s.mtid, s.model) for s in segs] == expect
    assert_series_is_a_group_of_one(t, v, cfg)


def test_group_of_one_anchors_swing_at_its_value():
    """Swing's row 0 is the member average summed from the first member,
    so a group of one anchors at -0.0 exactly like the series (a sum
    started at +0.0 would store a +0.0 intercept)."""
    t = np.arange(50, dtype=np.int64) * SI
    v = np.arange(50, dtype=np.float32)
    v[0] = -0.0
    cfg = EngineConfig(error_bound=10.0, sampling_interval_ms=SI)
    segs = compress_series(t, v, cfg)
    assert segs[0].mtid == 3
    assert np.signbit(swing_decode(segs[0].model)[1])
    assert_series_is_a_group_of_one(t, v, cfg)


def test_c_kernel_handles_tiny_inputs():
    cfg = EngineConfig(error_bound=10.0, sampling_interval_ms=SI)
    assert compress_series(
        np.array([], dtype=np.int64), np.array([], dtype=np.float32), cfg
    ) == []
    one = compress_run(
        np.array([0], dtype=np.int64), np.array([5.0], dtype=np.float32), cfg
    )
    py = _compress_core_py(
        np.array([0], dtype=np.int64), np.array([5.0], dtype=np.float32),
        cfg, True,
    )[0]
    assert [_key(s) for s in one] == [_key(s) for s in py]


def test_cascade_without_a_kernel_raises(monkeypatch):
    monkeypatch.setattr(ckernel, "load", lambda: None)
    t = np.arange(4, dtype=np.int64) * SI
    with pytest.raises(RuntimeError, match="C kernel unavailable"):
        ckernel.cascade(t, np.ones(4, dtype=np.float32), 1.0, 50)


def test_c_gorilla_decode_matches_python(monkeypatch):
    """C decoder vs the Python specification, bit-for-bit, on streams with
    zero-XOR runs, window reuse, window resets, sig==32 wrap, NaN/inf; the
    batch decode reads every stream out of one buffer, in C and in the
    no-compiler fallback."""
    from modelardb_dynamic_spark.models.gorilla import (
        _gorilla_decode_py,
        gorilla_decode,
        gorilla_decode_batch,
        gorilla_encode,
    )

    rng = np.random.default_rng(42)
    corpora = [
        np.array([1.5], dtype=np.float32),
        np.array([1.5, 1.5, 1.5, 1.5], dtype=np.float32),
        np.array([0.0, -0.0, np.nan, np.inf, -np.inf, 1e-38], dtype=np.float32),
        rng.normal(0, 10, 500).astype(np.float32),
        np.repeat(rng.normal(0, 1, 50), 10).astype(np.float32),
        (rng.integers(0, 5, 300) * 0.25).astype(np.float32),
    ]
    blobs, counts = [], []
    for v in corpora:
        blob, _ = gorilla_encode(v)
        got_c = gorilla_decode(blob, len(v))
        got_py = _gorilla_decode_py(blob, len(v))
        np.testing.assert_array_equal(
            got_c.view(np.uint32), got_py.view(np.uint32)
        )
        np.testing.assert_array_equal(got_c.view(np.uint32), v.view(np.uint32))
        blobs.append(blob)
        counts.append(len(v))
    counts = np.array(counts, dtype=np.int64)
    offs = np.concatenate(([0], np.cumsum(counts)[:-1]))
    # a leading byte no stream owns: stream offsets index the whole buffer
    buf = np.frombuffer(b"\xff" + b"".join(blobs), dtype=np.uint8)
    lens = np.array([len(b) for b in blobs], dtype=np.int64)
    boffs = 1 + np.concatenate(([0], np.cumsum(lens)[:-1]))
    expect = np.concatenate(corpora)
    for lib in (ckernel.load(), None):
        monkeypatch.setattr(ckernel, "load", lambda lib=lib: lib)
        out = np.empty(int(counts.sum()), dtype=np.float32)
        gorilla_decode_batch(buf, boffs, lens, counts, out, offs)
        np.testing.assert_array_equal(out.view(np.uint32), expect.view(np.uint32))
        with pytest.raises(ValueError, match="out of range"):
            gorilla_decode_batch(buf, boffs, lens, counts, out[:-1], offs)
