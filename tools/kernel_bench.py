#!/usr/bin/env python
"""Single-core kernel microbench vs the reference's scalar-Java ingest bar
(report Table 4.2: ~1 M pts/s/core through the PMC->Swing->Gorilla cascade).

Corpora (all 60s grid, 1M points unless --n):
  mixed  — 40% constant runs / 30% linear ramps / 30% gaussian noise,
           interleaved in random-length runs: the adversarial case where
           every model family takes turns winning.
  smooth — REDD-like integer watt levels (seed 5, eb 10): the
           reference-class control for the transcript corpus ratio.
  noise  — pure gaussian: worst case, Gorilla carries everything.
  ramp   — pure linear: swing no-op fast path.

Usage: python tools/kernel_bench.py [--n 1000000] [--eb 10] [--profile]
Prints one JSON line {corpus: {mpts_per_core, ratio}} for eb in {0, eb}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np

from modelardb_dynamic_spark.config import EngineConfig
from modelardb_dynamic_spark.models.kernels import compress_series

SI = 60_000


def gen_mixed(n: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    v = np.empty(n, dtype=np.float32)
    i = 0
    while i < n:
        run = min(int(rng.integers(50, 400)), n - i)
        kind = rng.random()
        if kind < 0.40:  # constant run
            v[i : i + run] = np.float32(rng.uniform(-100, 100))
        elif kind < 0.70:  # linear ramp
            a = rng.uniform(-0.5, 0.5)
            b = rng.uniform(-50, 50)
            v[i : i + run] = (a * np.arange(run) + b).astype(np.float32)
        else:  # gaussian noise
            v[i : i + run] = rng.normal(
                rng.uniform(-50, 50), rng.uniform(0.5, 20), run
            ).astype(np.float32)
        i += run
    return v


def gen_smooth(n: int, seed: int = 5) -> np.ndarray:
    rng = np.random.default_rng(seed)
    v = np.empty(n, dtype=np.float32)
    i = 0
    levels = [0.0, 4.0, 85.0, 210.0, 1200.0]
    while i < n:
        run = min(int(rng.integers(60, 12 * 60)), n - i)
        lvl = levels[int(rng.integers(0, len(levels)))]
        v[i : i + run] = lvl + np.round(rng.normal(0, max(lvl * 0.004, 0.0), run))
        i += run
    return v


def gen_noise(n: int, seed: int = 3) -> np.ndarray:
    return np.random.default_rng(seed).normal(0, 10, n).astype(np.float32)


def gen_ramp(n: int, seed: int = 0) -> np.ndarray:
    return (0.01 * np.arange(n) + 5.0).astype(np.float32)


def run_one(v: np.ndarray, eb: float, repeats: int = 3) -> dict:
    """Best-of-N timing: the sandbox VM shows multi-x CPU-steal swings on
    single-shot measurements (a pinned idle-host rerun of a '0.8 M pts/s'
    reading measured 18 M), so per-config best is the honest capability
    estimate — same methodology BENCH.md documents for the scaling runs."""
    t = np.arange(len(v), dtype=np.int64) * SI
    cfg = EngineConfig(error_bound=eb, sampling_interval_ms=SI)
    compress_series(t[:20_000], v[:20_000], cfg)  # warm
    dt = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        segs = compress_series(t, v, cfg)
        dt = min(dt, time.perf_counter() - t0)
    stored = sum(24 + len(s.model) for s in segs)
    return {
        "mpts_per_core": round(len(v) / dt / 1e6, 3),
        "ratio": round(16.0 * len(v) / stored, 1),
        "n_segments": len(segs),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=1_000_000)
    ap.add_argument("--eb", type=float, default=10.0)
    ap.add_argument("--profile", action="store_true")
    ap.add_argument("--corpus", default=None)
    ap.add_argument("--alp", action="store_true",
                    help="bench the raw-tier ALP value codec + DoD "
                         "timestamps instead of the segment cascade")
    args = ap.parse_args()

    if args.alp:
        import time as _time

        from modelardb_dynamic_spark.models.alp import (
            decode_values,
            encode_values,
        )
        from modelardb_dynamic_spark.models.dod import decode_ts, encode_ts

        rng = np.random.default_rng(1)
        n = args.n
        corpora = {
            "decimal1": np.round(rng.uniform(0, 100, n), 1),
            "ints": rng.integers(0, 1000, n).astype(float),
            "noise_raw": rng.standard_normal(n),
            "mixed5pct": np.where(
                rng.random(n) < 0.95,
                np.round(rng.uniform(0, 10, n), 1),
                rng.standard_normal(n),
            ),
        }
        res = {}
        for cname, v in corpora.items():
            t0 = _time.perf_counter()
            blob = encode_values(v)
            t1 = _time.perf_counter()
            back = decode_values(blob)
            t2 = _time.perf_counter()
            assert back.view("<u8").tobytes() == np.ascontiguousarray(
                v, "<f8"
            ).view("<u8").tobytes(), cname
            res[cname] = {
                "enc_mvals": round(n / (t1 - t0) / 1e6, 1),
                "dec_mvals": round(n / (t2 - t1) / 1e6, 1),
                "bytes_per_val": round(len(blob) / n, 2),
            }
        ts = (np.cumsum(rng.integers(900, 1100, n)) * 1000).astype(np.int64)
        t0 = _time.perf_counter()
        b = encode_ts(ts)
        t1 = _time.perf_counter()
        r = decode_ts(b)
        t2 = _time.perf_counter()
        assert np.array_equal(r, ts)
        res["dod_ts"] = {
            "enc_mvals": round(n / (t1 - t0) / 1e6, 1),
            "dec_mvals": round(n / (t2 - t1) / 1e6, 1),
            "bytes_per_val": round(len(b) / n, 2),
        }
        print(json.dumps(res))
        return

    gens = {
        "mixed": gen_mixed,
        "smooth": gen_smooth,
        "noise": gen_noise,
        "ramp": gen_ramp,
    }
    if args.corpus:
        gens = {args.corpus: gens[args.corpus]}

    if args.profile:
        import cProfile
        import pstats

        name, gen = next(iter(gens.items()))
        v = gen(args.n)
        t = np.arange(len(v), dtype=np.int64) * SI
        cfg = EngineConfig(error_bound=args.eb, sampling_interval_ms=SI)
        pr = cProfile.Profile()
        pr.enable()
        compress_series(t, v, cfg)
        pr.disable()
        pstats.Stats(pr).sort_stats("cumulative").print_stats(25)
        return

    out = {}
    for name, gen in gens.items():
        v = gen(args.n)
        out[name] = {
            "eb0": run_one(v, 0.0),
            f"eb{args.eb:g}": run_one(v, args.eb),
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
