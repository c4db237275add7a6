"""Tier-selection planner (plans/planner.py): the routed aggregate must be
IDENTICAL to aggregating the raw series directly, for awkward ranges,
bucket widths, and lagging (high-water-capped) tiers — and the cover must
actually route the interior to the coarsest tier (that is the point)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from modelardb_dynamic_spark.config import EngineConfig
from modelardb_dynamic_spark.operators.compress import compress
from modelardb_dynamic_spark.operators.rollup import downsample, rollup
from modelardb_dynamic_spark.plans.planner import cover_report, tiered_agg

SI = 60_000
HOUR = 3_600_000
DAY = 86_400_000
CFG0 = EngineConfig(error_bound=0.0, sampling_interval_ms=SI)

T0 = 1_704_067_200_000  # 2024-01-01T00:00Z


@pytest.fixture(scope="module")
def series(spark):
    """3 series x 4 days of minute-grid integer values with gaps — every
    value exact in float32/float64 so tier composition is lossless."""
    rng = np.random.default_rng(7)
    frames = []
    for s in range(3):
        t = T0 + np.arange(4 * 24 * 60, dtype=np.int64) * SI
        keep = rng.random(len(t)) > 0.1 * (s + 1)  # per-series gap rate
        v = (rng.integers(0, 1000, len(t)) + s).astype(np.float32)
        frames.append(
            pd.DataFrame(
                {"sid": f"s{s}", "metric": "m", "ts_ms": t[keep],
                 "value": v[keep]}
            )
        )
    return spark.createDataFrame(pd.concat(frames)).cache()


@pytest.fixture(scope="module")
def tiers(spark, series):
    segs = compress(series, CFG0)
    t1m = rollup(segs, SI).cache()
    t1h = downsample(t1m, HOUR).cache()
    t1d = downsample(t1h, DAY).cache()
    return [(t1m, SI), (t1h, HOUR), (t1d, DAY)]


def _direct(series, lo, hi, w):
    return (
        series.where(f"ts_ms >= {lo} AND ts_ms < {hi}")
        .groupBy(
            "sid", "metric",
            F.expr(f"((ts_ms) DIV {w}) * {w}").alias("bucket_ts"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("double")).alias("vsum"),
            F.min(F.col("value").cast("float")).alias("vmin"),
            F.max(F.col("value").cast("float")).alias("vmax"),
        )
    )


def _rows(df):
    return sorted(
        tuple(r) for r in df.select(
            "sid", "metric", "bucket_ts", "cnt", "vsum", "vmin", "vmax"
        ).collect()
    )


CASES = [
    # (lo, hi, bucket_ms) — offsets chosen to exercise every edge type
    (T0 + 90 * SI, T0 + 4 * DAY - 90 * SI, DAY),        # unaligned day agg
    (T0 + 7 * SI + 30_000, T0 + 3 * DAY + 5 * HOUR, 7 * HOUR),  # W !| day
    (T0, T0 + 4 * DAY, DAY),                            # aligned: 1d, no merge
    (T0 + HOUR + SI, T0 + HOUR + 50 * SI, 10 * SI),     # sub-hour: 1m, merged
]


@pytest.mark.parametrize("lo,hi,w", CASES)
def test_routed_equals_direct(series, tiers, lo, hi, w):
    got = _rows(tiered_agg(series, tiers, lo, hi, w))
    want = _rows(_direct(series, lo, hi, w))
    assert got == want and len(got) > 0


def test_high_water_fallthrough_to_raw(series, tiers):
    """Tiers lagging a day behind (their high-water mark caps coverage):
    the tail must be answered from raw rows, the total unchanged."""
    lo, hi, w = T0 + 90 * SI, T0 + 4 * DAY - 90 * SI, DAY
    cut = T0 + 3 * DAY
    hwm = {SI: cut, HOUR: cut, DAY: cut}
    got = _rows(tiered_agg(series, tiers, lo, hi, w, high_water=hwm))
    want = _rows(_direct(series, lo, hi, w))
    assert got == want


def test_stale_tiers_past_high_water_are_ignored(spark, series, tiers):
    """The real real-time case: tier tables BUILT BEFORE the last day of
    data arrived (so they simply lack the tail), high-water telling the
    planner where completeness ends. Routed result over the full series
    must still equal the direct aggregate over the full series."""
    cut = T0 + 3 * DAY
    old = series.where(f"ts_ms < {cut}")
    segs = compress(old, CFG0)
    t1m = rollup(segs, SI)
    t1h = downsample(t1m, HOUR)
    t1d = downsample(t1h, DAY)
    stale = [(t1m, SI), (t1h, HOUR), (t1d, DAY)]
    lo, hi, w = T0 + 90 * SI, T0 + 4 * DAY - 90 * SI, DAY
    hwm = {SI: cut, HOUR: cut, DAY: cut}
    got = _rows(tiered_agg(series, stale, lo, hi, w, high_water=hwm))
    want = _rows(_direct(series, lo, hi, w))
    assert got == want


def test_cover_routes_interior_to_coarsest():
    lo, hi = T0 + 90 * SI, T0 + 4 * DAY - 90 * SI
    rep = cover_report([SI, HOUR, DAY], lo, hi, DAY, grid_ms=SI)
    total = (hi - lo) // SI
    assert sum(rep.values()) == total
    # interior days 1 and 2 are whole result buckets answered by the 1d
    # tier: 2 x 1440 grid points; the 90-minute edges go to 1h + 1m
    assert rep[DAY] == 2 * 24 * 60
    assert rep[HOUR] > 0 and rep[SI] > 0
    assert rep[0] == 0  # nothing falls to raw without a high-water cap


def test_cover_report_points_sum_and_hw():
    lo, hi = T0 + 90 * SI, T0 + 4 * DAY - 90 * SI
    cut = T0 + 3 * DAY
    rep = cover_report(
        [SI, HOUR, DAY], lo, hi, DAY,
        high_water={SI: cut, HOUR: cut, DAY: cut}, grid_ms=SI,
    )
    assert sum(rep.values()) == (hi - lo) // SI
    # everything past the cut is raw
    assert rep[0] >= (hi - cut) // SI
