"""rollup's one-pass plan: segments on a grid that is a multiple of
bucket_ms roll up in one mapInArrow with no merge, row for row equal to the
two-branch plan; a segment that breaks the grid promise raises instead of
losing its merge."""

from __future__ import annotations

import numpy as np
import pytest

from modelardb_dynamic_spark.config import (
    MTID_GORILLA,
    MTID_PMC_MEAN,
    MTID_SWING,
    MTID_UNCOMPRESSED,
    EngineConfig,
)
from modelardb_dynamic_spark.operators.compress import SEGMENT_SCHEMA, compress
from modelardb_dynamic_spark.operators.rollup import rollup

BUCKET_MS = 1_000


def _segments(spark, si: int):
    """Grid-aligned segments of all four model types: per sid a constant
    (PMC-Mean) run starting before epoch 0, a ramp (Swing) and noise
    (Gorilla), cut by a gap and by salt edges every 37 points, plus one
    hand-built Uncompressed segment."""
    rng = np.random.default_rng(11)
    rows = []
    for i in range(6):
        sid = f"s{i}"
        vals = np.concatenate([
            np.full(80, 2.0 + i), np.linspace(1.0, 50.0, 80), rng.normal(size=80) * 40.0,
        ])
        slots = np.concatenate([np.arange(-40, 40), np.arange(45, 205)]) + i
        rows += [(sid, "m", int(t) * si, float(v)) for t, v in zip(slots, vals)]
    series = spark.createDataFrame(
        rows, "sid string, metric string, ts_ms long, value float"
    )
    cfg = EngineConfig(error_bound=1.0, sampling_interval_ms=si)
    segs = compress(series, cfg, salt_span_points=37)
    v = rng.normal(size=25).astype(np.float32)
    start = 300 * si
    unc = spark.createDataFrame(
        [("s0", "m", start, start + 24 * si, si, MTID_UNCOMPRESSED,
          v.astype(">f4").tobytes(), 25, float(v.min()), float(v.max()),
          float(v.astype(np.float64).sum()))],
        SEGMENT_SCHEMA,
    )
    # collected, so the plans under test hold no compress mapInArrow
    segs = spark.createDataFrame(segs.unionByName(unc).collect(), SEGMENT_SCHEMA)
    assert {r["mtid"] for r in segs.select("mtid").distinct().collect()} == {
        MTID_PMC_MEAN, MTID_SWING, MTID_GORILLA, MTID_UNCOMPRESSED
    }
    return segs


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("si", [BUCKET_MS, 2 * BUCKET_MS], ids=["grid=bucket", "grid=2x"])
def test_one_pass_equals_two_branch(spark, si):
    segs = _segments(spark, si)
    one = rollup(segs, BUCKET_MS, materialize=False, grid_ms=si)
    two = rollup(segs, BUCKET_MS, materialize=False)
    assert _plan(one).count("MapInArrow") == 1 and "Aggregate" not in _plan(one)
    assert _plan(two).count("MapInArrow") == 2 and "Aggregate" in _plan(two)
    got = sorted(tuple(r) for r in one.collect())
    assert got == sorted(tuple(r) for r in two.collect())
    assert sum(r[3] for r in got) == segs.groupBy().sum("cnt").first()[0]


def test_grid_not_a_multiple_keeps_two_branches(spark):
    segs = spark.createDataFrame([], SEGMENT_SCHEMA)
    tier = rollup(segs, 3 * BUCKET_MS, materialize=False, grid_ms=2 * BUCKET_MS)
    assert _plan(tier).count("MapInArrow") == 2


@pytest.mark.parametrize(
    "start, si", [(BUCKET_MS // 2, BUCKET_MS), (0, 3 * BUCKET_MS // 2)],
    ids=["off-grid-start", "si-not-a-multiple"],
)
def test_broken_grid_promise_raises(spark, start, si):
    """A segment off the bucket grid, or with an si that is not a multiple
    of bucket_ms, makes the one-pass kernel raise."""
    segs = spark.createDataFrame(
        [("s", "m", start, start + 9 * si, si, MTID_PMC_MEAN,
          np.array([1.5], dtype=">f4").tobytes(), 10, 1.5, 1.5, 15.0)],
        SEGMENT_SCHEMA,
    )
    with pytest.raises(Exception, match="off its grid"):
        rollup(segs, BUCKET_MS, grid_ms=BUCKET_MS).collect()
