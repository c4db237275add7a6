"""The in-order contract shared by the streaming twins (streaming/twins.py):
for each twin that orders by timestamp, a late row is dropped, counted
on the next emitted row, and changes no emitted value."""

from __future__ import annotations

import pytest

from modelardb_dynamic_spark.queries import replay
from modelardb_dynamic_spark.streaming.anomaly import stream_zscore
from modelardb_dynamic_spark.streaming.concurrency import stream_concurrency
from modelardb_dynamic_spark.streaming.ewma import stream_ewma
from modelardb_dynamic_spark.streaming.ohlc import stream_ohlc

PTS = "sid string, ts_ms long, v long"
M, H = 60_000, 3_600_000
BARS = [("a", t * M, t + 1) for t in range(120)]  # closes hour 0, hour 1 open

# name: (schema, build, key column, first chunk, late rows, next chunk,
# keys the next chunk emits, {key: {column: value}} pinned in the output)
CASES = {
    "zscore": (
        PTS, lambda s: stream_zscore(s, 10, 5, 3), "ts_ms",
        [("s", i * 1000, 10 + i) for i in range(8)],
        [("s", 3_000, 99), ("s", 7_000, 50)],  # before and AT the high-water
        [("s", 9_000, 11)], {9_000},
        {3_000: {"v": 13}},
    ),
    "ohlc": (
        PTS, lambda s: stream_ohlc(s, H), "bucket_ts",
        BARS, [("a", 30 * M, 99), ("a", 119 * M, 5)], [("a", 200 * M, 7)],
        {H}, {0: {"n": 60, "v_open": 1, "v_close": 60},
         H: {"n": 60, "v_max": 120}},
    ),
    "ewma": (
        PTS, lambda s: stream_ewma(s, H, 0.3), "bucket_ts",
        BARS, [("a", 30 * M, 99), ("a", 119 * M, 5)], [("a", 200 * M, 7)],
        {H}, {0: {"n": 60}, H: {"n": 60}},
    ),
    # two late deltas at ONE instant count 2: the tally unit is the row;
    # the next chunk's first instant nets to zero and still opens its bucket
    "concurrency": (
        "t long, d int", lambda s: stream_concurrency(s, 1000), "bucket_ts",
        [(100, 1), (200, 1), (1200, -1), (2500, 1)],
        [(1500, 1), (1500, 1)],
        [(3000, 1), (3000, -1), (4500, -1)], {2000, 3000},
        {0: {"peak": 2, "peak_at_ms": 200}, 2000: {"peak": 2},
         3000: {"peak": 2, "peak_at_ms": 3000}},
    ),
}


@pytest.mark.parametrize("twin", sorted(CASES))
def test_late_row_dropped_counted_and_inert(spark, twin):
    schema, build, key, first, late, nxt, later, pinned = CASES[twin]

    def run(second):
        chunks = [spark.createDataFrame(r, schema) for r in (first, second)]
        out = replay(spark, chunks, build, f"t_late_{twin}_")
        return {r[key]: r.asDict() for r in out.collect()}

    with_late, clean = run(late + nxt), run(nxt)
    assert set(with_late) == set(clean) and later < set(clean)
    for k, row in with_late.items():
        # counted on every row emitted after the late rows arrived
        assert row.pop("n_late_dropped") == (len(late) if k in later else 0), k
        assert clean[k].pop("n_late_dropped") == 0, k
        assert row == clean[k], k  # the late rows changed no emitted value
    for k, cols in pinned.items():
        for c, v in cols.items():
            assert with_late[k][c] == v, (k, c)
