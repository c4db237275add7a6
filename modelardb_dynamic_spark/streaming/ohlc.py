"""Streaming OHLC candlestick bars: the ONLINE twin of
operators/analytics.ohlc_bars, emitting a bucket's bar the moment a
later-bucket row for that series arrives instead of waiting for the
next batch sweep — the live feed a monitoring dashboard draws.

Same semantics, same integers: per (sid, bucket) the bar is
(ts_first, ts_last, v_open, v_close, v_min, v_max, n, vsum), all
exact int64; the engine grid makes ts_ms unique per sid so open and
close need no tie rules.

In-order and bucket-closing contract: streaming/twins.py
closing_buckets (late rows dropped and counted in n_late_dropped; the
frontier bucket is withheld).

Scale notes: state is ONE open bar per series (O(1)); the bar folds
each micro-batch's same-bucket runs with numpy, so the Python loop runs
per DISTINCT bucket in the batch, never per row. Keyed by sid — the
engine's universal partitioning key — so the stateful shuffle is the
same hash(sid) exchange every tier build uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from modelardb_dynamic_spark.streaming.twins import closing_buckets

OUT_SCHEMA = (
    "sid string, bucket_ts long, ts_first long, ts_last long, "
    "v_open long, v_close long, v_min long, v_max long, n long, "
    "vsum long, n_late_dropped long"
)
_BAR = (
    "tf long, tl long, vo long, vc long, vmin long, vmax long, n long, "
    "vsum long"
)


def _start(_prev, run):
    # a bar of the run alone: nothing carries over from the previous one
    ts, v = run["ts_ms"].to_numpy(), run["v"].to_numpy()
    return (
        int(ts[0]), int(ts[-1]), int(v[0]), int(v[-1]),
        int(v.min()), int(v.max()), len(v), int(v.sum()),
    )


def _fold(bar, run):
    tf, _, vo, _, vmin, vmax, n, vsum = bar
    _, tl, _, vc, rmin, rmax, rn, rsum = _start(bar, run)  # the run's bar
    return tf, tl, vo, vc, min(vmin, rmin), max(vmax, rmax), n + rn, vsum + rsum


def _close(bar):
    return dict(zip(
        ["ts_first", "ts_last", "v_open", "v_close", "v_min", "v_max",
         "n", "vsum"],
        bar,
    ))


def stream_ohlc(points: DataFrame, bucket_ms: int) -> DataFrame:
    """points: STREAMING (sid string, ts_ms long, v long). Returns the
    append stream of closed-bucket bars (OUT_SCHEMA)."""
    return closing_buckets(
        points, ["sid"], "ts_ms", bucket_ms, OUT_SCHEMA,
        _BAR, (0,) * 8, _start, _fold, _close,
    )
