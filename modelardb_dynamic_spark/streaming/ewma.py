"""Streaming EWMA level gauge: the ONLINE twin of
operators/analytics.ewma_levels, emitting each bucket's smoothed level
and one-step forecast the moment the bucket closes — the live
"expected load next hour" feed beside stream_ohlc's raw bars.

Same semantics, same bits: within a bucket the level folds
s <- alpha*v + (1-alpha)*s over timestamp-ordered values seeded by the
bucket's first value; the PREVIOUS closed bucket's level is this
bucket's forecast, scored as absolute error against the bucket mean.
Python floats perform the identical correctly-rounded IEEE double ops
as the batch SQL fold (the streaming/sloburn.py precedent), so
streamed rows equal the batch operator's rows exactly at the frontier.

In-order and bucket-closing contract: streaming/twins.py
closing_buckets (late rows dropped and counted in n_late_dropped; the
frontier bucket is withheld).

Scale notes: O(1) state per series (running level, count, sum, previous
level); the per-row fold is inherently sequential WITHIN a bucket but
runs over an Arrow batch's numpy arrays, and buckets are bounded (<=60
rows for an hour bucket on the minute grid). Keyed by sid — the engine's
universal hash partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from modelardb_dynamic_spark.streaming.twins import closing_buckets

OUT_SCHEMA = (
    "sid string, bucket_ts long, n long, level double, forecast double, "
    "abs_err double, n_late_dropped long"
)


def stream_ewma(
    points: DataFrame, bucket_ms: int, alpha: float = 0.3
) -> DataFrame:
    """points: STREAMING (sid string, ts_ms long, v long). Returns the
    append stream of closed-bucket (sid, bucket_ts, n, level, forecast,
    abs_err, n_late_dropped) rows with the batch operator's values."""
    a = float(alpha)
    one_m = 1.0 - a

    def fold(acc, run):
        lvl, n, s, prev, has_prev = acc
        for v in run["v"].tolist():
            lvl = a * float(v) + one_m * lvl
            n += 1
            s += v
        return lvl, n, s, prev, has_prev

    def start(acc, run):
        # the previous bucket's level (none before the first bucket) is
        # this bucket's forecast; the level seeds from the first value
        lvl, n, _, _, _ = acc
        v0 = int(run["v"].iloc[0])
        return fold((float(v0), 1, v0, lvl, n > 0), run.iloc[1:])

    def close(acc):
        lvl, n, s, prev, has_prev = acc
        fc = prev if has_prev else None
        err = abs(float(s) / n - fc) if fc is not None else None
        return {"n": n, "level": lvl, "forecast": fc, "abs_err": err}

    return closing_buckets(
        points, ["sid"], "ts_ms", bucket_ms, OUT_SCHEMA,
        "lvl double, n long, s long, prev double, has_prev boolean",
        (0.0, 0, 0, 0.0, False), start, fold, close,
    )
