"""Streaming rolling z-score anomaly alerts: the ONLINE twin of
operators/analytics.rolling_zscore, for alerting while the data is in
flight instead of after the tier lands.

Same semantics, same bits: each point is scored against the TRAILING
window_buckets points of its series (itself excluded), z = (v*n - s) /
sqrt(n*ss - s^2) over exact int64 window sums, the flag the pure-integer
comparison (v*n - s)^2 > k^2 * (n*ss - s^2). The state per series is the
last window_buckets values — bounded, O(window) — carried by
applyInPandasWithState; inside the handler the window sums are numpy
cumsum differences (vectorized, never per-row Python loops), and the
float steps are the SAME correctly-rounded IEEE ops the batch expression
tree performs, so streamed rows equal the batch operator's rows exactly
at the frontier (pinned in tests/test_streaming_anomaly.py).

In-order contract: streaming/twins.py in_order (late rows dropped and
counted in n_late_dropped). Use the watermarked continuous aggregate
(streaming/rollup.py) when lateness tolerance matters more than alert
latency.

Scale notes: one shuffle on sid (the state key); state is
window-bounded per series; all arithmetic is vectorized numpy inside
Arrow batches.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from modelardb_dynamic_spark.streaming.twins import in_order

OUT_SCHEMA = (
    "sid string, ts_ms long, v long, n_w long, s_w long, ss_w long, "
    "z double, is_anomaly boolean, n_late_dropped long"
)


def _score_block(
    buf_v: np.ndarray,
    new_ts: np.ndarray,
    new_v: np.ndarray,
    window: int,
    minp: int,
    k: int,
) -> pd.DataFrame:
    """Score new rows against buffer + preceding new rows. Window sums
    are cumsum differences over the concatenated value array; the float
    z uses the identical IEEE ops (int->double exact below 2^53,
    correctly-rounded / and sqrt) as the batch SQL tree."""
    nb = len(buf_v)
    allv = np.concatenate([buf_v, new_v]).astype(np.int64)
    cs = np.concatenate([[0], np.cumsum(allv)])
    cs2 = np.concatenate([[0], np.cumsum(allv * allv)])
    pos = np.arange(nb, nb + len(new_v))
    lo = np.maximum(pos - window, 0)
    n_w = (pos - lo).astype(np.int64)
    s_w = cs[pos] - cs[lo]
    ss_w = cs2[pos] - cs2[lo]
    z = np.empty(len(new_v), dtype=object)
    flag = np.zeros(len(new_v), dtype=bool)
    for i in range(len(new_v)):
        n, s, ss, v = int(n_w[i]), int(s_w[i]), int(ss_w[i]), int(new_v[i])
        var = n * ss - s * s
        if n < minp or var <= 0:
            z[i] = None
            continue
        num = v * n - s
        z[i] = float(num) / math.sqrt(float(var))
        flag[i] = num * num > k * k * var
    return pd.DataFrame(
        {
            "ts_ms": new_ts,
            "v": new_v,
            "n_w": n_w,
            "s_w": [int(s) if n else None for s, n in zip(s_w, n_w)],
            "ss_w": [int(s) if n else None for s, n in zip(ss_w, n_w)],
            "z": z,
            "is_anomaly": flag,
        }
    )


def stream_zscore(
    points: DataFrame,
    window_buckets: int = 24,
    min_periods: int = 12,
    k: int = 3,
) -> DataFrame:
    """points: a STREAMING DataFrame (sid string, ts_ms long, v long).
    Returns the scored append stream with the batch operator's exact
    output schema and values."""

    def step(state, batch, _hwm):
        ts = batch["ts_ms"].to_numpy(np.int64)
        vs = batch["v"].to_numpy(np.int64)
        buf_v = np.asarray(state[0], dtype=np.int64)
        out = _score_block(buf_v, ts, vs, window_buckets, min_periods, k)
        return (np.r_[buf_v, vs][-window_buckets:].tolist(),), out, int(ts[-1])

    return in_order(
        points, ["sid"], "ts_ms", OUT_SCHEMA, "v array<long>", ([],), step
    )
