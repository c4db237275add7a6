"""Streaming peak-concurrency gauge: the ONLINE twin of
operators/analytics.peak_concurrency, answering "how many are active
RIGHT NOW, and what was this hour's peak" while the sessions are still
open instead of at the next batch sweep.

Input contract: a STREAMING DataFrame of boundary deltas
(t long, d int) — +1 when a session starts at instant t, -1 at
t = end + 1 (the closed-interval release instant the batch operator
uses). Same semantics, same integers: deltas at one instant collapse
to a net change before the running count moves (ordering within an
instant can't matter), the per-bucket peak is the max of the running
count over the bucket's boundary instants, and the argmax is the first
instant attaining it.

In-order and bucket-closing contract: streaming/twins.py
closing_buckets, with the whole stream as one key: a boundary at or
before the last processed instant is late, dropped from the count and
tallied per delta row in n_late_dropped. NOTE a dropped late delta
means the running count diverges from the true one from that point on
(the stream is a gauge, not a ledger); the counter makes the divergence
observable so the batch sweep can reconcile.

Scale notes: ONE global state cell (running count, open-bucket
extremum, high-water mark — O(1)); each bucket's run of deltas
collapses to net deltas per distinct instant with a vectorized pandas
groupby before the per-instant sweep. The global ordering requirement
is inherent to a global gauge (same note as the batch operator: the
window carries |distinct boundary instants|, bounded by time span).

Reference analog: none (live ops gauges are beyond the reference's
scope).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modelardb_dynamic_spark.streaming.twins import closing_buckets

OUT_SCHEMA = "bucket_ts long, peak long, peak_at_ms long, n_late_dropped long"


def _fold(acc, run):
    c, m, m_at = acc
    for t, d in run.groupby("t", sort=True)["d"].sum().items():
        c += int(d)
        if c > m:
            m, m_at = c, int(t)
    return c, m, m_at


def _start(acc, run):
    # the bucket's extremum starts at its first instant, even one whose
    # deltas net to zero; the running count carries over
    return _fold((acc[0], -(1 << 62), 0), run)


def stream_concurrency(deltas: DataFrame, bucket_ms: int) -> DataFrame:
    """deltas: STREAMING (t long, d int). Returns the append stream of
    closed-bucket (bucket_ts, peak, peak_at_ms, n_late_dropped) rows."""
    return closing_buckets(
        deltas.withColumn("g", F.lit(1)), ["g"], "t", bucket_ms, OUT_SCHEMA,
        "c long, m long, m_at long", (0, 0, 0), _start, _fold,
        lambda acc: {"peak": acc[1], "peak_at_ms": acc[2]},
    )
