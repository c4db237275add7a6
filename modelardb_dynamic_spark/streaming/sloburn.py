"""Streaming multi-window SLO burn-rate pager: the ONLINE twin of
operators/analytics.slo_burn, paging while the incident is happening
instead of at the next batch roll-up.

Same semantics, same bits: per closed hour bucket, error share over the
trailing short/long windows divided by the error budget, page when both
burn above their thresholds. All counts are exact int64; the burn
divisions run the SAME correctly-rounded IEEE double ops (Python floats
ARE IEEE doubles) on the same values as the batch expression tree, so
streamed rows equal the batch operator's rows exactly over the closed
buckets (pinned in tests/test_streaming_sloburn.py).

In-order contract: streaming/twins.py in_order on the hour index, with
the whole stream as one key. A bucket's row is emitted when an event of
a LATER bucket arrives; the still-open frontier bucket is withheld. The
high-water is the last CLOSED bucket, so events for an emitted bucket
are late (dropped and counted in n_late_dropped), while an older bucket
that is still open accepts them.

Scale notes: the state is ONE group (the pager is global, like the
batch operator whose post-groupBy table is |buckets|-sized): a dict of
the trailing long_buckets hour counters plus the open bucket — O(1).
Each micro-batch's rows collapse to per-bucket increments with a
vectorized pandas groupby before touching state, so state updates are
O(buckets-in-batch), not O(rows). If one global state key ever
bottlenecked ingest, pre-aggregate per (hour) with a watermarked
groupBy upstream; the pager math is unchanged.

Reference analog: none (alerting is beyond the reference's scope); the
multi-window rule is the public SRE-workbook page policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modelardb_dynamic_spark.streaming.twins import in_order

OUT_SCHEMA = (
    "bucket_ts long, err_s long, tot_s long, err_l long, tot_l long, "
    "burn_short double, burn_long double, page boolean, n_late_dropped long"
)
# open/ring buckets as parallel arrays (h ascending)
STATE_SCHEMA = "hs array<long>, errs array<long>, tots array<long>"


def _emit_row(
    h: int,
    ring: dict,
    short_buckets: int,
    long_buckets: int,
    bucket_ms: int,
    budget: float,
    short_threshold: float,
    long_threshold: float,
) -> dict:
    """The batch operator's row for bucket h over the value-ranged
    trailing windows (missing hours contribute nothing, exactly like
    rangeBetween on the hour index)."""
    err_s = sum(e for hh, (e, t) in ring.items() if h - short_buckets < hh <= h)
    tot_s = sum(t for hh, (e, t) in ring.items() if h - short_buckets < hh <= h)
    err_l = sum(e for hh, (e, t) in ring.items() if h - long_buckets < hh <= h)
    tot_l = sum(t for hh, (e, t) in ring.items() if h - long_buckets < hh <= h)
    burn_s = float(err_s) / float(tot_s) / budget
    burn_l = float(err_l) / float(tot_l) / budget
    return {
        "bucket_ts": h * bucket_ms,
        "err_s": err_s,
        "tot_s": tot_s,
        "err_l": err_l,
        "tot_l": tot_l,
        "burn_short": burn_s,
        "burn_long": burn_l,
        "page": bool(burn_s > short_threshold and burn_l > long_threshold),
    }


def stream_slo_burn(
    events: DataFrame,
    slo: float = 0.99,
    short_buckets: int = 1,
    long_buckets: int = 6,
    bucket_ms: int = 3_600_000,
    short_threshold: float = 14.4,
    long_threshold: float = 6.0,
    error_type: str = "error",
) -> DataFrame:
    """events: a STREAMING DataFrame (ts timestamp, event_type string).
    Returns the append stream of closed-bucket pager rows."""
    budget = 1.0 - slo

    pre = events.select(
        F.expr(
            f"unix_millis(CAST(ts AS TIMESTAMP)) DIV {bucket_ms}"
        ).alias("h"),
        F.expr(
            f"CASE WHEN event_type = '{error_type}' THEN 1 ELSE 0 END"
        ).alias("e"),
        F.lit(1).alias("g"),  # the one global state key
    )

    def step(state, batch, hwm):
        hs, errs, tots = state
        ring = {int(h): [int(e), int(t)] for h, e, t in zip(hs, errs, tots)}
        inc = batch.groupby("h", sort=True).agg(
            err=("e", "sum"), tot=("e", "size")
        )
        for h, row in inc.iterrows():
            cur = ring.setdefault(int(h), [0, 0])
            cur[0] += int(row["err"])
            cur[1] += int(row["tot"])
        # close every complete bucket: all but the max open bucket
        open_hs = sorted(hh for hh in ring if hh > hwm)
        out_rows = []
        for h in open_hs[:-1]:
            out_rows.append(
                _emit_row(
                    h, {k: tuple(v) for k, v in ring.items()},
                    short_buckets, long_buckets, bucket_ms, budget,
                    short_threshold, long_threshold,
                )
            )
            hwm = h
        # prune state outside the long window of the newest bucket
        newest = open_hs[-1]
        hs = sorted(hh for hh in ring if hh > newest - long_buckets)
        return (
            (hs, [ring[h][0] for h in hs], [ring[h][1] for h in hs]),
            out_rows,
            hwm,
        )

    return in_order(
        pre, ["g"], "h", OUT_SCHEMA, STATE_SCHEMA, ([], [], []), step
    )
