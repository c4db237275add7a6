"""Grouped (multi-series) streaming segmentation: the GroupEngine's
incremental feed/finish API — which bit-matches batch on every golden
scenario, including dynamic split/join and temporary segments — composed
with Structured Streaming per-key state.

Reference shape: SparkCache.scala:166-212 composes the per-group
SegmentGenerator with Spark ingestion, buffering temporary segments and
trimming them as finalization catches up. Spark-first equivalent:

    series.join(broadcast(group_map)) .withWatermark(...)
          .groupBy(gid, metric).applyInPandasWithState(handler)

Per (gid, metric) the state holds a pickled incremental GroupEngine (its
pruned buffers keep it a few KB regardless of stream length — verified by
the pickle-roundtrip differential test) plus the PENDING rows the
watermark has not sealed yet. A grid row at timestamp T may gain member
values until the event-time watermark passes T, so rows feed the engine
only once wm > T — feeds are therefore complete rows in strictly
increasing timestamp order, exactly the batch matrix order, and streamed
finalized segments == compress_grouped's batch output at the frontier
(tests/test_streaming_grouped.py).

maximum_latency temporaries: the engine's own cadence emits kind="T"
segments covering its unfinalized buffer; they publish with is_final =
false and a strictly-growing temp_gen, read back through
streaming.ingest.latest_view(appended, ("gid", "metric")) (the
read-time twin of the reference's cache trim).
Note the mutable sub-watermark tail (rows still waiting for member
values) is NOT covered by temporaries — visibility lags ingest by at most
the watermark delay, a bound the single-series path does not have because
its rows are single-member and sealed on arrival.
"""

from __future__ import annotations

import pickle
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from modelardb_dynamic_spark.config import EngineConfig
from modelardb_dynamic_spark.models.grouped import GroupEngine
from modelardb_dynamic_spark.operators.grouped import GROUP_SEGMENT_SCHEMA

STREAM_GROUP_SEGMENT_SCHEMA = (
    GROUP_SEGMENT_SCHEMA + ", is_final boolean, temp_gen long"
)
_COLS = [
    "gid", "metric", "start_ts", "end_ts", "si", "mtid", "model", "cnt",
    "members", "is_final", "temp_gen",
]


def _make_handler(
    cfg: EngineConfig,
    members_of: dict[tuple[int, str], tuple[str, ...]],
    split_fraction: float,
    max_latency_points: int,
):
    si = cfg.sampling_interval_ms

    def handler(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        gid, metric = int(key[0]), key[1]
        if state.exists:
            eng, sids, frontier, gen, p_t, p_sid, p_v = pickle.loads(
                bytes(state.get[0])
            )
        else:
            eng, sids, frontier, gen = None, None, -(1 << 62), 0
            p_t = np.empty(0, dtype=np.int64)
            p_sid = np.empty(0, dtype=object)
            p_v = np.empty(0, dtype=np.float32)
        gen += 1  # strictly-growing temp generation per invocation

        wm = state.getCurrentWatermarkMs()
        for pdf in pdfs:
            if not len(pdf):
                continue
            tt = pdf["ts_ms"].to_numpy().astype(np.int64)
            # a row older than the last feed frontier would violate the
            # engine's strictly-increasing feed order: it is late, drop it
            # (the single-series path's stance, ingest.py:104-110)
            on_time = tt >= frontier
            if on_time.any():
                p_t = np.concatenate([p_t, tt[on_time]])
                p_sid = np.concatenate(
                    [p_sid, pdf["sid"].to_numpy()[on_time]]
                )
                p_v = np.concatenate(
                    [p_v, pdf["value"].to_numpy()[on_time].astype(np.float32)]
                )

        flush = state.hasTimedOut
        # rows the watermark sealed (no member value can still arrive)
        sealed = p_t < wm if not flush else np.ones(len(p_t), dtype=bool)
        segs = []
        if sealed.any():
            if sids is None:
                known = members_of.get((gid, metric))
                observed = tuple(sorted(set(p_sid[sealed].tolist())))
                if known is None:
                    sids = observed
                else:
                    # an observed sid missing from the map's member list
                    # (xxhash64 fallback-gid collision between unmapped
                    # series) gets its OWN column appended after the known
                    # members instead of being dropped (ADVICE r3) — batch
                    # co-groups such series, streaming now does too
                    sids = known + tuple(
                        s for s in observed if s not in set(known)
                    )
                eng = GroupEngine(
                    None, None, cfg, split_fraction,
                    maximum_latency=max_latency_points,
                    n_series=len(sids),
                )
            col_of = {s: j for j, s in enumerate(sids)}
            st, ss, sv = p_t[sealed], p_sid[sealed], p_v[sealed]
            order = np.argsort(st, kind="stable")
            st, ss, sv = st[order], ss[order], sv[order]
            grid = np.unique(st)
            V = np.full((len(grid), len(sids)), np.nan, dtype=np.float32)
            rows = np.searchsorted(grid, st)
            cols = np.array([col_of.get(s, -1) for s in ss])
            # a sid first seen AFTER engine creation can't grow the matrix;
            # count and log the drop instead of losing it silently
            ok = cols >= 0
            if not ok.all():
                import logging

                logging.getLogger(__name__).warning(
                    "grouped stream (gid=%s, metric=%s): dropped %d rows "
                    "from sids %s that appeared after engine creation",
                    gid, metric, int((~ok).sum()),
                    sorted(set(ss[~ok].tolist())),
                )
            V[rows[ok], cols[ok]] = sv[ok]
            segs = eng.feed(grid, V)
            p_t, p_sid, p_v = p_t[~sealed], p_sid[~sealed], p_v[~sealed]
            frontier = wm if not flush else max(frontier, int(grid[-1]) + si)

        if flush and eng is not None:
            done = len(eng.out)
            eng.finish()
            segs = segs + eng.out[done:]

        if flush:
            state.remove()
        else:
            state.update(
                (pickle.dumps((eng, sids, frontier, gen, p_t, p_sid, p_v)),)
            )
            tail = int(p_t.max()) if len(p_t) else None
            if eng is not None and len(eng.ts):
                et = int(eng.ts[-1])
                tail = et if tail is None else max(tail, et)
            if tail is not None:
                state.setTimeoutTimestamp(tail + 2 * si)

        if segs:
            # Temp replacement semantics (SparkCache.scala:166-212: a
            # generator's re-announcement REPLACES its previous temp): a
            # temp survives only if it is the last of this invocation for
            # EVERY member it carries — successive cadence temps of one
            # sub supersede each other, and a pre-split master temp is
            # superseded by its children's re-announcements. Cross-batch
            # replacement is the strictly-growing temp_gen + the
            # latest_view live-generation filter.
            last_of: dict[int, int] = {}
            for i, s in enumerate(segs):
                if s.kind != "F":
                    for m in s.members:
                        last_of[m] = i
            rows_out = [
                (
                    gid, metric, s.start_ts, s.end_ts, si, s.mtid,
                    s.model, s.cnt,
                    [sids[m - 1] for m in s.members],
                    s.kind == "F",
                    None if s.kind == "F" else gen,
                )
                for i, s in enumerate(segs)
                if s.kind == "F"
                or all(last_of[m] == i for m in s.members)
            ]
            if rows_out:
                yield pd.DataFrame(rows_out, columns=_COLS)

    return handler


def grouped_segment_stream(
    series_stream: DataFrame,
    groups: DataFrame,
    cfg: EngineConfig,
    watermark_delay: str = "2 minutes",
    split_fraction: float = 10.0,
    max_latency_points: int = 0,
) -> DataFrame:
    """Streaming (sid, metric, ts_ms, value) + static group map (sid,
    metric, gid) -> streaming grouped segments (GROUP_SEGMENT_SCHEMA +
    is_final + temp_gen), append mode.

    The group map joins LEFT with a singleton-gid fallback exactly like
    batch compress_grouped (a series the grouping missed is still
    ingested); the per-gid member list comes from the map so a member
    whose first point arrives late still holds its column from the start
    (batch-matrix parity). The map is collected once at stream build time
    — it is catalog-sized (one row per series), the same scale the
    reference keeps in driver memory (Storage.scala)."""
    rows = groups.select("gid", "metric", "sid").collect()
    members: dict[tuple[int, str], list[str]] = {}
    for r in rows:
        members.setdefault((int(r["gid"]), r["metric"]), []).append(r["sid"])
    members_of = {k: tuple(sorted(v)) for k, v in members.items()}

    df = series_stream.join(
        F.broadcast(groups), ["sid", "metric"], "left"
    ).withColumn("gid", F.coalesce(F.col("gid"), F.xxhash64("sid", "metric")))
    with_ts = df.withColumn(
        "ts", F.timestamp_millis(F.col("ts_ms"))
    ).withWatermark("ts", watermark_delay)
    return with_ts.groupBy("gid", "metric").applyInPandasWithState(
        _make_handler(cfg, members_of, split_fraction, max_latency_points),
        outputStructType=STREAM_GROUP_SEGMENT_SCHEMA,
        stateStructType="blob binary",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
