"""Streaming segmentation: an unbounded series stream -> finalized segment
stream, with exactly the batch compressor's output.

Reference shape (SURVEY.md §2.3 / §3.3): ModelarDB's online mode runs one
SegmentGenerator per series group inside DStream receiver threads, emitting
finalized segments per micro-batch (engines/spark/WorkingSetReceiver.scala:
25-65, core/SegmentGenerator.java:152-211). The Spark-first equivalent is
Structured Streaming with per-key state:

    series_stream.withWatermark("ts", delay)
                 .groupBy(sid, metric)
                 .applyInPandasWithState(segmentize)   -> finalized segments

Per (sid, metric) the state holds the unfinished tail of the series (the
reference's in-memory buffer). Each micro-batch merges new points into the
tail, splits gap-free runs, and emits:

- every segment of a CLOSED run — a run whose end can no longer be extended
  because the event-time watermark has passed run_end + si (a would-be
  extension point is late by definition and is dropped — enforced inside
  the handler, since Spark only auto-drops late rows for windowed
  aggregations, not arbitrary stateful ops; dropping in-order-violating
  data is also the reference's stance: its TimeSeries iterators assume
  in-order input);
- the *stable prefix* of the still-open final run, via
  models.kernels.compress_run_stable: a segment emitted at buffer size
  B* = max(pmc_prefix, swing_prefix, length_bound) + 1 <= len(buffer)
  depends only on the first B* points (greedy, fail-sticky cascade), so it
  is bit-identical to what the batch compressor will eventually emit.

Together these guarantee streamed finalized segments == the batch segment
table restricted to the watermark frontier — verified in
tests/test_streaming.py. When a key sees no data for a while, an event-time
timeout flushes its remaining buffer once the watermark passes the tail
(the reference's temporary-segment latency knob, maximum_latency
modelardb.conf:65, defaults to 0 = finalized-only; provisional temporary
segments for sub-watermark query latency are a deferred v2 feature).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from modelardb_dynamic_spark.config import EngineConfig
from modelardb_dynamic_spark.models.kernels import (
    compress_run,
    compress_run_stable,
    split_runs,
)
from modelardb_dynamic_spark.operators.compress import SEGMENT_SCHEMA

STATE_SCHEMA = "t array<long>, v array<float>"
STREAM_SEGMENT_SCHEMA = SEGMENT_SCHEMA + ", is_final boolean, temp_gen long"
_COLS = [
    "sid", "metric", "start_ts", "end_ts", "si",
    "mtid", "model", "cnt", "vmin", "vmax", "vsum", "is_final", "temp_gen",
]


def _segments_pdf(
    sid: str, metric: str, si: int, segs: list, final_flags: list[bool],
    temp_gen: int | None,
) -> pd.DataFrame:
    return pd.DataFrame(
        [
            (sid, metric, s.start_ts, s.end_ts, si, s.mtid, s.model,
             s.cnt, s.vmin, s.vmax, s.vsum, fin,
             None if fin else temp_gen)
            for s, fin in zip(segs, final_flags)
        ],
        columns=_COLS,
    )


def _make_segmentize(cfg: EngineConfig, max_latency_points: int = 0):
    si = cfg.sampling_interval_ms

    def segmentize(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        sid, metric = key
        # merge buffered tail with new points
        if state.exists:
            old_t, old_v = state.get
            t = np.asarray(old_t, dtype=np.int64)
            v = np.asarray(old_v, dtype=np.float32)
        else:
            t = np.empty(0, dtype=np.int64)
            v = np.empty(0, dtype=np.float32)
        wm_in = state.getCurrentWatermarkMs()
        new_parts = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            tt = pdf["ts_ms"].to_numpy().astype(np.int64)
            vv = pdf["value"].to_numpy().astype(np.float32)
            if wm_in > 0:
                # Spark does NOT auto-drop late rows for arbitrary stateful
                # ops (unlike windowed aggs) — enforce the lateness contract
                # here so emitted segments stay a prefix of the batch output
                # under any arrival order
                on_time = tt >= wm_in
                tt, vv = tt[on_time], vv[on_time]
            if len(tt):
                new_parts.append((tt, vv))
        if new_parts:
            t = np.concatenate([t] + [p[0] for p in new_parts])
            v = np.concatenate([v] + [p[1] for p in new_parts])
            order = np.argsort(t, kind="stable")
            t, v = t[order], v[order]
            keep = np.concatenate(([True], t[1:] != t[:-1]))  # dedup exact ts
            t, v = t[keep], v[keep]

        wm = state.getCurrentWatermarkMs()
        out: list = []
        keep_from = len(t)
        for a, b in split_runs(t, si):
            run_t, run_v = t[a:b], v[a:b]
            if int(run_t[-1]) + si < wm:
                # closed run: no on-time point can extend or split it
                out.extend(compress_run(run_t, run_v, cfg))
            else:
                if int(run_t[0]) - si < wm:
                    # nothing can be PREPENDED to this run any more, so its
                    # stable prefix is final; the tail stays buffered
                    segs, consumed = compress_run_stable(run_t, run_v, cfg)
                    out.extend(segs)
                    keep_from = a + consumed
                else:
                    # an on-time point could still arrive before run start
                    # (e.g. filling the gap to the previous run): buffer all
                    keep_from = a
                break  # runs are time-ordered; later runs are open too
        t, v = t[keep_from:], v[keep_from:]
        finals = [True] * len(out)

        # maximum_latency parity (SegmentGenerator.java:205-210, 245-262):
        # if the unemitted tail holds >= K points, emit provisional
        # TEMPORARY segments for it so queries can see data before the
        # watermark finalizes it. Consumers merge with latest_view(); a
        # later finalized segment supersedes them (the reference trims
        # temporaries in its cache, SparkCache.scala:166-212 — with append
        # sinks the trim happens at read time instead).
        if max_latency_points and len(t) >= max_latency_points:
            for a, b in split_runs(t, si):
                for seg in compress_run(t[a:b], v[a:b], cfg):
                    out.append(seg)
                    finals.append(False)

        if len(t):
            state.update((t.tolist(), v.astype(float).tolist()))
            # flush once the watermark passes the tail end (+1 SI for the
            # would-be extension point)
            state.setTimeoutTimestamp(int(t[-1]) + 2 * si)
        elif state.exists:
            state.remove()
        if out:
            # generation id = tail end: strictly grows per key, so readers
            # can keep only the newest temporary generation
            gen = int(t[-1]) if len(t) else None
            yield _segments_pdf(sid, metric, si, out, finals, gen)

    return segmentize


def segment_stream(
    series_stream: DataFrame,
    cfg: EngineConfig,
    watermark_delay: str = "2 minutes",
    max_latency_points: int = 0,
) -> DataFrame:
    """Streaming DataFrame (sid, metric, ts_ms, value) -> streaming
    DataFrame with SEGMENT_SCHEMA + is_final, append mode. Late points
    (older than the watermark) are dropped inside the state handler.

    max_latency_points > 0 enables the reference's maximum_latency
    behavior: the unemitted tail is additionally published as TEMPORARY
    segments (is_final = false) once it reaches that many points; read the
    sink through latest_view() to get finalized ∪ live temporaries."""
    with_ts = series_stream.withColumn(
        "ts", F.timestamp_millis(F.col("ts_ms"))
    ).withWatermark("ts", watermark_delay)
    return with_ts.groupBy("sid", "metric").applyInPandasWithState(
        _make_segmentize(cfg, max_latency_points),
        outputStructType=STREAM_SEGMENT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def latest_view(
    appended: DataFrame, keys: tuple[str, ...] = ("sid", "metric")
) -> DataFrame:
    """Queryable state of an append-mode segment sink: all finalized
    segments plus only the LIVE temporaries — the newest temporary
    generation per key (("sid", "metric") for segment_stream,
    ("gid", "metric") for streaming.grouped), minus any already covered
    by a finalized segment (the read-time equivalent of the reference's
    temporary-segment cache trim, SparkCache.scala:166-212). A temporary
    PARTIALLY covered by later finalization is dropped whole
    (conservative: the view never double-represents a point; the
    uncovered remainder reappears when the next generation or finalized
    segment lands)."""

    from pyspark.sql import Window

    # window form (no self-join: append sinks raise conflicting-reference
    # errors when joined with themselves, and one pass is cheaper anyway)
    w = Window.partitionBy(*keys)
    fin = F.col("is_final")
    df = appended.withColumn(
        "live_gen", F.max(F.when(~fin, F.col("temp_gen"))).over(w)
    ).withColumn("fin_end", F.max(F.when(fin, F.col("end_ts"))).over(w))
    keep = fin | (
        (F.col("temp_gen") == F.col("live_gen"))
        & (F.col("fin_end").isNull() | (F.col("start_ts") > F.col("fin_end")))
    )
    return df.where(keep).drop("live_gen", "fin_end")


def run_to_memory_sink(
    segments: DataFrame, query_name: str, **trigger: Any
):
    """Convenience: start the stream into an in-memory table (tests /
    demos); production uses writeStream.format('iceberg'/'parquet')
    .option('checkpointLocation', ...) instead."""
    return (
        segments.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
