"""Reconstruction: segment table -> virtual DataPoint view.

Two-phase prune-then-exact shape of the reference's point view
(engines/spark/ViewDataPoint.scala:37-78): timestamp predicates are mapped
to segment-overlap predicates (start_ts <= hi AND end_ts >= lo) which
Catalyst pushes into the parquet scan (partition pruning + row-group
min/max), segments are gridded, and the exact point-level filter is
re-applied afterwards (the reference reports unhandledFilters = all for
the same reason, ViewDataPoint.scala:35).

There is one decoder, _grid_batch, and two places it runs: distributed,
inside a mapInArrow (datapoint_view), or on the driver over segments a
JVM-only toArrow() job collected (decode_on_driver), which saves the
Python-worker round trip a small read would otherwise pay. The caller
picks (ModelarEngine.datapoints, a broadcast-style size threshold).
Decoding expands a segment up to length_bound times, so decode_on_driver
first sizes the decoded points from start_ts, end_ts and si alone and,
above its byte limit, ships the collected segments back through the
mapInArrow instead.

The gridding itself is vectorized ACROSS segments per Arrow batch: PMC and
Swing values for every segment in the batch are produced by a single
np.repeat / fused multiply-add; only Gorilla/Uncompressed payloads decode
per segment (<= length_bound points each).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modelardb_dynamic_spark.config import (
    MTID_GORILLA,
    MTID_PMC_MEAN,
    MTID_SWING,
    MTID_UNCOMPRESSED,
)
from modelardb_dynamic_spark.models.gorilla import gorilla_decode_batch
from modelardb_dynamic_spark.models.kernels import swing_decode

DATAPOINT_SCHEMA = "sid string, metric string, ts_ms long, value float"
_DECODE_COLS = ("sid", "metric", "start_ts", "end_ts", "si", "mtid", "model")


_OUT_SCHEMA = pa.schema(
    [
        ("sid", pa.string()),
        ("metric", pa.string()),
        ("ts_ms", pa.int64()),
        ("value", pa.float32()),
    ]
)


def _grid_batch(rb: pa.RecordBatch) -> pa.RecordBatch:
    n_seg = rb.num_rows
    start = rb.column("start_ts").to_numpy(zero_copy_only=False).astype(np.int64)
    end = rb.column("end_ts").to_numpy(zero_copy_only=False).astype(np.int64)
    si = rb.column("si").to_numpy(zero_copy_only=False).astype(np.int64)
    mtid = rb.column("mtid").to_numpy(zero_copy_only=False)
    models = rb.column("model").to_pylist()
    lens = ((end - start) // si + 1).astype(np.int64)
    total = int(lens.sum())
    seg_idx = np.repeat(np.arange(n_seg), lens)
    # per-point index within its segment
    offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    pt_idx = np.arange(total) - np.repeat(offs, lens)
    ts = np.repeat(start, lens) + pt_idx * np.repeat(si, lens)
    values = np.empty(total, dtype=np.float32)

    is_pmc = mtid == MTID_PMC_MEAN
    if is_pmc.any():
        pmc_vals = np.array(
            [
                np.frombuffer(m, dtype=">f4")[0] if p else np.float32(0)
                for m, p in zip(models, is_pmc)
            ],
            dtype=np.float32,
        )
        mask = is_pmc[seg_idx]
        values[mask] = pmc_vals[seg_idx[mask]]
    is_swing = mtid == MTID_SWING
    if is_swing.any():
        ab = np.zeros((n_seg, 2), dtype=np.float64)
        for i in np.flatnonzero(is_swing):
            ab[i] = swing_decode(models[i])
        mask = is_swing[seg_idx]
        sidx = seg_idx[mask]
        values[mask] = (
            ab[sidx, 0] * ts[mask].astype(np.float64) + ab[sidx, 1]
        ).astype(np.float32)
    g_ids = np.flatnonzero(mtid == MTID_GORILLA)
    if len(g_ids):
        # one C call decodes every Gorilla stream of the batch straight
        # into its values[] slice (per-segment decode hops dominated here)
        gorilla_decode_batch(
            [models[i] for i in g_ids], lens[g_ids], values, offs[g_ids]
        )
    for i in np.flatnonzero(mtid == MTID_UNCOMPRESSED).tolist():
        a, b = offs[i], offs[i] + lens[i]
        values[a:b] = np.frombuffer(models[i], dtype=">f4")[: lens[i]]
    # string columns fan out via Arrow take (C++), never via Python objects
    idx = pa.array(seg_idx, type=pa.int64())
    return pa.RecordBatch.from_arrays(
        [
            rb.column("sid").take(idx),
            rb.column("metric").take(idx),
            pa.array(ts, type=pa.int64()),
            pa.array(values, type=pa.float32()),
        ],
        schema=_OUT_SCHEMA,
    )


def _map_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for rb in batches:
        if rb.num_rows:
            yield _grid_batch(rb)


def overlapping(
    segments: DataFrame, lo_ms: int | None = None, hi_ms: int | None = None
) -> DataFrame:
    """The segments that may hold a point in [lo_ms, hi_ms], projected to
    the decode columns; the overlap predicate is pushed to the scan."""
    df = segments
    if lo_ms is not None:
        df = df.where(F.col("end_ts") >= lo_ms)
    if hi_ms is not None:
        df = df.where(F.col("start_ts") <= hi_ms)
    return df.select(*_DECODE_COLS)


def datapoint_view(
    segments: DataFrame,
    lo_ms: int | None = None,
    hi_ms: int | None = None,
) -> DataFrame:
    """Grid segments back to points, optionally restricted to
    [lo_ms, hi_ms]. The overlap predicate prunes segments BEFORE decoding
    (pushed to the scan); the exact predicate re-filters points after."""
    out = overlapping(segments, lo_ms, hi_ms).mapInArrow(
        _map_fn, schema=DATAPOINT_SCHEMA
    )
    if lo_ms is not None:
        out = out.where(F.col("ts_ms") >= lo_ms)
    if hi_ms is not None:
        out = out.where(F.col("ts_ms") <= hi_ms)
    return out


def decoded_nbytes(segs: pa.Table) -> int:
    """Arrow bytes of the points _grid_batch makes from segs, before the
    window filter, from start_ts, end_ts and si and the key lengths alone:
    per point ts_ms (8) + value (4) + two string offsets (8) + the sid
    and metric bytes of its segment."""
    start, end, si = (
        segs.column(c).to_numpy().astype(np.int64) for c in ("start_ts", "end_ts", "si")
    )
    keys = sum(
        pc.binary_length(segs.column(c)).to_numpy(zero_copy_only=False).astype(np.int64)
        for c in ("sid", "metric")
    )
    return int((((end - start) // si + 1) * (20 + keys)).sum())


def decode_on_driver(
    spark: SparkSession,
    segs: pa.Table,
    lo_ms: int | None,
    hi_ms: int | None,
    max_bytes: int,
) -> DataFrame:
    """The points of already overlap-pruned segments, decoded on the driver
    by _grid_batch with datapoint_view's exact window filter, as a local
    DataFrame with DATAPOINT_SCHEMA. When the decoded points would exceed
    max_bytes (decoded_nbytes) the segments go back to Spark and through
    datapoint_view's mapInArrow instead, so driver memory stays bounded by
    max_bytes plus the collected segments."""
    if decoded_nbytes(segs) > max_bytes:
        return datapoint_view(spark.createDataFrame(segs), lo_ms, hi_ms)
    pts = pa.Table.from_batches(
        [_grid_batch(rb) for rb in segs.to_batches() if rb.num_rows],
        schema=_OUT_SCHEMA,
    )
    if lo_ms is not None:
        pts = pts.filter(pc.greater_equal(pts.column("ts_ms"), lo_ms))
    if hi_ms is not None:
        pts = pts.filter(pc.less_equal(pts.column("ts_ms"), hi_ms))
    # one partition: the rows are already on the driver, and spreading them
    # over the default parallelism only adds an exchange to any aggregate
    return spark.createDataFrame(pts, DATAPOINT_SCHEMA).coalesce(1)
