"""Reconstruction: segment table -> virtual DataPoint view, and the one
segment decoder.

decode_models is the only reader of model bytes on the query side, as
core/models/Segment.java is in the reference: the datapoint view
(_grid_batch), the rollup (operators/rollup.py) and the grouped views
(operators/grouped.py) decode a batch's model column through it. It reads
the Arrow column's offsets and data buffer directly: PMC-Mean values and
Swing (a, b) at every width are gathered by numpy views, and every Gorilla
stream of the batch decodes in one C call on the data buffer itself.
models/segment.py stays the per-segment scalar reference.

Two-phase prune-then-exact shape of the reference's point view
(engines/spark/ViewDataPoint.scala:37-78): timestamp predicates are mapped
to segment-overlap predicates (start_ts <= hi AND end_ts >= lo) which
Catalyst pushes into the parquet scan (partition pruning + row-group
min/max), segments are gridded, and the exact point-level filter is
re-applied afterwards (the reference reports unhandledFilters = all for
the same reason, ViewDataPoint.scala:35).

_grid_batch runs in two places: distributed, inside a mapInArrow
(datapoint_view), or on the driver over segments a JVM-only toArrow() job
collected (decode_on_driver), which saves the Python-worker round trip a
small read would otherwise pay. The caller picks (ModelarEngine.datapoints,
a broadcast-style size threshold). Decoding expands a segment up to
length_bound times, so decode_on_driver first sizes the decoded points
from start_ts, end_ts and si alone and, above its byte limit, ships the
collected segments back through the mapInArrow instead.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import NamedTuple

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

class Models(NamedTuple):
    """A batch's decoded model column, one entry per segment unless noted;
    entries of other model types are 0."""

    pmc: np.ndarray  # float32 PMC-Mean value
    a: np.ndarray  # float64 Swing slope
    b: np.ndarray  # float64 Swing intercept
    values: np.ndarray  # float32 Gorilla and Uncompressed streams, concatenated
    offs: np.ndarray  # int64, n + 1: segment i owns values[offs[i] : offs[i + 1]]


def int64_columns(rb: pa.RecordBatch, *names: str) -> list[np.ndarray]:
    return [
        rb.column(c).to_numpy(zero_copy_only=False).astype(np.int64) for c in names
    ]


def _gather(buf: np.ndarray, starts: np.ndarray, dtype: str) -> np.ndarray:
    """The big-endian dtype value at each byte offset in starts."""
    width = np.dtype(dtype).itemsize
    return buf[starts[:, None] + np.arange(width)].view(dtype)[:, 0]


def decode_models(model: pa.Array, mtid: np.ndarray, counts: np.ndarray) -> Models:
    """Decode every model of a batch: model is its binary column, mtid its
    model types, counts the values a Gorilla or Uncompressed segment
    holds (its points times its members; ignored for PMC-Mean and Swing).
    Raises on a model type it does not know or a model too short for its
    type."""
    n = len(model)
    _, offsets, data = model.buffers()
    width = np.int64 if pa.types.is_large_binary(model.type) else np.int32
    o = np.frombuffer(offsets, width)[model.offset : model.offset + n + 1]
    start = o[:-1].astype(np.int64)
    size = np.diff(o).astype(np.int64)
    buf = np.frombuffer(data, np.uint8) if data is not None else np.empty(0, np.uint8)
    is_pmc, is_swing, is_g, is_u = (
        mtid == t for t in (MTID_PMC_MEAN, MTID_SWING, MTID_GORILLA, MTID_UNCOMPRESSED)
    )
    cnt = np.where(is_g | is_u, counts, 0).astype(np.int64)
    bad = ~(is_pmc | is_swing | is_g | is_u) | (is_pmc & (size < 4))
    bad |= (is_swing & ~np.isin(size, (8, 12, 16))) | (is_u & (size < 4 * cnt))
    if bad.any():
        i = int(np.flatnonzero(bad)[0])
        raise ValueError(f"undecodable model: mtid {mtid[i]}, {size[i]} bytes")

    pmc = np.zeros(n, np.float32)
    pmc[is_pmc] = _gather(buf, start[is_pmc], ">f4")
    a = np.zeros(n)
    b = np.zeros(n)
    # the 8/12/16-byte Swing forms of SwingFilterModelType.java:131-143
    for nbytes, adt, bdt in ((8, ">f4", ">f4"), (12, ">f4", ">f8"), (16, ">f8", ">f8")):
        sel = is_swing & (size == nbytes)
        a[sel] = _gather(buf, start[sel], adt)
        b[sel] = _gather(buf, start[sel] + np.dtype(adt).itemsize, bdt)

    offs = np.zeros(n + 1, np.int64)
    np.cumsum(cnt, out=offs[1:])
    values = np.empty(int(offs[-1]), np.float32)
    gorilla_decode_batch(
        buf, start[is_g], size[is_g], cnt[is_g], values, offs[:-1][is_g]
    )
    # Uncompressed: value k of segment i is the big-endian f32 at byte
    # start[i] + 4k
    u_seg = np.repeat(np.flatnonzero(is_u), cnt[is_u])
    u_slot = np.flatnonzero(np.repeat(is_u, cnt))
    values[u_slot] = _gather(buf, start[u_seg] + 4 * (u_slot - offs[u_seg]), ">f4")
    return Models(pmc, a, b, values, offs)


def point_values(
    dec: Models, mtid: np.ndarray, seg: np.ndarray, ts: np.ndarray, slot: np.ndarray
) -> np.ndarray:
    """float32 value of each point: point k lies at ts[k] in segment
    seg[k] and, when that segment is Gorilla or Uncompressed, at
    dec.values[slot[k]]."""
    m = mtid[seg]
    out = np.empty(len(seg), np.float32)
    sel = m == MTID_PMC_MEAN
    out[sel] = dec.pmc[seg[sel]]
    sel = m == MTID_SWING
    s = seg[sel]
    out[sel] = (dec.a[s] * ts[sel].astype(np.float64) + dec.b[s]).astype(np.float32)
    sel = (m == MTID_GORILLA) | (m == MTID_UNCOMPRESSED)
    out[sel] = dec.values[slot[sel]]
    return out


def _grid_batch(rb: pa.RecordBatch) -> pa.RecordBatch:
    start, end, si, mtid = int64_columns(rb, "start_ts", "end_ts", "si", "mtid")
    lens = (end - start) // si + 1
    dec = decode_models(rb.column("model"), mtid, lens)
    seg = np.repeat(np.arange(rb.num_rows), lens)
    # per-point index within its segment
    row = np.arange(len(seg)) - np.repeat(np.cumsum(lens) - lens, lens)
    ts = start[seg] + row * si[seg]
    values = point_values(dec, mtid, seg, ts, dec.offs[seg] + row)
    # string columns fan out via Arrow take (C++), never via Python objects
    idx = pa.array(seg, type=pa.int64())
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
