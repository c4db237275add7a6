"""Compression stage: regular series -> segment table.

The one compression path: TierPipeline.build_segments (the CLI, the
streaming maintenance, bench.bench_pipeline) and the registry's segment
queries all run compress().

Spark shape:
    series.repartition(hash(sid[, salt]))
          .sortWithinPartitions(sid, metric, ts_ms)
          .mapInArrow(kernel)                          ->  segments

mapInArrow over sorted partitions (rather than per-group applyInPandas)
amortizes the Python round trip over whole 64k-row batches AND keeps the
key columns as Arrow arrays end to end — converting 10^7 string keys to
Python objects via pandas measured 33x slower than Arrow-native batches.
operators/keyruns.py:key_runs turns the sorted batches into per-series
numpy slices; the numpy cascade in models.kernels does the actual
compression (no per-row Python anywhere). Replaces the reference's
per-group SegmentGenerator threads driven by WorkingSets
(core/WorkingSet.java:87-189) with Spark's own scheduling.

Skew / salting (the 10^12-turn concern): a single hot series must not pin a
task. With salt_span_points set, a series is pre-split on disjoint time
ranges (salt = ts_ms // span); ranges compress independently, which forces
a segment boundary at salt edges — the same semantics as a gap flush
(SegmentGenerator.java:213-236), so reconstruction and error bounds are
unaffected; only segment counts can grow by (#spans - 1) per series.
Deterministic at any parallelism.

Segment table schema (SURVEY.md §1.2 / FIXTURES.md §3; summary columns are
materialized at compress time so tier rollups become pure columnar plans —
strictly stronger than the reference's query-time UDAF-over-model-objects,
engines/spark/SparkUDAF.scala:348-401):
    sid string, metric string, start_ts long, end_ts long, si int,
    mtid int, model binary, cnt long, vmin float, vmax float, vsum double
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modelardb_dynamic_spark.config import EngineConfig
from modelardb_dynamic_spark.models.kernels import compress_series
from modelardb_dynamic_spark.operators.keyruns import key_runs

SEGMENT_SCHEMA = (
    "sid string, metric string, start_ts long, end_ts long, si int, "
    "mtid int, model binary, cnt long, vmin float, vmax float, vsum double"
)

_ARROW_SCHEMA = pa.schema(
    [
        ("sid", pa.string()),
        ("metric", pa.string()),
        ("start_ts", pa.int64()),
        ("end_ts", pa.int64()),
        ("si", pa.int32()),
        ("mtid", pa.int32()),
        ("model", pa.binary()),
        ("cnt", pa.int64()),
        ("vmin", pa.float32()),
        ("vmax", pa.float32()),
        ("vsum", pa.float64()),
    ]
)


class _Out:
    """Columnar accumulator for emitted segments (one per batch)."""

    def __init__(self) -> None:
        self.sid: list[str] = []
        self.metric: list[str] = []
        self.start_ts: list[int] = []
        self.end_ts: list[int] = []
        self.mtid: list[int] = []
        self.model: list[bytes] = []
        self.cnt: list[int] = []
        self.vmin: list[float] = []
        self.vmax: list[float] = []
        self.vsum: list[float] = []

    def to_batch(self, si: int) -> pa.RecordBatch | None:
        n = len(self.sid)
        if n == 0:
            return None
        return pa.RecordBatch.from_arrays(
            [
                pa.array(self.sid, type=pa.string()),
                pa.array(self.metric, type=pa.string()),
                pa.array(self.start_ts, type=pa.int64()),
                pa.array(self.end_ts, type=pa.int64()),
                pa.array([si] * n, type=pa.int32()),
                pa.array(self.mtid, type=pa.int32()),
                pa.array(self.model, type=pa.binary()),
                pa.array(self.cnt, type=pa.int64()),
                pa.array(self.vmin, type=pa.float32()),
                pa.array(self.vmax, type=pa.float32()),
                pa.array(self.vsum, type=pa.float64()),
            ],
            schema=_ARROW_SCHEMA,
        )


def compress(
    series: DataFrame,
    cfg: EngineConfig,
    salt_span_points: int | None = None,
) -> DataFrame:
    """series (sid, metric, ts_ms, value) -> segment DataFrame.

    INPUT CONTRACT: timestamps lie on the cfg.sampling_interval_ms grid and
    are unique per (sid, metric) — the series builders
    (sources/timeseries.py) guarantee this by construction (groupBy
    bucket).

    salt_span_points: split each series into ranges of that many sampling
    intervals so hot series parallelize (flush-at-boundary semantics above).

    Rows hash-partition on sid and the salt EXPRESSION ts_ms // span (the
    column itself never ships), into 2x cores partitions: two waves of map
    tasks so a straggler partition (skewed series mix) doesn't idle the
    rest of the cluster. The kernel re-derives the salt from the sorted
    timestamps (monotone within a run, operators/keyruns.py); emitted rows
    carry no salt — a salt edge forces a segment boundary exactly like a
    gap flush.
    """
    si = cfg.sampling_interval_ms
    span_ms = salt_span_points * si if salt_span_points else None
    hash_exprs = [F.col("sid")]
    if span_ms:
        hash_exprs.append((F.col("ts_ms") / span_ms).cast("long"))
    n_part = 2 * series.sparkSession.sparkContext.defaultParallelism
    keys = ("sid", "metric")
    cols = {"ts_ms": np.int64, "value": np.float32}
    df = (
        series.repartition(n_part, *hash_exprs)
        .sortWithinPartitions(*keys, "ts_ms")
        .select(*keys, *cols)
    )

    def map_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for groups in key_runs(batches, keys, cols, span_ms):
            out = _Out()
            for (sid, metric, *_salt), (t, v) in groups:
                order = np.argsort(t, kind="stable")
                for s in compress_series(t[order], v[order], cfg):
                    out.sid.append(sid)
                    out.metric.append(metric)
                    out.start_ts.append(s.start_ts)
                    out.end_ts.append(s.end_ts)
                    out.mtid.append(s.mtid)
                    out.model.append(s.model)
                    out.cnt.append(s.cnt)
                    out.vmin.append(s.vmin)
                    out.vmax.append(s.vmax)
                    out.vsum.append(s.vsum)
            batch = out.to_batch(si)
            if batch is not None:
                yield batch

    return df.mapInArrow(map_fn, schema=SEGMENT_SCHEMA)


def compression_stats(segments: DataFrame) -> DataFrame:
    """Corpus compression ratio per the reference formula
    16*len/(24+size+4*gaps) with gaps == 0 (core/models/ModelType.java:
    65-70), plus counts."""
    return segments.agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("cnt").alias("n_points"),
        (16.0 * F.sum("cnt") / F.sum(F.length("model") + F.lit(24))).alias(
            "compression_ratio"
        ),
    )
