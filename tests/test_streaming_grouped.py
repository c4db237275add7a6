"""Grouped streaming ingest: finalized grouped segments from Structured
Streaming must equal compress_grouped's batch output at the watermark
frontier — the grouped twin of test_streamed_segments_match_batch_at_frontier,
mirroring the reference's SparkCache composition
(engines/spark/SparkCache.scala:166-212)."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from modelardb_dynamic_spark.config import EngineConfig
from modelardb_dynamic_spark.operators.grouped import (
    compress_grouped,
    correlation_groups,
    grouped_datapoints,
)
from modelardb_dynamic_spark.streaming.grouped import grouped_segment_stream
from modelardb_dynamic_spark.streaming.ingest import (
    latest_view,
    run_to_memory_sink,
)

SI = 60_000
CFG = EngineConfig(error_bound=10.0, length_bound=50, sampling_interval_ms=SI)


@pytest.fixture(scope="module")
def grouped_chunks(spark, tmp_path_factory):
    """Multi-series data with a correlated group, a mid-stream divergence
    (forces a dynamic split inside the stream), and a late-starting
    singleton; split into time-ordered chunks plus watermark sentinels."""
    rng = np.random.default_rng(42)
    n = 240
    t = np.arange(n, dtype=np.int64) * SI + 1_700_000_000_000
    walk = (np.cumsum(rng.normal(0, 0.5, n)) + 100.0).astype(np.float64)
    frames = []
    # group A: 3 tightly correlated members
    for i, sid in enumerate(["a1", "a2", "a3"]):
        v = (walk * (1 + 0.0004 * np.sin(np.arange(n) + i))).astype("float32")
        frames.append(pd.DataFrame(
            {"sid": sid, "metric": "m", "ts_ms": t, "value": v}))
    # group B: identical probe prefix, diverges at row 60 -> dynamic split
    b1 = np.full(n, 1000.0, dtype=np.float64)
    b2 = b1.copy()
    b2[60:] = 5000.0 + 50 * rng.random(n - 60)
    frames.append(pd.DataFrame(
        {"sid": "b1", "metric": "m", "ts_ms": t, "value": b1.astype("float32")}))
    frames.append(pd.DataFrame(
        {"sid": "b2", "metric": "m", "ts_ms": t, "value": b2.astype("float32")}))
    # late-starting singleton (first point after 100 buckets)
    frames.append(pd.DataFrame(
        {"sid": "solo", "metric": "m", "ts_ms": t[100:],
         "value": np.full(n - 100, 7.5, dtype="float32")}))
    series = spark.createDataFrame(pd.concat(frames)).cache()
    groups = correlation_groups(series, CFG).cache()
    groups.count()

    d = tmp_path_factory.mktemp("gchunks")
    lo, hi = int(t[0]), int(t[-1])
    n_chunks = 4
    span = (hi - lo) // n_chunks + 1
    for i in range(n_chunks):
        (
            series.where(
                (F.col("ts_ms") >= lo + i * span)
                & (F.col("ts_ms") < lo + (i + 1) * span)
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(str(d), f"chunk={i}"))
        )
    for j, extra_ms in enumerate((100 * SI, 200 * SI, 300 * SI)):
        spark.createDataFrame(
            [("__sentinel__", "m", hi + extra_ms, 1.0)],
            "sid string, metric string, ts_ms long, value float",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(str(d), f"chunk={n_chunks + j}")
        )
    return str(d), series, groups


def _stream(spark, chunk_dir, groups, pattern="chunk=*", **kw):
    stream = (
        spark.readStream.schema(
            "sid string, metric string, ts_ms long, value float"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(chunk_dir, pattern))
    )
    return grouped_segment_stream(
        stream, groups, CFG, watermark_delay="2 minutes", **kw
    )


def test_streamed_grouped_segments_match_batch_at_frontier(
    spark, grouped_chunks
):
    chunk_dir, series, groups = grouped_chunks
    q = run_to_memory_sink(
        _stream(spark, chunk_dir, groups), "streamed_grouped_segs"
    )
    q.processAllAvailable()
    q.stop()

    streamed = (
        spark.table("streamed_grouped_segs")
        .where(~F.array_contains("members", "__sentinel__"))
        .where("is_final")
        .drop("is_final", "temp_gen")
    )
    batch = compress_grouped(series, groups, CFG)

    extra = streamed.exceptAll(batch)
    assert extra.count() == 0, extra.limit(5).collect()
    missing = batch.exceptAll(streamed)
    assert missing.count() == 0, missing.limit(5).collect()
    n = streamed.count()
    assert n > 0
    # the divergence really exercised the split machinery: some segment
    # carries only one of b1/b2
    solo_b = streamed.where(
        F.array_contains("members", "b2")
        & (F.size("members") == 1)
    )
    assert solo_b.count() > 0


def test_grouped_temporaries_and_latest_view(spark, grouped_chunks):
    """maximum_latency in the grouped stream: temporaries publish the
    unfinalized buffer; latest_view over (gid, metric) never
    double-represents a point and reproduces values within the error
    bound."""
    chunk_dir, series, groups = grouped_chunks
    q = run_to_memory_sink(
        _stream(
            spark, chunk_dir, groups, pattern="chunk=[0-3]",
            max_latency_points=30,
        ),
        "grouped_latency_segs",
    )
    q.processAllAvailable()
    q.stop()
    appended = spark.table("grouped_latency_segs")
    assert appended.where("NOT is_final").count() > 0

    view = latest_view(appended, ("gid", "metric")).drop(
        "is_final", "temp_gen"
    )
    rec = grouped_datapoints(view)
    dup = rec.groupBy("sid", "metric", "ts_ms").count().where("count > 1")
    assert dup.count() == 0
    j = rec.withColumnRenamed("value", "rv").join(
        series, ["sid", "metric", "ts_ms"], "inner"
    )
    assert j.count() > 0
    bad = j.where(
        "NOT (rv = value OR abs((value - rv) / value) * 100.0 <= 10.0)"
    )
    assert bad.count() == 0
