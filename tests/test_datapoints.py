"""ModelarEngine.datapoints plan choice: bucket pruning of a sid list, the
driver-side decode of small reads, the distributed mapInArrow decode of
everything else, and the byte bound that sends a large decode back to
Spark. Both decode paths must return identical rows and schema."""

from __future__ import annotations

import re
from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F

from modelardb_dynamic_spark.config import (
    MTID_GORILLA,
    MTID_PMC_MEAN,
    MTID_SWING,
    MTID_UNCOMPRESSED,
    EngineConfig,
)
from modelardb_dynamic_spark.engine import ModelarEngine, _scan_size
from modelardb_dynamic_spark.models.kernels import compress_series
from modelardb_dynamic_spark.operators.compress import SEGMENT_SCHEMA, compress
from modelardb_dynamic_spark.operators.reconstruct import (
    _grid_batch,
    decoded_nbytes,
    overlapping,
)
from modelardb_dynamic_spark.sources.catalog import Warehouse, sid_bucket

SI = 1_000
CFG = EngineConfig(error_bound=1.0, sampling_interval_ms=SI)
N_SIDS = 12


def _segment_rows() -> list[tuple]:
    """Per sid, four runs of one metric, one per model type: a constant
    (PMC-Mean) run before epoch 0, a ramp (Swing), noise (Gorilla) and a
    hand-built Uncompressed segment; each sid is shifted by i seconds."""
    rng = np.random.default_rng(7)
    rows = []
    for i in range(N_SIDS):
        sid, off = f"s{i:02d}", i * SI
        runs = [
            np.full(60, 3.0 + i),
            np.linspace(1.0, 100.0, 60),
            rng.normal(size=60) * 100.0,
        ]
        for k, v in enumerate(runs):
            t = off + (np.arange(60, dtype=np.int64) + 60 * (k - 1)) * SI
            for s in compress_series(t, v.astype(np.float32), CFG):
                rows.append((sid, "m", s.start_ts, s.end_ts, SI, s.mtid,
                             s.model, s.cnt, s.vmin, s.vmax, s.vsum))
        v = rng.normal(size=30).astype(np.float32)
        start = off + 120 * SI
        rows.append((sid, "m", start, start + 29 * SI, SI, MTID_UNCOMPRESSED,
                     v.astype(">f4").tobytes(), 30, float(v.min()),
                     float(v.max()), float(v.astype(np.float64).sum())))
    return rows


def _write_segments(w: Warehouse, segs) -> None:
    """segs as w's segments table, one sbucket=K directory per sid hash
    bucket (the layout TierPipeline writes)."""
    segs.withColumn("sbucket", sid_bucket(F.col("sid"), w.n_buckets)).write \
        .partitionBy("sbucket").parquet(w.path("segments"))


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    segs = spark.createDataFrame(_segment_rows(), SEGMENT_SCHEMA)
    assert {r["mtid"] for r in segs.select("mtid").distinct().collect()} == {
        MTID_PMC_MEAN, MTID_SWING, MTID_GORILLA, MTID_UNCOMPRESSED
    }
    w = Warehouse(str(tmp_path_factory.mktemp("dp") / "wh"), n_buckets=4)
    _write_segments(w, segs)
    return w


@pytest.fixture(scope="module")
def eng(spark, wh):
    return ModelarEngine(spark, wh.read(spark, "segments"), CFG)


@contextmanager
def _threshold(spark, value: str):
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _decodes_in_spark(df) -> bool:
    return "MapInArrow" in _plan(df)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _both(spark, eng, **kw):
    """(local, distributed) results of one datapoints call; asserts which
    path each took and that the two agree row for row and in schema."""
    local = eng.datapoints(**kw)
    with _threshold(spark, "-1"):
        dist = eng.datapoints(**kw)
    assert not _decodes_in_spark(local), kw
    assert _decodes_in_spark(dist), kw
    assert local.schema == dist.schema
    rows = _rows(local)
    assert rows == _rows(dist), kw
    return rows


def test_local_and_distributed_decode_agree(spark, wh, eng):
    segs = wh.read(spark, "segments")
    # one sid from each bucket
    pick = sorted(
        r["sid"] for r in segs.groupBy("sbucket").agg(F.min("sid").alias("sid")).collect()
    )
    assert len(pick) > 1
    every = _both(spark, eng)
    assert len(every) == N_SIDS * 210
    # every point of every model type, pre-epoch ones included
    assert min(r[2] for r in every) == -60 * SI
    several = _both(spark, eng, sids=pick + ["unknown"])
    assert sorted({r[0] for r in several}) == pick
    assert len(several) == len(pick) * 210
    assert _both(spark, eng, sids=["unknown"]) == []
    assert _both(spark, eng, sids=[]) == []
    # window edges exactly on segment ends: lo == a start_ts, hi == an end_ts
    seg = segs.where("sid = 's05' AND mtid = 3").first()
    edge = _both(spark, eng, lo_ms=seg["start_ts"], hi_ms=seg["end_ts"], sids=["s05"])
    assert [r[2] for r in edge] == list(range(seg["start_ts"], seg["end_ts"] + 1, SI))
    # pre-epoch window across two sids
    pre = _both(spark, eng, lo_ms=-45 * SI, hi_ms=-10 * SI, sids=["s00", "s01"])
    assert len(pre) == 2 * 36 and all(r[2] < 0 for r in pre)
    # a window that crosses epoch 0 over every sid
    assert len(_both(spark, eng, lo_ms=-SI, hi_ms=SI)) == 3 * N_SIDS
    # an empty window (lo > hi) and one past every segment
    assert _both(spark, eng, lo_ms=5 * SI, hi_ms=4 * SI) == []
    assert _both(spark, eng, lo_ms=10**9, hi_ms=10**9 + SI) == []


def test_sid_list_prunes_to_its_buckets(spark, wh, eng):
    """A sid list on a Warehouse.read frame becomes a partition filter on
    sbucket; without the n_buckets metadata there is none."""
    assert wh.read(spark, "segments").schema["sid"].metadata == {"n_buckets": 4}
    with _threshold(spark, "-1"):
        plan = eng.datapoints(sids=["s01", "s02"])._jdf.queryExecution() \
            .executedPlan().toString()
        m = re.search(r"PartitionFilters: \[(.*?)\]", plan)
        assert m and "sbucket" in m.group(1), plan
        bare = ModelarEngine(spark, spark.read.parquet(wh.path("segments")), CFG)
        assert bare.segments.schema["sid"].metadata == {}
        plan = bare.datapoints(sids=["s01"])._jdf.queryExecution() \
            .executedPlan().toString()
        m = re.search(r"PartitionFilters: \[(.*?)\]", plan)
        assert m is None or "sbucket" not in m.group(1), plan
    # the unannotated read still answers, on the local path
    assert _both(spark, bare, sids=["s01"]) == _both(spark, eng, sids=["s01"])


def test_compress_output_decodes_distributed(spark, wh):
    """compress() output has no file-scan size estimate (Spark passes its
    input's size through the Python UDF), so it never decodes locally; its
    points equal the same segments read back from a warehouse."""
    from modelardb_dynamic_spark.sources.timeseries import transcript_series
    from modelardb_dynamic_spark.sources.transcripts import generate_transcripts

    cfg = EngineConfig(error_bound=10.0, sampling_interval_ms=60_000)
    series = transcript_series(generate_transcripts(spark, n_convs=6, turns_base=24), 60_000)
    segs = compress(series, cfg)
    assert _scan_size(overlapping(segs)) is None
    fresh = ModelarEngine(spark, segs, cfg).datapoints()
    assert _decodes_in_spark(fresh)
    w = Warehouse(wh.root + "_c", n_buckets=4)
    _write_segments(w, segs)
    stored = ModelarEngine(spark, w.read(spark, "segments"), cfg)
    assert _rows(fresh) == _both(spark, stored)
    sid = _rows(fresh)[0][0]
    assert _rows(ModelarEngine(spark, segs, cfg).datapoints(sids=[sid])) == _both(
        spark, stored, sids=[sid]
    )


def test_decoded_points_over_threshold_go_back_to_spark(spark, wh, eng):
    """A threshold the segment scan fits under but the decoded points do
    not: the collected segments decode through mapInArrow over a local
    relation (no second file scan), with the same rows."""
    pruned = overlapping(eng.segments)
    size = _scan_size(pruned)
    assert size is not None and decoded_nbytes(pruned.toArrow()) > size
    with _threshold(spark, str(size)):
        got = eng.datapoints()
        plan = _plan(got)
    assert "MapInArrow" in plan and "LocalRelation" in plan, plan
    assert "parquet" not in plan, plan
    with _threshold(spark, "-1"):
        want = _rows(eng.datapoints())
    assert _rows(got) == want and len(want) == N_SIDS * 210


def test_decoded_nbytes_is_the_arrow_size(spark, eng):
    """decoded_nbytes, computed from start_ts/end_ts/si and the key
    lengths alone, is the size of _grid_batch's output up to each batch's
    two trailing string offsets and the validity bitmaps take() allocates
    for the two string columns."""
    tbl = overlapping(eng.segments).toArrow()
    batches = [_grid_batch(rb) for rb in tbl.to_batches() if rb.num_rows]
    slack = sum(8 + 2 * -(-b.num_rows // 8) for b in batches)
    gap = sum(b.nbytes for b in batches) - decoded_nbytes(tbl)
    assert 0 <= gap <= slack, (gap, slack)
    assert decoded_nbytes(tbl.slice(0, 0)) == 0


def test_one_sid_size_is_its_bucket(spark, wh, eng):
    """A sid list's scan is sized after partition pruning: one sid's
    estimate is its bucket's part-file bytes, not the table's, so a
    threshold between the two sends that read to the driver path."""
    from modelardb_dynamic_spark.sources.catalog import file_stats

    sizes = {b: nbytes for b, (nbytes, _) in file_stats(wh.path("segments")).items()}
    segs = wh.read(spark, "segments")
    row = segs.where("sid = 's03'").select("sbucket").first()
    one = overlapping(
        segs.where("sid = 's03'").where(F.col("sbucket") == row["sbucket"])
    )
    assert _scan_size(one) == sizes[row["sbucket"]] < sum(sizes.values())
    assert _scan_size(overlapping(segs)) == sum(sizes.values())
    with _threshold(spark, str(sum(sizes.values()) - 1)):
        assert _decodes_in_spark(eng.datapoints())
        rows = _both(spark, eng, sids=["s03"])
    assert len(rows) == 210 and {r[0] for r in rows} == {"s03"}
