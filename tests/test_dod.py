"""Delta-of-delta timestamp codec: exact roundtrip, width selection,
compression accounting, and the Spark raw-tier archive operators."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from modelardb_dynamic_spark.models.dod import _HDR, decode_ts, encode_ts


def _rt(t):
    t = np.asarray(t, dtype=np.int64)
    out = decode_ts(encode_ts(t))
    np.testing.assert_array_equal(out, t)
    return out


def test_edge_sizes():
    for t in ([], [5], [5, 9], [5, 9, 9], [0, 1, 2, 3]):
        _rt(t)
    assert encode_ts(np.array([], dtype=np.int64)) == b""


def test_regular_grid_costs_quarter_byte_per_point():
    n = 100_000
    t = np.arange(n, dtype=np.int64) * 60_000 + 1_700_000_000_000
    blob = encode_ts(t)
    _rt(t)
    # all dods are zero: header + 2-bit class planes only
    assert len(blob) == _HDR.size + (n - 2 + 3) // 4
    assert len(blob) < 0.3 * 8 * n


def test_second_jitter_picks_narrow_widths():
    rng = np.random.default_rng(11)
    # ~30s cadence with +-5s jitter: dods fit int16
    t = np.cumsum(rng.integers(25_000, 35_000, 50_000)).astype(np.int64)
    blob = encode_ts(t)
    _rt(t)
    w1, w2 = blob[2], blob[3]
    assert (w1, w2) == (8, 16) or w2 == 16
    assert len(blob) < 2.5 * len(t)  # ~2.25 B/pt vs 8 raw


def test_minute_jitter_uses_int32_not_escape():
    rng = np.random.default_rng(12)
    # minutes-scale cadence, dods ~+-20 min: escape int64 would double cost
    t = np.cumsum(rng.integers(60_000, 1_200_000, 20_000)).astype(np.int64)
    blob = encode_ts(t)
    _rt(t)
    assert blob[3] == 32
    assert len(blob) < 4.5 * len(t)


def test_adversarial_jumps_and_duplicates():
    t = np.array(
        [0, 0, 0, 1, 2**40, 2**40 + 1, 2**41, 2**41, 2**62], dtype=np.int64
    )
    _rt(t)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**55), max_value=2**55), min_size=0, max_size=300
    )
)
def test_roundtrip_property(vals):
    _rt(np.sort(np.asarray(vals, dtype=np.int64)))


def test_bad_magic_rejected():
    with pytest.raises(ValueError):
        decode_ts(b"XX" + bytes(_HDR.size - 2))


def test_spark_archive_roundtrip(spark):
    from pyspark.sql import functions as F

    from modelardb_dynamic_spark.operators.rawtier import (
        compress_times,
        restore_times,
    )

    rng = np.random.default_rng(7)
    rows = []
    for uid in range(40):
        n = int(rng.integers(1, 400))
        ts = np.cumsum(rng.integers(1_000, 90_000, n)) + int(
            rng.integers(0, 10**9)
        )
        rows.extend((uid, int(x)) for x in ts)
    df = spark.createDataFrame(rows, "user_id bigint, ts_ms bigint")
    # small batches force the carry-across-batches path
    blobs = compress_times(df, "user_id", "ts_ms")
    assert blobs.count() == 40
    back = restore_times(blobs, "user_id", "ts_ms")
    a = sorted(map(tuple, df.collect()))
    b = sorted((r.user_id, r.ts_ms) for r in back.collect())
    assert a == b
    # archive is genuinely smaller than the raw int64 column
    tot = blobs.agg(
        F.sum(F.length("ts_blob")).alias("b"), F.sum("n_pts").alias("n")
    ).collect()[0]
    assert tot.b < 8 * tot.n


def test_spark_archive_string_keys_and_batch_spans(spark):
    from pyspark.sql import functions as F

    from modelardb_dynamic_spark.operators.rawtier import (
        compress_points,
        compress_times,
        restore_points,
        restore_times,
    )

    sp = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        rows = [(f"conv-{i % 3}", 1000 * j + i) for i in range(3) for j in range(500)]
        df = spark.createDataFrame(rows, "conv_id string, ts bigint").coalesce(1)
        blobs = compress_times(df, "conv_id", "ts")
        assert blobs.count() == 3
        back = restore_times(blobs, "conv_id")
        a = sorted(map(tuple, df.collect()))
        b = sorted((r.conv_id, r.ts) for r in back.collect())
        assert a == b

        pts = df.withColumn("v", (F.col("ts") % 97) / 8.0)
        pblobs = compress_points(pts, "conv_id", "ts", "v")
        assert sorted((r.conv_id, r.n_pts) for r in pblobs.collect()) == [
            (f"conv-{i}", 500) for i in range(3)
        ]
        pback = restore_points(pblobs, "conv_id", val_name="v")
        want = sorted(map(tuple, pts.collect()))
        assert sorted((r.conv_id, r.ts, r.v) for r in pback.collect()) == want
    finally:
        if sp is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", sp)
