"""Continuous aggregates: segment table -> per-bucket rollup tiers with
gap-fill.

This replaces the reference's 40 time-bucketed UDAFs
({COUNT,MIN,MAX,SUM,AVG}_{YEAR..SECOND}, engines/spark/SparkUDAF.scala:
189-342 walking Segment.cube, core/models/Segment.java:135-168) with two
parameterized operators:

- rollup(segments, bucket_ms): splits each segment at bucket boundaries
  ANALYTICALLY — PMC and Swing sub-ranges aggregate in closed form from
  model parameters without decoding (PMC_MeanModelType.java:137-150,
  SwingFilterModelType.java:220-248); Gorilla/Uncompressed decode once per
  segment and aggregate per bucket via np.*.reduceat. The mapInArrow emits
  per-(segment x bucket) partials (string keys fan out via Arrow take,
  never via Python objects). A partial whose bucket lies wholly inside its
  segment is final; the others, at segment edges, merge in a groupBy.
  When the caller passes the grid its segments lie on and the grid is a
  multiple of bucket_ms (tier_1m over the sampling grid), every partial is
  final and the rollup is one mapInArrow with no merge.
- downsample(tier, k): tier k -> coarser tier by pure columnar groupBy
  (count/sum/min/max compose), no decode at all.
- gap_fill(tier, bucket_ms): explicit gap materialization per series via
  sequence(min_bucket, max_bucket) + left join — missing buckets appear
  with cnt = 0 and NULL aggregates (FIXTURES.md §4).

Tier schema: sid, metric, bucket_ts long, cnt long, vsum double,
vmin float, vmax float (avg = vsum/cnt is a view-level expression).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modelardb_dynamic_spark.config import (
    MTID_GORILLA,
    MTID_PMC_MEAN,
    MTID_SWING,
    MTID_UNCOMPRESSED,
)
from modelardb_dynamic_spark.operators.reconstruct import (
    Models,
    decode_models,
    int64_columns,
)

TIER_SCHEMA = (
    "sid string, metric string, bucket_ts long, cnt long, vsum double, "
    "vmin float, vmax float"
)


_PARTIAL_SCHEMA = pa.schema(
    [
        ("sid", pa.string()),
        ("metric", pa.string()),
        ("bucket_ts", pa.int64()),
        ("cnt", pa.int64()),
        ("vsum", pa.float64()),
        ("vmin", pa.float32()),
        ("vmax", pa.float32()),
        # True when the bucket lies wholly inside this segment's grid
        # range: no other segment of the series can touch it, so the row
        # is FINAL map-side and skips the merge shuffle entirely
        ("excl", pa.bool_()),
    ]
)


def span_aggregates(
    dec: Models, mtid: np.ndarray, seg: np.ndarray,
    lo: np.ndarray, hi: np.ndarray, cnt: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(vmin, vmax, vsum) of row k over the cnt[k] grid points lo[k]..hi[k]
    of segment seg[k], in closed form for PMC-Mean and Swing rows
    (PMC_MeanModelType.java:137-150, SwingFilterModelType.java:220-248);
    Gorilla and Uncompressed rows are left for the caller to fill."""
    m = mtid[seg]
    vmin, vmax = np.empty((2, len(seg)), dtype=np.float32)
    vsum = np.empty(len(seg), dtype=np.float64)
    mask = m == MTID_PMC_MEAN
    v = dec.pmc[seg[mask]]
    vmin[mask] = v
    vmax[mask] = v
    # (double)(length * value) in float32 math, PMC_MeanModelType.java:148-150
    vsum[mask] = (cnt[mask].astype(np.float32) * v).astype(np.float64)
    mask = m == MTID_SWING
    a = dec.a[seg[mask]]
    b = dec.b[seg[mask]]
    fst = a * lo[mask] + b
    lst = a * hi[mask] + b
    vsum[mask] = (fst + lst) / 2.0 * cnt[mask]
    f_lo = fst.astype(np.float32)
    f_hi = lst.astype(np.float32)
    b32 = b.astype(np.float32)
    vmin[mask] = np.where(a == 0, b32, np.where(a > 0, f_lo, f_hi))
    vmax[mask] = np.where(a == 0, b32, np.where(a > 0, f_hi, f_lo))
    return vmin, vmax, vsum


def _bucket_partials(rb: pa.RecordBatch, bucket_ms: int, keep: str) -> pa.RecordBatch:
    n_seg = rb.num_rows
    start, end, si, mtid = int64_columns(rb, "start_ts", "end_ts", "si", "mtid")
    dec = decode_models(rb.column("model"), mtid, (end - start) // si + 1)

    first_b = (start // bucket_ms) * bucket_ms
    last_b = (end // bucket_ms) * bucket_ms
    k = ((last_b - first_b) // bucket_ms + 1).astype(np.int64)
    seg_idx = np.repeat(np.arange(n_seg), k)
    j = np.arange(len(seg_idx)) - np.repeat(np.cumsum(k) - k, k)
    bucket_ts = np.repeat(first_b, k) + j * bucket_ms

    st = start[seg_idx]
    en = end[seg_idx]
    s_i = si[seg_idx]
    lo = np.maximum(st, bucket_ts)
    hi = np.minimum(en, bucket_ts + bucket_ms - 1)
    # ceil/floor containment onto each segment's grid
    lo_g = st + -((st - lo) // s_i) * s_i
    hi_g = st + ((hi - st) // s_i) * s_i
    cnt = (hi_g - lo_g) // s_i + 1
    valid = cnt > 0

    vmin, vmax, vsum = span_aggregates(dec, mtid, seg_idx, lo_g, hi_g, cnt)
    # Gorilla/Uncompressed: every bucket of every segment aggregates with
    # ONE reduceat per statistic over the decoded streams. Rows of those
    # segments, valid buckets only, in (segment, bucket) order; within one
    # segment the buckets partition the grid, so reduceat slice
    # [pos_j, pos_{j+1}) is exactly bucket j: the last bucket of a segment
    # runs to the segment end, whose value index + 1 is the NEXT segment's
    # offset in dec.values
    m = mtid[seg_idx]
    rows = np.flatnonzero(((m == MTID_GORILLA) | (m == MTID_UNCOMPRESSED)) & valid)
    if len(rows):
        sor = seg_idx[rows]
        pos = dec.offs[sor] + (lo_g[rows] - start[sor]) // si[sor]
        vsum[rows] = np.add.reduceat(dec.values.astype(np.float64), pos)
        vmin[rows] = np.minimum.reduceat(dec.values, pos)
        vmax[rows] = np.maximum.reduceat(dec.values, pos)
    # exclusivity: every grid slot of the bucket inside [start, end]
    excl = (bucket_ts >= st) & (bucket_ts + bucket_ms - s_i <= en)
    # keep only valid rows; string keys fan out via Arrow take (C++)
    if keep == "final":
        # a segment whose points all lie on bucket_ms multiples puts at
        # most one point in a bucket, and no other segment of its series
        # can share that point, so all its partials are final; a non-final
        # partial's segment is always off that grid
        off = (start % bucket_ms != 0) | (si % bucket_ms != 0)
        if off.any():
            i = int(np.flatnonzero(off)[0])
            raise ValueError(
                f"one-pass rollup at {bucket_ms} ms met a segment off its "
                f"grid (start_ts={start[i]}, si={si[i]}): its partials "
                "would need a merge"
            )
        vrows = np.flatnonzero(valid)
    elif keep == "interior":
        vrows = np.flatnonzero(valid & excl)
    else:  # "boundary"
        vrows = np.flatnonzero(valid & ~excl)
    idx = pa.array(seg_idx[vrows], type=pa.int64())
    return pa.RecordBatch.from_arrays(
        [
            rb.column("sid").take(idx),
            rb.column("metric").take(idx),
            pa.array(bucket_ts[vrows], type=pa.int64()),
            pa.array(cnt[vrows], type=pa.int64()),
            pa.array(vsum[vrows], type=pa.float64()),
            pa.array(vmin[vrows], type=pa.float32()),
            pa.array(vmax[vrows], type=pa.float32()),
            pa.array(excl[vrows], type=pa.bool_()),
        ],
        schema=_PARTIAL_SCHEMA,
    )


def rollup(
    segments: DataFrame,
    bucket_ms: int,
    materialize: bool = True,
    grid_ms: int | None = None,
) -> DataFrame:
    """Segment table -> tier table at bucket_ms granularity.

    A bucket wholly inside one segment's range can never receive
    contributions from another segment (segments of a series are disjoint
    contiguous runs), so those rows are FINAL when the kernel emits them
    and bypass the merge aggregation. Only segment-EDGE buckets (~2 per
    segment) go through the groupBy. The interior rows equal what a
    single-row aggregate would produce, so the union is value-identical
    to the full groupBy.

    One pass: grid_ms promises that every segment's start_ts and si are
    multiples of it (the pipeline's segments lie on the epoch-anchored
    sampling grid). When grid_ms is a multiple of bucket_ms, a bucket holds
    at most one grid slot, so every partial is final, and the rollup is a
    single mapInArrow with no merge. The kernel raises on a segment that
    breaks the promise instead of dropping its merge. Without grid_ms, or
    when bucket_ms does not divide it, the two-branch plan runs.

    Memory-traffic shape (matters at >=16 cores, where the pipeline is
    bandwidth-bound — BENCH.md): the two branches each re-scan the
    SEGMENTS (compact, ~16x fewer rows than the fine tier) and re-run the
    batched C decode (~28 M pts/s/core, negligible), instead of
    checkpointing the exploded per-bucket partials, which for a fine tier
    materializes every point twice through the block store.

    materialize=False skips the two-branch plan's segments checkpoint —
    pass it when the input is already a storage scan or persisted
    (re-scanning is cheaper than copying it into the block store)."""
    src = segments.select(
        "sid", "metric", "start_ts", "end_ts", "si", "mtid", "model"
    )
    one_pass = grid_ms is not None and grid_ms % bucket_ms == 0
    if materialize and not one_pass:
        src = src.localCheckpoint(eager=False)

    def make_fn(keep: str):
        def map_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for rb in batches:
                if rb.num_rows:
                    yield _bucket_partials(rb, bucket_ms, keep)

        return map_fn

    out_schema = TIER_SCHEMA + ", excl boolean"
    if one_pass:
        return src.mapInArrow(make_fn("final"), schema=out_schema).drop("excl")
    interior = src.mapInArrow(make_fn("interior"), schema=out_schema).drop("excl")
    boundary = (
        src.mapInArrow(make_fn("boundary"), schema=out_schema)
        .drop("excl")
        .groupBy("sid", "metric", "bucket_ts")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("vsum").alias("vsum"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
        )
    )
    return interior.unionByName(boundary)


def downsample(tier: DataFrame, bucket_ms: int) -> DataFrame:
    """Coarser tier from a finer tier: pure columnar aggregation (the
    aggregates compose: counts/sums add, min/max nest)."""
    return (
        tier.withColumn(
            "bucket_ts", (F.col("bucket_ts") / bucket_ms).cast("long") * bucket_ms
        )
        .groupBy("sid", "metric", "bucket_ts")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("vsum").alias("vsum"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
        )
    )


def gap_fill(
    tier: DataFrame, bucket_ms: int, chunk_buckets: int = 8192
) -> DataFrame:
    """Materialize missing buckets per (sid, metric) over
    [min_bucket, max_bucket] with cnt = 0 and NULL value aggregates.

    Two-level explode: chunk starts first, then at most chunk_buckets
    timestamps per chunk — a decade-long series at 1 m buckets (5.3 M
    buckets) never materializes one giant array in a single row, which a
    flat sequence(lo, hi) would (that row is an executor OOM at scale)."""
    spans = tier.groupBy("sid", "metric").agg(
        F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi")
    )
    span_ms = int(bucket_ms) * int(chunk_buckets)
    chunks = spans.select(
        "sid",
        "metric",
        F.col("hi"),
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.lit(span_ms))
        ).alias("cstart"),
    )
    all_buckets = chunks.select(
        "sid",
        "metric",
        F.explode(
            F.sequence(
                F.col("cstart"),
                F.least(F.col("cstart") + (span_ms - int(bucket_ms)), F.col("hi")),
                F.lit(int(bucket_ms)),
            )
        ).alias("bucket_ts"),
    )
    return (
        all_buckets.join(tier, ["sid", "metric", "bucket_ts"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
    )


def with_avg(tier: DataFrame) -> DataFrame:
    return tier.withColumn(
        "vavg", F.when(F.col("cnt") > 0, F.col("vsum") / F.col("cnt"))
    )


_CALENDAR_FIELDS = {
    # field -> (expr over a UTC timestamp col, finest tier that is exact)
    "year": (F.year, 86_400_000),
    "month": (F.month, 86_400_000),
    "day_of_month": (F.dayofmonth, 86_400_000),
    "hour_of_day": (F.hour, 3_600_000),
    "am_pm": (lambda c: (F.hour(c) >= 12).cast("int"), 3_600_000),
    "minute": (F.minute, 60_000),
    "second": (F.second, 1_000),
}


def _validate_tz_exact(tz: str, tier_ms: int) -> None:
    """Raise unless every UTC offset the zone uses (daily samples across
    1990-2040 catch every persistent offset, including DST halves) is a
    multiple of the tier width — the exactness condition calendar_agg's
    docstring states, enforced instead of trusted (ADVICE r3)."""
    import datetime as _dt
    from zoneinfo import ZoneInfo

    zone = ZoneInfo(tz)
    day = _dt.timedelta(days=1)
    t = _dt.datetime(1990, 1, 1, tzinfo=_dt.timezone.utc)
    end = _dt.datetime(2040, 1, 1, tzinfo=_dt.timezone.utc)
    seen: set[int] = set()
    while t < end:
        off = zone.utcoffset(t)
        ms = int(off.total_seconds() * 1000)
        if ms not in seen:
            seen.add(ms)
            if ms % tier_ms != 0:
                raise ValueError(
                    f"calendar_agg(tz={tz!r}) is not exact on a "
                    f"{tier_ms} ms tier: the zone's UTC offset "
                    f"{off} is not a multiple of the tier width — "
                    f"use a finer tier (e.g. the minute tier for "
                    f":30/:45-offset zones)"
                )
        t += day


def calendar_agg(
    tier: DataFrame, field: str, tz: str = "UTC", tier_ms: int | None = None
) -> DataFrame:
    """The reference's {COUNT,MIN,MAX,SUM,AVG}_{YEAR..SECOND} UDAF family
    (engines/spark/SparkUDAF.scala:189-342 walking Segment.cube,
    core/models/Segment.java:135-168), re-expressed as a columnar groupBy
    over an exact fixed-width tier: hourly partials compose into any
    calendar or cyclic bucket whose boundaries fall on hour edges, so
    no model is ever re-decoded at query time. Pass the tier produced by
    rollup(segments, finest_ms) for the field (see _CALENDAR_FIELDS).

    `tz` reproduces the reference's Calendar.getInstance() default-zone
    semantics (Segment.java:135) — the reference buckets in the JVM's
    default timezone, we default to UTC and take the zone explicitly.
    Exactness condition: the tier width must divide the zone's UTC offset
    (hour tier is exact for whole-hour-offset zones incl. their DST
    shifts, e.g. America/New_York; use the minute tier for :30/:45-offset
    zones like Asia/Kolkata or Asia/Kathmandu). The condition is ENFORCED:
    a zone whose offsets don't divide tier_ms (default: the field's finest
    exact tier) raises instead of silently mis-bucketing."""
    expr, finest_ms = _CALENDAR_FIELDS[field]
    if tz != "UTC":
        _validate_tz_exact(tz, tier_ms if tier_ms is not None else finest_ms)
    ts = F.timestamp_millis(F.col("bucket_ts"))
    if tz != "UTC":
        ts = F.from_utc_timestamp(ts, tz)
    key = expr(ts)
    return (
        tier.groupBy("sid", "metric", key.alias(field))
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("vsum").alias("vsum"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
        )
        .withColumn("vavg", F.when(F.col("cnt") > 0, F.col("vsum") / F.col("cnt")))
    )
