"""End-to-end pipeline tests: compress/reconstruct/rollup exactness on the
synthetic transcript table, per-turn text equality, gap-fill, tier
composition, and kill-and-resume via per-bucket lineage."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from modelardb_dynamic_spark.config import EngineConfig
from modelardb_dynamic_spark.operators.compress import compress, compression_stats
from modelardb_dynamic_spark.operators.reconstruct import datapoint_view
from modelardb_dynamic_spark.operators.rollup import gap_fill, rollup, with_avg
from modelardb_dynamic_spark.plans.pipeline import HOUR_MS, MINUTE_MS, TierPipeline
from modelardb_dynamic_spark.sources.catalog import Warehouse
from modelardb_dynamic_spark.sources.timeseries import transcript_series
from modelardb_dynamic_spark.sources.transcripts import generate_transcripts

CFG0 = EngineConfig(error_bound=0.0, sampling_interval_ms=60_000)
CFG10 = EngineConfig(error_bound=10.0, sampling_interval_ms=60_000)


@pytest.fixture(scope="module")
def transcripts(spark):
    df = generate_transcripts(spark, n_convs=40, turns_base=48).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def series(spark, transcripts):
    s = transcript_series(transcripts, 60_000).cache()
    s.count()
    return s


def test_generator_deterministic(spark, transcripts):
    again = generate_transcripts(spark, n_convs=40, turns_base=48)
    assert transcripts.exceptAll(again).count() == 0
    assert again.exceptAll(transcripts).count() == 0


def test_roundtrip_exact_error_zero(spark, series):
    segs = compress(series, CFG0)
    rec = datapoint_view(segs).withColumnRenamed("value", "rec")
    j = rec.join(series, ["sid", "metric", "ts_ms"], "full_outer")
    bad = j.where("rec IS NULL OR value IS NULL OR rec != value")
    assert bad.count() == 0


def test_roundtrip_bounded_error_ten(spark, series):
    segs = compress(series, CFG10)
    rec = datapoint_view(segs).withColumnRenamed("value", "rec")
    j = rec.join(series, ["sid", "metric", "ts_ms"], "inner")
    # percentage error per the reference metric, NULL-safe count match
    assert j.count() == series.count()
    bad = j.where(
        "NOT (rec = value OR abs((value - rec) / value) * 100.0 <= 10.0)"
    )
    assert bad.count() == 0


@pytest.mark.parametrize("cfg", [CFG0, CFG10], ids=["eb0", "eb10"])
def test_rollup_matches_point_oracle(spark, series, cfg):
    """Tier aggregates from closed forms == aggregates of reconstructed
    points (the §2.5 tier-match oracle)."""
    segs = compress(series, cfg).cache()
    tier = rollup(segs, HOUR_MS)
    pts = datapoint_view(segs)
    oracle = pts.groupBy(
        "sid", "metric",
        (F.floor(F.col("ts_ms") / HOUR_MS) * HOUR_MS).alias("bucket_ts"),
    ).agg(
        F.count("*").alias("ocnt"),
        F.sum(F.col("value").cast("double")).alias("osum"),
        F.min("value").alias("omin"),
        F.max("value").alias("omax"),
    )
    j = tier.join(oracle, ["sid", "metric", "bucket_ts"], "full_outer")
    bad = j.where(
        "ocnt IS NULL OR cnt IS NULL OR cnt != ocnt OR vmin != omin "
        "OR vmax != omax OR abs(vsum - osum) > 1e-6 * greatest(abs(osum), 1e-9)"
    )
    assert bad.count() == 0


def test_salting_preserves_points_and_bounds(spark, series):
    """Salted compression (forced flush at span edges) reconstructs the
    same points."""
    plain = datapoint_view(compress(series, CFG10))
    salted = datapoint_view(
        compress(series, CFG10, salt_span_points=16)
    ).withColumnRenamed("value", "svalue")
    j = plain.join(salted, ["sid", "metric", "ts_ms"], "full_outer")
    assert j.where("value IS NULL OR svalue IS NULL").count() == 0
    bad = j.where(
        "NOT (value = svalue OR abs((value - svalue) / value) * 100.0 <= 20.0)"
    )
    assert bad.count() == 0


def test_gap_fill_inserts_empty_buckets(spark, series):
    segs = compress(series, CFG0)
    tier = rollup(segs, MINUTE_MS)
    filled = gap_fill(tier, MINUTE_MS)
    assert filled.count() >= tier.count()
    extra = filled.where("cnt = 0")
    # injected ~2% gaps must appear as cnt=0 minutes
    assert extra.count() > 0
    assert extra.where("vsum IS NOT NULL").count() == 0
    avg = with_avg(filled)
    assert avg.where("cnt = 0 AND vavg IS NOT NULL").count() == 0


def test_pipeline_resume_identical(spark, transcripts, tmp_path):
    """Kill after the first segment chunk; resume; outputs must equal an
    uninterrupted run (FIXTURES.md §5.11)."""
    wh_a = Warehouse(str(tmp_path / "a"), n_buckets=8)
    p_a = TierPipeline(spark, wh_a, CFG10, chunk_buckets=2, salt_span_points=None)
    p_a.run(transcripts)

    wh_b = Warehouse(str(tmp_path / "b"), n_buckets=8)
    p_b = TierPipeline(spark, wh_b, CFG10, chunk_buckets=2, salt_span_points=None)
    p_b.ingest_raw(transcripts)
    p_b.build_series()
    with pytest.raises(RuntimeError, match="injected failure"):
        p_b.build_segments(fail_after_chunks=1)
    # resume: completed buckets skipped, remaining rebuilt
    p_b.build_segments()
    p_b.build_tiers()

    for table in ["segments", "tier_1m", "tier_1h", "tier_1d"]:
        a = wh_a.read(spark, table).drop("sbucket")
        b = wh_b.read(spark, table).drop("sbucket")
        assert a.exceptAll(b).count() == 0, table
        assert b.exceptAll(a).count() == 0, table


def test_raw_tier_text_equality(spark, transcripts, tmp_path):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering
    after the raw tier round-trips through the warehouse."""
    wh = Warehouse(str(tmp_path / "t"), n_buckets=4)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=4)
    p.ingest_raw(transcripts)
    back = wh.read(spark, "raw")
    orig = transcripts.orderBy("conv_id", "turn_idx").select(
        "conv_id", "turn_idx", "text"
    )
    got = back.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text")
    assert [r.asDict() for r in orig.collect()] == [r.asDict() for r in got.collect()]


def test_compress_identical_across_arrow_batch_sizes(spark, series):
    """compress output at 64-row Arrow batches, where most series span
    batches and the kernel takes key_runs' carried-group path, equals its
    output at the default batch size — plain and salted."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    try:
        for salt in (None, 16):
            whole = compress(series, CFG10, salt_span_points=salt).localCheckpoint()
            spark.conf.set(conf, "64")
            small = compress(series, CFG10, salt_span_points=salt)
            assert whole.exceptAll(small).count() == 0, salt
            assert small.exceptAll(whole).count() == 0, salt
            spark.conf.set(conf, prev)
    finally:
        spark.conf.set(conf, prev)


def _direct_agg(series, lo, hi, w):
    return sorted(
        tuple(r)
        for r in series.where(f"ts_ms >= {lo} AND ts_ms < {hi}")
        .groupBy(
            "sid", "metric",
            F.expr(f"((ts_ms) DIV {w}) * {w}").alias("bucket_ts"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("double")).alias("vsum"),
            F.min(F.col("value").cast("float")).alias("vmin"),
            F.max(F.col("value").cast("float")).alias("vmax"),
        )
        .collect()
    )


def test_range_agg_real_time_tail(spark, transcripts, tmp_path):
    """range_agg (tier-selection planner + lineage high-water): build the
    warehouse from the OLD 75% of the transcripts, then land the full set
    in raw/series WITHOUT rebuilding tiers — the planner must answer from
    the stale tiers up to their lineage high-water and from series rows
    past it, matching a direct aggregate over the full series table."""
    from modelardb_dynamic_spark.sources.timeseries import to_ms

    lo_ts, hi_ts = transcripts.agg(
        F.min(to_ms("ts")), F.max(to_ms("ts"))
    ).collect()[0]
    cut = lo_ts + (hi_ts - lo_ts) * 3 // 4
    wh = Warehouse(str(tmp_path / "rt"), n_buckets=4)
    p = TierPipeline(spark, wh, CFG0, chunk_buckets=4, salt_span_points=None)
    p.run(transcripts.where(to_ms("ts") < cut))
    # the late tail arrives: raw + series refreshed, tiers left stale
    p.ingest_raw(transcripts, fingerprint="raw-v2")
    p.build_series(fingerprint="series-v2")

    series = wh.read(spark, "series")
    s_lo, s_hi = series.agg(F.min("ts_ms"), F.max("ts_ms")).collect()[0]
    assert s_hi >= cut  # the scenario is real: series extends past the tiers
    lo = s_lo + 7 * 60_000
    hi = s_hi - 3 * 60_000
    got = sorted(tuple(r) for r in p.range_agg(lo, hi, HOUR_MS).collect())
    assert got == _direct_agg(series, lo, hi, HOUR_MS) and got
    # the stale tiers plus the series rows past their high-water
    cover = p.range_cover(lo, hi, HOUR_MS)
    assert cover["raw"] and cover["tiers"], cover


def test_tier_rows_unique_after_maintenance(spark, transcripts, tmp_path):
    """The invariant that lets tiered_agg skip its merge when one tier of
    width bucket_ms answers: after run, append, purge and retain, every
    tier holds exactly one row per (sid, metric, bucket_ts). On the same
    warehouse range_agg equals the direct aggregate of series both on
    that groupBy-free path and on an unaligned window that crosses the
    tiers' high-water (tiers plus raw)."""
    late = F.col("conv_id").isin(["conv00000004", "conv00000019"]) & (
        F.pmod(F.col("turn_idx"), F.lit(6)) == 1
    )
    wh = Warehouse(str(tmp_path / "uniq"), n_buckets=4)
    p = TierPipeline(spark, wh, CFG0, chunk_buckets=2, salt_span_points=None)
    p.run(transcripts.where(~late))
    p.append(transcripts.where(late), batch_id="late")
    p.purge(["conv00000011"], batch_id="gone")
    series = wh.read(spark, "series")
    s_lo, s_hi = series.agg(F.min("ts_ms"), F.max("ts_ms")).collect()[0]
    L = ((s_lo + (s_hi - s_lo) // 2) // HOUR_MS) * HOUR_MS
    p.retain("tier_1m", L)
    for table in ("tier_1m", "tier_1h", "tier_1d"):
        t = wh.read(spark, table)
        dup = t.groupBy("sid", "metric", "bucket_ts").count().where("count > 1")
        assert t.count() > 0 and dup.count() == 0, table
    assert transcripts.where("conv_id = 'conv00000011'").count() > 0
    assert series.where("sid = 'conv00000011'").count() == 0

    # hour-aligned window at the 1h tier's width: tier_1h alone
    lo = L + HOUR_MS
    hi = lo + 3 * HOUR_MS
    assert p.range_cover(lo, hi, HOUR_MS) == {
        "tiers": ["tier_1h"], "raw": False
    }
    got = sorted(tuple(r) for r in p.range_agg(lo, hi, HOUR_MS).collect())
    assert got == _direct_agg(series, lo, hi, HOUR_MS) and got

    # unaligned window above the 1m horizon, past every high-water
    lo = L + 7 * 60_000 + 13_000
    hi = s_hi + 1
    cover = p.range_cover(lo, hi, HOUR_MS)
    assert cover["raw"] and "tier_1h" in cover["tiers"], cover
    got = sorted(tuple(r) for r in p.range_agg(lo, hi, HOUR_MS).collect())
    assert got == _direct_agg(series, lo, hi, HOUR_MS) and got


def test_compression_ratio_positive(spark, series):
    row = compression_stats(compress(series, CFG10)).collect()[0]
    assert row["n_points"] == series.count()
    assert row["compression_ratio"] > 0


def test_append_incremental_equals_full_rebuild(spark, transcripts, tmp_path):
    """Incremental maintenance (TierPipeline.append): hold back a slice of
    three conversations' turns (spread across the WHOLE timeline — genuine
    out-of-order arrivals landing inside already-built buckets), build the
    warehouse without them, then append the batch. Every table must equal
    a from-scratch build on the full input, untouched buckets must keep
    their manifests byte-for-byte, and a re-run of the same append must be
    a no-op (idempotence)."""
    import json
    import os

    from modelardb_dynamic_spark.plans.checkpoint import Lineage

    batch_convs = ["conv00000003", "conv00000017", "conv00000029"]
    in_batch = F.col("conv_id").isin(batch_convs) & (
        F.pmod(F.col("turn_idx"), F.lit(7)) == 3
    )
    batch = transcripts.where(in_batch)
    initial = transcripts.where(~in_batch)
    assert batch.count() > 0

    wh_i = Warehouse(str(tmp_path / "inc"), n_buckets=8)
    p_i = TierPipeline(spark, wh_i, CFG10, chunk_buckets=8, salt_span_points=None)
    p_i.run(initial)

    from modelardb_dynamic_spark.sources.catalog import sid_bucket

    aff = {
        r["b"]
        for r in batch.select(sid_bucket(F.col("conv_id"), 8).alias("b"))
        .distinct()
        .collect()
    }
    untouched = sorted(set(range(8)) - aff)
    assert untouched, "fixture must leave some buckets untouched"

    def manifest_snapshot(table):
        out = {}
        for b in untouched:
            path = os.path.join(wh_i.path(table), "_lineage", f"bucket={b}.json")
            out[b] = json.load(open(path))
        return out

    before = {t: manifest_snapshot(t) for t in
              ["raw", "series", "segments", "tier_1m", "tier_1h", "tier_1d"]}

    m = p_i.append(batch, batch_id="b1")
    assert sorted(m["affected_buckets"]) == sorted(aff)

    for t, snap in before.items():
        assert manifest_snapshot(t) == snap, f"untouched {t} manifests changed"

    wh_f = Warehouse(str(tmp_path / "full"), n_buckets=8)
    p_f = TierPipeline(spark, wh_f, CFG10, chunk_buckets=8, salt_span_points=None)
    p_f.run(transcripts)
    for table in ["raw", "series", "segments", "tier_1m", "tier_1h", "tier_1d"]:
        a = wh_f.read(spark, table).drop("sbucket")
        b = wh_i.read(spark, table).drop("sbucket")
        assert a.exceptAll(b).count() == 0, table
        assert b.exceptAll(a).count() == 0, table

    # idempotence: same batch again — every manifest (incl. the affected
    # buckets') is byte-identical afterwards, i.e. zero rework happened
    def all_manifests():
        out = {}
        for t in ["raw", "series", "segments", "tier_1m", "tier_1h",
                  "tier_1d"]:
            for b in range(8):
                path = os.path.join(
                    wh_i.path(t), "_lineage", f"bucket={b}.json"
                )
                out[(t, b)] = json.load(open(path))
        return out

    snap = all_manifests()
    m2 = p_i.append(batch, batch_id="b1")
    assert m2["affected_buckets"] == m["affected_buckets"]
    assert all_manifests() == snap
    b2 = wh_i.read(spark, "raw").drop("sbucket")
    assert b2.count() == transcripts.count()


def test_sketch_tiers_stage_and_append(spark, transcripts, tmp_path):
    """Sketch tiers as pipeline stages: hist_1h/hist_1d/hll_1d built from
    raw with lineage, equal to directly-computed sketches, and maintained
    by the incremental append path."""
    from modelardb_dynamic_spark.operators.sketches import (
        hist_downsample,
        hist_tier,
        hll_tier,
    )
    from modelardb_dynamic_spark.sources.timeseries import to_ms

    HOUR, DAY = 3_600_000, 86_400_000
    batch_convs = ["conv00000005", "conv00000021"]
    in_batch = F.col("conv_id").isin(batch_convs) & (
        F.pmod(F.col("turn_idx"), F.lit(5)) == 2
    )
    wh = Warehouse(str(tmp_path / "sk"), n_buckets=4)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=4, salt_span_points=None)
    p.run(transcripts.where(~in_batch), sketches=True)
    p.append(transcripts.where(in_batch), batch_id="late")

    turns = transcripts.select(
        F.col("conv_id").alias("sid"),
        to_ms("ts").alias("ts_ms"),
        (1 + F.floor(F.length("text") / 4)).cast("long").alias("tokens"),
        "text",
    )
    want_h1 = hist_tier(turns, ["sid"], "tokens", f"(ts_ms DIV {HOUR}) * {HOUR}")
    want_d1 = hist_downsample(want_h1, ["sid"], DAY)
    want_hll = hll_tier(turns, ["sid"], "text", f"(ts_ms DIV {DAY}) * {DAY}")
    for table, want in [
        ("hist_1h", want_h1), ("hist_1d", want_d1), ("hll_1d", want_hll)
    ]:
        got = wh.read(spark, table).drop("sbucket")
        assert got.exceptAll(want).count() == 0, table
        assert want.exceptAll(got).count() == 0, table

    # cms_1d keys its counters by sbucket (partial sketch per warehouse
    # bucket); compare including the key
    from modelardb_dynamic_spark.operators.sketches import cms_tier
    from modelardb_dynamic_spark.sources.catalog import sid_bucket

    cms_cols = ["sbucket", "bucket_ts", "cell", "cnt"]
    want_cms = cms_tier(
        turns.withColumn("sbucket", sid_bucket(F.col("sid"), 4)),
        ["sbucket"], "sid", f"(ts_ms DIV {DAY}) * {DAY}",
    ).select(cms_cols)
    got_cms = wh.read(spark, "cms_1d").select(cms_cols)
    assert got_cms.exceptAll(want_cms).count() == 0
    assert want_cms.exceptAll(got_cms).count() == 0


def test_retention_aware_range_agg(spark, transcripts, tmp_path):
    """retain('tier_1m', L) + range_agg: queries whose edges align to the
    surviving 1h tier stay EXACT below the horizon (the cover routes
    around the dropped 1m rows); a query needing sub-hour detail below
    the horizon raises instead of silently undercounting."""
    from modelardb_dynamic_spark.sources.timeseries import to_ms

    wh = Warehouse(str(tmp_path / "ret"), n_buckets=4)
    p = TierPipeline(spark, wh, CFG0, chunk_buckets=4, salt_span_points=None)
    p.run(transcripts)
    series = wh.read(spark, "series")
    s_lo, s_hi = series.agg(F.min("ts_ms"), F.max("ts_ms")).collect()[0]
    # hour-aligned horizon in the middle; drop 1m (and series) below it
    L = ((s_lo + (s_hi - s_lo) // 2) // HOUR_MS) * HOUR_MS
    p.retain("tier_1m", L)
    p.retain("series", L)
    assert p.retention_horizon("tier_1m") == L

    # hour-aligned query spanning the horizon: 1h/1d serve the old side
    lo = (s_lo // HOUR_MS) * HOUR_MS
    hi = ((s_hi // HOUR_MS) + 1) * HOUR_MS
    got = sorted(tuple(r) for r in p.range_agg(lo, hi, HOUR_MS).collect())
    # ground truth: the retained series lost pre-horizon history, so
    # recompute it from the original transcripts
    full_series = transcript_series(transcripts, 60_000)
    assert got == _direct_agg(full_series, lo, hi, HOUR_MS) and got

    # sub-hour edges below the horizon: nobody can answer -> loud failure
    with pytest.raises(ValueError, match="retention horizon"):
        p.range_agg(lo + 60_000, hi, HOUR_MS)


def test_range_quantiles_and_distinct(spark, transcripts, tmp_path):
    """range_quantiles / range_distinct: the sketch twins of range_agg —
    warehouse sketch tiers + raw-edge sketching must equal the direct
    sketch over the raw turns in range."""
    from modelardb_dynamic_spark.operators.sketches import (
        hist_quantiles,
        hist_tier,
        hll_summary,
        hll_tier,
    )
    from modelardb_dynamic_spark.sources.timeseries import to_ms

    DAY = 86_400_000
    wh = Warehouse(str(tmp_path / "rq"), n_buckets=4)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=4, salt_span_points=None)
    p.run(transcripts, sketches=True)

    turns = transcripts.select(
        F.col("conv_id").alias("sid"),
        to_ms("ts").alias("ts_ms"),
        (1 + F.floor(F.length("text") / 4)).cast("long").alias("tokens"),
        "text",
    )
    t_lo, t_hi = turns.agg(F.min("ts_ms"), F.max("ts_ms")).collect()[0]
    lo = t_lo + 90 * 60_000
    hi = t_hi - 30 * 60_000
    w = 6 * HOUR_MS

    got_q = p.range_quantiles(lo, hi, w)
    want_q = hist_quantiles(
        hist_tier(
            turns.where(f"ts_ms >= {lo} AND ts_ms < {hi}"),
            ["sid"], "tokens", f"(ts_ms DIV {w}) * {w}",
        ),
        ["sid"],
    )
    assert got_q.exceptAll(want_q).count() == 0
    assert want_q.exceptAll(got_q).count() == 0

    got_d = p.range_distinct(lo, hi, w)
    want_d = hll_summary(
        hll_tier(
            turns.where(f"ts_ms >= {lo} AND ts_ms < {hi}"),
            ["sid"], "text", f"(ts_ms DIV {w}) * {w}",
        ),
        ["sid"],
    )
    assert got_d.exceptAll(want_d).count() == 0
    assert want_d.exceptAll(got_d).count() == 0

    # range_heavy: the CMS twin — per-sbucket partial counters + raw
    # edges must equal the direct global sketch over the rows in range
    from modelardb_dynamic_spark.operators.sketches import (
        cms_estimates,
        cms_tier,
    )

    probes = ["conv00000005", "conv00000021", "conv-absent"]
    got_h = p.range_heavy(lo, hi, w, probes)
    want_h = cms_estimates(
        cms_tier(
            turns.where(f"ts_ms >= {lo} AND ts_ms < {hi}"),
            [], "sid", f"(ts_ms DIV {w}) * {w}",
        ),
        [], probes,
    )
    assert got_h.exceptAll(want_h).count() == 0
    assert want_h.exceptAll(got_h).count() == 0


def test_append_after_raw_retention_preserves_tier_history(
    spark, transcripts, tmp_path
):
    """append() on a warehouse whose RAW tier was retained: pre-horizon
    tier aggregates must survive the touched buckets' rebuild (the
    preserved-series path), below-floor batch rows are rejected and
    counted, and the result equals a never-retained warehouse built from
    initial+accepted rows."""
    from modelardb_dynamic_spark.sources.timeseries import to_ms

    lo_ts, hi_ts = transcripts.agg(
        F.min(to_ms("ts")), F.max(to_ms("ts"))
    ).collect()[0]
    # hold back a batch: late turns across the timeline for two convs
    batch_convs = ["conv00000007", "conv00000019"]
    in_batch = F.col("conv_id").isin(batch_convs) & (
        F.pmod(F.col("turn_idx"), F.lit(6)) == 1
    )
    initial = transcripts.where(~in_batch)
    batch = transcripts.where(in_batch)

    wh = Warehouse(str(tmp_path / "ar"), n_buckets=4)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=4, salt_span_points=None)
    p.run(initial)
    H = lo_ts + (hi_ts - lo_ts) // 2  # retention horizon, mid-timeline
    p.retain_raw(H)

    m = p.append(batch, batch_id="late")
    si = 60_000
    floor_ms = ((H + si - 1) // si) * si
    n_below = batch.where(to_ms("ts") < floor_ms).count()
    assert m["rejected_below_retention"] == n_below
    assert n_below > 0  # the scenario exercises rejection

    # reference: never-retained warehouse on initial + ACCEPTED rows
    accepted = batch.where(to_ms("ts") >= floor_ms)
    wh_f = Warehouse(str(tmp_path / "arf"), n_buckets=4)
    p_f = TierPipeline(spark, wh_f, CFG10, chunk_buckets=4, salt_span_points=None)
    p_f.run(initial.unionByName(accepted))
    for table in ["series", "segments", "tier_1m", "tier_1h", "tier_1d"]:
        a = wh_f.read(spark, table).drop("sbucket")
        b = wh.read(spark, table).drop("sbucket")
        assert a.exceptAll(b).count() == 0, table
        assert b.exceptAll(a).count() == 0, table

    # series retention blocks incremental maintenance loudly
    p.retain("series", H)
    with pytest.raises(ValueError, match="SERIES stage is retained"):
        p.append(accepted, batch_id="late2")


@pytest.mark.parametrize("seed", [3, 11])
def test_append_random_split_fuzz(spark, transcripts, tmp_path, seed):
    """Property: ANY partition of the input into an initial set plus two
    sequential batches (seeded random turn-level split — arbitrary
    interleaving in time and across conversations) appended through the
    incremental path equals the from-scratch build."""
    part = F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(seed)), F.lit(5))
    initial = transcripts.where(part <= 2)
    b1 = transcripts.where(part == 3)
    b2 = transcripts.where(part == 4)

    wh = Warehouse(str(tmp_path / f"fz{seed}"), n_buckets=4)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=4, salt_span_points=None)
    p.run(initial)
    p.append(b1, batch_id="b1")
    p.append(b2, batch_id="b2")

    wh_f = Warehouse(str(tmp_path / f"fzf{seed}"), n_buckets=4)
    p_f = TierPipeline(spark, wh_f, CFG10, chunk_buckets=4, salt_span_points=None)
    p_f.run(transcripts)
    for table in ["raw", "series", "segments", "tier_1m", "tier_1h", "tier_1d"]:
        a = wh_f.read(spark, table).drop("sbucket")
        b = wh.read(spark, table).drop("sbucket")
        assert a.exceptAll(b).count() == 0, table
        assert b.exceptAll(a).count() == 0, table


def test_append_backfills_stage_added_after_build(spark, transcripts, tmp_path):
    """Upgrade path: append() on a warehouse built before a sketch stage
    existed (cms_1d here) must BACKFILL the new stage across ALL buckets,
    not just the touched ones — otherwise range_heavy would silently
    undercount conversations hashing to untouched buckets while the
    lineage high-water still validated the cover."""
    import shutil

    from modelardb_dynamic_spark.operators.sketches import (
        cms_estimates,
        cms_tier,
    )
    from modelardb_dynamic_spark.sources.timeseries import to_ms

    batch_convs = ["conv00000005"]
    in_batch = F.col("conv_id").isin(batch_convs) & (
        F.pmod(F.col("turn_idx"), F.lit(5)) == 2
    )
    wh = Warehouse(str(tmp_path / "bf"), n_buckets=4)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=2, salt_span_points=None)
    p.run(transcripts.where(~in_batch), sketches=True)
    # simulate a warehouse from before the cms_1d stage existed
    shutil.rmtree(wh.path("cms_1d"))
    p.append(transcripts.where(in_batch), batch_id="upg")

    turns = transcripts.select(
        F.col("conv_id").alias("sid"),
        to_ms("ts").alias("ts_ms"),
    )
    t_lo, t_hi = turns.agg(F.min("ts_ms"), F.max("ts_ms")).collect()[0]
    DAY = 86_400_000
    lo, hi = (t_lo // DAY) * DAY, ((t_hi // DAY) + 1) * DAY
    probes = [r["sid"] for r in turns.select("sid").distinct().limit(3).collect()]
    got = p.range_heavy(lo, hi, DAY, probes)
    want = cms_estimates(
        cms_tier(
            turns.where(f"ts_ms >= {lo} AND ts_ms < {hi}"),
            [], "sid", f"(ts_ms DIV {DAY}) * {DAY}",
        ),
        [], probes,
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_read_only_probes_create_no_stage(spark, transcripts, tmp_path):
    """range_quantiles and a sealed-day probe on a warehouse built without
    sketches leave no sketch-stage directory behind, so the next append
    (which maintains the sketches only when hist_1h exists) builds none."""
    import os

    from modelardb_dynamic_spark.operators.sketches import hist_quantiles, hist_tier
    from modelardb_dynamic_spark.sources.timeseries import to_ms

    DAY = 86_400_000
    in_batch = (F.col("conv_id") == "conv00000005") & (
        F.pmod(F.col("turn_idx"), F.lit(5)) == 2
    )
    wh = Warehouse(str(tmp_path / "ro"), n_buckets=2)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=2, salt_span_points=None)
    p.run(transcripts.where(~in_batch))
    sketch_dirs = [
        wh.path(n)
        for n in ("hist_1h", "hist_1d", "hll_1d", "cms_1d", "kmv_1d", "bloom_1d")
    ]
    turns = transcripts.where(~in_batch).select(
        F.col("conv_id").alias("sid"),
        to_ms("ts").alias("ts_ms"),
        (1 + F.floor(F.length("text") / 4)).cast("long").alias("tokens"),
    )
    t_lo, t_hi = turns.agg(F.min("ts_ms"), F.max("ts_ms")).collect()[0]
    # a never-built sketch tier covers nothing: the raw turns answer
    got = p.range_quantiles(t_lo, t_hi + 1, HOUR_MS)
    want = hist_quantiles(
        hist_tier(turns, ["sid"], "tokens", f"(ts_ms DIV {HOUR_MS}) * {HOUR_MS}"),
        ["sid"],
    )
    assert got.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert not p._sealed_day("kmv_1d", (t_lo // DAY) * DAY, "overlap_convs")
    assert not any(map(os.path.exists, sketch_dirs))
    p.append(transcripts.where(in_batch), batch_id="ro")
    assert not any(map(os.path.exists, sketch_dirs))


def test_overlap_convs_matches_python_kmv_replay(spark, transcripts, tmp_path):
    """overlap_convs: the kmv_1d sketch tier's day-over-day active-set
    overlap must equal a pure-Python KMV replay over the raw turns —
    per-sbucket partial sketches re-ranked across sbuckets ARE the
    global bottom-k (sid_bucket partitions convs disjointly)."""
    import hashlib

    from modelardb_dynamic_spark.operators.sketches import K_KMV
    from modelardb_dynamic_spark.sources.timeseries import to_ms

    DAY = 86_400_000
    wh = Warehouse(str(tmp_path / "ov"), n_buckets=4)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=4, salt_span_points=None)
    p.run(transcripts, sketches=True)

    turns = transcripts.select(
        F.col("conv_id").alias("sid"), to_ms("ts").alias("ts_ms")
    )
    days = sorted(
        r["d"]
        for r in turns.selectExpr(f"(ts_ms DIV {DAY}) * {DAY} AS d")
        .distinct()
        .collect()
    )
    assert len(days) >= 2, "fixture must span two days"
    da, db = days[0], days[1]

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def day_set(day):
        return {
            r["sid"]
            for r in turns.where(
                f"ts_ms >= {day} AND ts_ms < {day + DAY}"
            ).select("sid").distinct().collect()
        }

    ka = sorted({h60(s) for s in day_set(da)})[:K_KMV]
    kb = sorted({h60(s) for s in day_set(db)})[:K_KMV]
    u = sorted(set(ka) | set(kb))[:K_KMV]
    sa, sb = set(ka), set(kb)
    mu, hku = len(u), max(u)
    n_both = sum(1 for h in u if h in sa and h in sb)
    est_union = float(mu) if mu < K_KMV else (
        float(K_KMV - 1) * float(1 << 60)
    ) / float(hku)
    est_inter = (float(n_both) / float(mu)) * est_union

    row = p.overlap_convs(da, db).collect()[0]
    assert (row["day_a"], row["day_b"]) == (da, db)
    assert (row["mu"], row["h_k_u"], row["n_both"]) == (mu, hku, n_both)
    assert row["est_union"] == pytest.approx(est_union, rel=1e-12)
    assert row["est_inter"] == pytest.approx(est_inter, rel=1e-12)

    # a day past the tier's unsealed high-water falls back to raw and
    # still matches (same replay); a retained-away day fails loudly is
    # covered by the validate_cover tests for the other sketch queries.
    hw = p._cover(["kmv_1d"], da, da + DAY, DAY)[1].get(DAY)
    assert hw is not None
    unsealed = (hw // DAY) * DAY
    if unsealed in days:
        other = days[0] if unsealed != days[0] else days[1]
        r2 = p.overlap_convs(other, unsealed).collect()[0]
        assert r2["mu"] >= 1


def test_compact_preserves_rows_manifests_and_resume(
    spark, transcripts, tmp_path
):
    """Compaction must change only file counts: rows identical, lineage
    manifests untouched (so a rebuild still skips), and an interrupted
    swap recovers on the next call."""
    import glob
    import os
    import shutil

    wh = Warehouse(str(tmp_path / "cp"), n_buckets=4)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=4)
    p.run(transcripts)

    table = "tier_1m"
    root = wh.path(table)
    before = sorted(map(tuple, wh.read(spark, table).collect()))
    n_files_before = len(glob.glob(f"{root}/sbucket=*/*.parquet"))
    assert n_files_before > 4, "need multi-file buckets for the test"

    # the row check (footer num_rows vs manifest) abandons a rewrite that
    # disagrees with the lineage, leaving the bucket as it was
    import json

    multi = min(
        int(d.rsplit("=", 1)[1])
        for d in glob.glob(f"{root}/sbucket=*")
        if len(glob.glob(f"{d}/*.parquet")) > 1
    )
    man = os.path.join(root, "_lineage", f"bucket={multi}.json")
    with open(man) as f:
        good = f.read()
    doc = json.loads(good)
    doc["rows"] += 1
    with open(man, "w") as f:
        json.dump(doc, f)
    with pytest.raises(RuntimeError, match="rewrite abandoned"):
        p.compact(table, target_files=1)
    with open(man, "w") as f:
        f.write(good)
    assert sorted(map(tuple, wh.read(spark, table).collect())) == before
    assert not glob.glob(f"{root}/*.tmp")

    st = p.compact(table, target_files=1)
    assert st["buckets_compacted"] >= 1
    assert st["files_after"] == st["buckets_compacted"]
    after = sorted(map(tuple, wh.read(spark, table).collect()))
    assert after == before
    assert len(glob.glob(f"{root}/sbucket=*/*.parquet")) == 4

    # manifests untouched -> rebuild is a no-op (resume still skips)
    p.build_tiers()
    assert sorted(map(tuple, wh.read(spark, table).collect())) == before

    # idempotent: nothing left to compact
    assert p.compact(table, target_files=1)["buckets_compacted"] == 0

    # crash recovery: simulate a swap interrupted between the two renames
    dst = os.path.join(root, "sbucket=0")
    os.rename(dst, dst + ".old")
    assert not os.path.exists(dst)
    p.compact(table, target_files=1)  # recovery pass restores the bucket
    assert os.path.exists(dst)
    assert sorted(map(tuple, wh.read(spark, table).collect())) == before

    # and a stale backup beside an installed dir is cleaned up
    shutil.copytree(dst, dst + ".old")
    p.compact(table, target_files=1)
    assert not os.path.exists(dst + ".old")


def test_active_convs_bloom_membership(spark, transcripts, tmp_path):
    """active_convs: sealed-day Bloom probes have NO false negatives
    (every truly-active conv reports member) and respect bucket routing
    (a probe is judged only by its own sbucket's filter); an unsealed
    day falls back to the exact raw scan with exact=True."""
    from modelardb_dynamic_spark.sources.timeseries import to_ms

    DAY = 86_400_000
    wh = Warehouse(str(tmp_path / "ac"), n_buckets=4)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=4, salt_span_points=None)
    p.run(transcripts, sketches=True)

    turns = transcripts.select(
        F.col("conv_id").alias("sid"), to_ms("ts").alias("ts_ms")
    )
    days = sorted(
        r["d"]
        for r in turns.selectExpr(f"(ts_ms DIV {DAY}) * {DAY} AS d")
        .distinct().collect()
    )
    hw = p._cover(["bloom_1d"], days[0], days[0] + DAY, DAY)[1].get(DAY)
    assert hw is not None
    sealed_days = [d for d in days if d < hw]
    assert sealed_days, "fixture must have at least one sealed day"
    day = sealed_days[0]
    active = {
        r["sid"]
        for r in turns.where(f"ts_ms >= {day} AND ts_ms < {day + DAY}")
        .select("sid").distinct().collect()
    }
    all_convs = {r["sid"] for r in turns.select("sid").distinct().collect()}
    inactive = sorted(all_convs - active)
    probes = sorted(active)[:6] + inactive[:4] + ["convDOESNOTEXIST"]
    got = {r["probe"]: r for r in p.active_convs(day, probes).collect()}
    assert len(got) == len(probes)
    for c in sorted(active)[:6]:  # no false negatives
        assert got[c]["member"] and not got[c]["exact"]
    # false positives are possible but must be rare at this occupancy
    fps = sum(1 for c in inactive[:4] + ["convDOESNOTEXIST"]
              if got[c]["member"])
    assert fps <= 1

    # unsealed day -> exact raw fallback
    unsealed = (hw // DAY) * DAY
    if unsealed in days:
        active_u = {
            r["sid"]
            for r in turns.where(
                f"ts_ms >= {unsealed} AND ts_ms < {unsealed + DAY}"
            ).select("sid").distinct().collect()
        }
        some = sorted(all_convs)[:5]
        got_u = {
            r["probe"]: r for r in p.active_convs(unsealed, some).collect()
        }
        for c in some:
            assert got_u[c]["exact"]
            assert got_u[c]["member"] == (c in active_u)


def test_warehouse_status_surfaces_lineage_and_retention(
    spark, transcripts, tmp_path
):
    """--status (plans/pipeline.warehouse_status): pure-filesystem
    lineage/retention report after a build — every stage table present
    with its bucket count, row total, high water, and stage name; a
    retention marker surfaces as retention_horizon_ms; rows match the
    run's own lineage metrics."""
    from modelardb_dynamic_spark.plans.pipeline import warehouse_status

    wh = Warehouse(str(tmp_path / "st"), n_buckets=4)
    p = TierPipeline(spark, wh, CFG0, chunk_buckets=4, salt_span_points=None)
    p.run(transcripts)
    hw = p.retention_horizon  # marker write below
    lo = wh.read(spark, "tier_1m").agg({"bucket_ts": "min"}).collect()[0][0]
    p.retain("series", int(lo) + 1)
    st = warehouse_status(wh.root)
    tables = st["tables"]
    for stage in ("raw", "series", "segments", "tier_1m", "tier_1h",
                  "tier_1d"):
        assert tables[stage]["buckets"] == 4
        assert tables[stage]["rows"] > 0
        assert tables[stage]["stage"] == stage
        assert tables[stage]["high_water_ts"] is not None
        assert tables[stage]["last_commit_utc"] >= tables[stage][
            "first_commit_utc"
        ]
    assert tables["series"]["retention_horizon_ms"] == int(lo) + 1
    assert "retention_horizon_ms" not in tables["raw"]
    assert hw("series") == int(lo) + 1


def test_manifests_record_bytes_and_files(spark, transcripts, tmp_path):
    """Every bucket manifest records its sbucket=K directory's part-file
    bytes and count, after a build and after an append; --status sums
    them per stage; a manifest written before the fields loads with
    None, which the stage totals carry."""
    import json
    import os

    from modelardb_dynamic_spark.plans.checkpoint import Lineage
    from modelardb_dynamic_spark.plans.pipeline import STAGES, warehouse_status

    def check(wh):
        n = 0
        for st in STAGES:
            if not os.path.isdir(wh.path(st.name)):
                continue
            lin = Lineage(wh.path(st.name))
            for b in lin.completed_buckets():
                d = os.path.join(wh.path(st.name), f"sbucket={b}")
                sizes = [
                    os.path.getsize(os.path.join(d, f))
                    for f in os.listdir(d) if f.endswith(".parquet")
                ]
                m = lin.get(b)
                assert (m.bytes, m.files) == (sum(sizes), len(sizes)), (st.name, b)
                n += 1
        return n

    wh = Warehouse(str(tmp_path / "mb"), n_buckets=4)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=4)
    in_batch = F.col("conv_id").isin(["conv00000005"]) & (F.col("turn_idx") % 5 == 1)
    p.run(transcripts.where(~in_batch))
    assert check(wh) == 6 * 4
    p.append(transcripts.where(in_batch), batch_id="b1")
    assert check(wh) == 6 * 4
    tables = warehouse_status(wh.root)["tables"]
    for st in ("raw", "series", "segments", "tier_1m", "tier_1h", "tier_1d"):
        lin = Lineage(wh.path(st))
        assert tables[st]["bytes"] == sum(lin.get(b).bytes for b in range(4)) > 0
        assert tables[st]["files"] == sum(lin.get(b).files for b in range(4)) >= 4
    # a manifest from before the fields existed
    path = os.path.join(wh.path("raw"), "_lineage", "bucket=0.json")
    with open(path) as f:
        doc = json.load(f)
    del doc["bytes"], doc["files"]
    with open(path, "w") as f:
        json.dump(doc, f)
    assert Lineage(wh.path("raw")).get(0).bytes is None
    raw = warehouse_status(wh.root)["tables"]["raw"]
    assert raw["bytes"] is None and raw["files"] is None and raw["buckets"] == 4


def test_archive_series_demotes_and_restores_exactly(spark, transcripts, tmp_path):
    """Cold archive: archive_series(h) writes blob pairs for every
    sub-horizon series point, drops the hot rows, and
    restore_series_archive returns them EXACTLY; growing the horizon
    re-archives losslessly even though the older hot rows are gone;
    re-running at the same horizon is a fingerprint no-op."""
    import os as _os

    from modelardb_dynamic_spark.sources.catalog import Warehouse as _WH

    wh = _WH(str(tmp_path / "arch"), n_buckets=4)
    p = TierPipeline(spark, wh, CFG0, chunk_buckets=4, salt_span_points=None)
    p.ingest_raw(transcripts)
    p.build_series()

    series = wh.read(spark, "series").drop("sbucket")
    s_lo, s_hi = series.agg(F.min("ts_ms"), F.max("ts_ms")).collect()[0]
    h1 = ((s_lo + (s_hi - s_lo) // 3) // HOUR_MS) * HOUR_MS
    h2 = ((s_lo + 2 * (s_hi - s_lo) // 3) // HOUR_MS) * HOUR_MS

    def rows_below(df, h):
        return sorted(
            (r["sid"], r["metric"], r["ts_ms"], r["value"])
            for r in df.where(F.col("ts_ms") < h).collect()
        )

    want_h1 = rows_below(series, h1)
    want_h2 = rows_below(series, h2)
    assert want_h1 and len(want_h2) > len(want_h1)

    out = p.archive_series(h1)
    assert out["horizon_ms"] == h1 and out["blobs"] > 0
    hot = wh.read(spark, "series")
    assert hot.where(F.col("ts_ms") < h1).count() == 0
    got = sorted(
        (r["sid"], r["metric"], r["ts_ms"], r["value"])
        for r in p.restore_series_archive().collect()
    )
    assert got == want_h1

    # idempotent re-run: same fingerprint -> manifests untouched
    import json

    man_dir = wh.path("series_arch")
    before = {
        f: _os.path.getmtime(_os.path.join(man_dir, f))
        for f in _os.listdir(man_dir)
        if f.endswith(".json")
    }
    p.archive_series(h1)
    after = {
        f: _os.path.getmtime(_os.path.join(man_dir, f))
        for f in _os.listdir(man_dir)
        if f.endswith(".json")
    }
    assert {k: v for k, v in after.items() if k in before} == before

    # grow the horizon: old archive unions with the [h1, h2) hot rows
    p.archive_series(h2)
    got2 = sorted(
        (r["sid"], r["metric"], r["ts_ms"], r["value"])
        for r in p.restore_series_archive().collect()
    )
    assert got2 == want_h2
    assert wh.read(spark, "series").where(F.col("ts_ms") < h2).count() == 0
    # archive survives in the status surface
    from modelardb_dynamic_spark.plans.pipeline import warehouse_status

    st = warehouse_status(str(tmp_path / "arch"))
    assert "series_arch" in st["tables"]


def test_purge_removes_every_trace(spark, transcripts, tmp_path):
    """Right-to-be-forgotten: purge() deletes the conversations from
    EVERY stage (raw through tiers, archive, and all six sketch
    tiers), rewrites ONLY the affected hash buckets, equals a
    never-ingested build on the sid-keyed stages, and re-running the
    same purge is a fingerprint no-op."""
    import json
    import os

    from modelardb_dynamic_spark.sources.timeseries import to_ms

    wh = Warehouse(str(tmp_path / "purge"), n_buckets=8)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=8, salt_span_points=None)
    p.run(transcripts, sketches=True)
    victims = [r.conv_id for r in
               transcripts.select("conv_id").distinct().limit(3).collect()]

    # manifests of buckets the purge should NOT touch
    from modelardb_dynamic_spark.plans.checkpoint import Lineage
    from modelardb_dynamic_spark.sources.catalog import sid_bucket

    aff_expect = sorted(
        r.b for r in spark.createDataFrame(
            [(v,) for v in victims], "c string"
        ).select(sid_bucket(F.col("c"), 8).alias("b")).distinct().collect()
    )
    untouched = [b for b in range(8) if b not in aff_expect]
    # every stage table on disk, so a stage added to the pipeline cannot
    # escape the checks below
    tables = sorted(
        n for n in os.listdir(wh.root)
        if os.path.isdir(os.path.join(wh.path(n), "_lineage"))
    )
    assert set(tables) >= {
        "raw", "series", "segments", "tier_1m", "tier_1h", "tier_1d",
        "hist_1h", "hist_1d", "hll_1d", "cms_1d", "kmv_1d", "bloom_1d",
    }
    pre = {}
    for stage in tables:
        lin = Lineage(wh.path(stage))
        pre[stage] = {b: lin.get(b).committed_utc for b in untouched
                      if lin.get(b) is not None}

    m = p.purge(victims, batch_id="b1")
    assert m["affected_buckets"] == aff_expect
    assert m["rows_removed"]["raw"] > 0
    assert m["sketch_rows_dropped_below_floor"] == 0

    # 1. no stage keyed by conversation contains a victim (the merged
    # sketches carry no conversation column; 3. checks them)
    keyed = 0
    for stage in tables:
        df = wh.read(spark, stage)
        key = next((c for c in ("conv_id", "sid") if c in df.columns), None)
        if key is not None:
            keyed += 1
            assert df.where(F.col(key).isin(victims)).count() == 0, stage
    assert keyed >= 9

    # 2. untouched buckets' manifests byte-identical (not re-committed)
    for stage, mans in pre.items():
        lin = Lineage(wh.path(stage))
        for b, ts in mans.items():
            assert lin.get(b).committed_utc == ts, (stage, b)

    # 3. sid-keyed stages equal a build that never saw the victims
    clean = transcripts.where(~F.col("conv_id").isin(victims))
    wh_c = Warehouse(str(tmp_path / "clean"), n_buckets=8)
    p_c = TierPipeline(spark, wh_c, CFG10, chunk_buckets=8,
                       salt_span_points=None)
    p_c.run(clean, sketches=True)
    for table in tables:
        a = wh.read(spark, table).drop("sbucket")
        b = wh_c.read(spark, table).drop("sbucket")
        assert a.exceptAll(b).count() == 0, table
        assert b.exceptAll(a).count() == 0, table

    # 4. idempotent re-run: same fingerprint -> no bucket rebuilt
    lin_raw = Lineage(wh.path("raw"))
    stamps = {b: lin_raw.get(b).committed_utc for b in aff_expect}
    m2 = p.purge(victims, batch_id="b1")
    assert m2["affected_buckets"] == aff_expect
    lin_raw2 = Lineage(wh.path("raw"))
    for b, ts in stamps.items():
        assert lin_raw2.get(b).committed_utc == ts


def test_purge_covers_series_archive(spark, transcripts, tmp_path):
    """A purge after archive_series scrubs the cold DoD+ALP blobs too."""
    wh = Warehouse(str(tmp_path / "parch"), n_buckets=4)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=4, salt_span_points=None)
    p.run(transcripts)
    horizon = (
        transcripts.agg(
            F.expr("max(unix_millis(CAST(ts AS TIMESTAMP)))").alias("m")
        ).collect()[0]["m"] + 60_000
    )
    p.archive_series(horizon)  # everything demoted to the cold archive
    victims = [r.conv_id for r in
               transcripts.select("conv_id").distinct().limit(2).collect()]
    p.purge(victims, batch_id="arch1")
    restored = p.restore_series_archive()
    assert restored.where(F.col("sid").isin(victims)).count() == 0
    assert restored.count() > 0  # other conversations still restorable


def test_purge_then_append_composes(spark, transcripts, tmp_path):
    """Lifecycle composition: purge victims, then append NEW turns
    (including new turns for a purged conversation — legitimate fresh
    data). The warehouse must equal a clean build over
    (original - victims) + batch, and the purged turns must not
    resurrect."""
    victims = [r.conv_id for r in
               transcripts.select("conv_id").distinct().limit(2).collect()]
    batch = transcripts.where(F.col("conv_id") == victims[0]).limit(5)
    batch = batch.withColumn("text", F.concat(F.lit("NEW "), F.col("text")))

    wh = Warehouse(str(tmp_path / "pa"), n_buckets=8)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=8, salt_span_points=None)
    p.run(transcripts)
    p.purge(victims, batch_id="pg1")
    p.append(batch, batch_id="ap1")

    clean_input = transcripts.where(
        ~F.col("conv_id").isin(victims)
    ).unionByName(batch)
    wh_c = Warehouse(str(tmp_path / "pa_clean"), n_buckets=8)
    p_c = TierPipeline(spark, wh_c, CFG10, chunk_buckets=8,
                       salt_span_points=None)
    p_c.run(clean_input)

    for table in ("raw", "series", "segments", "tier_1m", "tier_1h",
                  "tier_1d"):
        a = wh.read(spark, table).drop("sbucket")
        b = wh_c.read(spark, table).drop("sbucket")
        assert a.exceptAll(b).count() == 0, table
        assert b.exceptAll(a).count() == 0, table
    raw = wh.read(spark, "raw")
    # purged victim[1] fully gone; victim[0] has ONLY the new batch turns
    assert raw.where(F.col("conv_id") == victims[1]).count() == 0
    got0 = raw.where(F.col("conv_id") == victims[0])
    assert got0.count() == batch.count()
    assert got0.where(~F.col("text").startswith("NEW ")).count() == 0


def test_fsck_verifies_manifests_against_parquet(spark, transcripts, tmp_path):
    """Clean warehouse: zero mismatches everywhere. Delete one bucket's
    part files behind the lineage's back: fsck names exactly that
    bucket with manifest vs actual counts."""
    import glob
    import os

    wh = Warehouse(str(tmp_path / "fsck"), n_buckets=4)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=4, salt_span_points=None)
    p.run(transcripts)
    rep = p.fsck()
    assert set(rep) >= {"raw", "series", "segments", "tier_1m", "tier_1h",
                        "tier_1d"}
    for table, r in rep.items():
        assert r["mismatches"] == [], table
        assert r["rows_manifest"] == r["rows_actual"], table
        assert r["buckets_checked"] == 4, table

    # simulate silent data loss in segments bucket 2
    victim_rows = rep["segments"]["rows_manifest"]
    for f in glob.glob(str(tmp_path / "fsck" / "segments" / "sbucket=2" / "*")):
        os.remove(f)
    rep2 = p.fsck(tables=["segments"])
    mm = rep2["segments"]["mismatches"]
    assert len(mm) == 1 and mm[0]["bucket"] == 2
    assert mm[0]["actual_rows"] == 0 and mm[0]["manifest_rows"] > 0
    assert rep2["segments"]["rows_actual"] < victim_rows


def test_epoch_zero_high_water(spark, tmp_path):
    """Every turn inside the first minute after epoch 0: the series,
    segment and tier stages all have high-water 0 ms, which is a value,
    not a missing mark — fsck must not report it as a mismatch and
    Lineage.metrics must keep it."""
    from modelardb_dynamic_spark.plans.checkpoint import Lineage

    tr = generate_transcripts(spark, n_convs=6, turns_base=16).withColumn(
        "ts", F.timestamp_millis((F.col("turn_idx") % 6000) * 10)
    )
    wh = Warehouse(str(tmp_path / "epoch0"), n_buckets=2)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=2, salt_span_points=None)
    p.run(tr)
    for table, r in p.fsck().items():
        assert r["mismatches"] == [], table
    for stage in ("series", "segments", "tier_1m", "tier_1h", "tier_1d"):
        assert Lineage(wh.path(stage)).metrics()["high_water_ts"] == 0, stage
    _assert_footers_equal_scan(spark, wh)


def _assert_footers_equal_scan(spark, wh, tables=None):
    """For every stage table of wh: footer_stats equals the Spark
    count/max-by-bucket scan (and the lineage manifests), and the
    footer_schema read has exactly the inferred schema."""
    import os

    from modelardb_dynamic_spark.plans.checkpoint import Lineage
    from modelardb_dynamic_spark.plans.pipeline import _scan_stats
    from modelardb_dynamic_spark.sources.catalog import footer_schema, footer_stats

    names = tables or sorted(
        n for n in os.listdir(wh.root)
        if os.path.isdir(os.path.join(wh.path(n), "_lineage"))
    )
    assert names
    for t in names:
        path = wh.path(t)
        lin = Lineage(path)
        ts_col = lin.get(lin.completed_buckets()[0]).ts_col
        inferred = spark.read.parquet(path)
        scanned = _scan_stats(inferred, ts_col)
        footer = footer_stats(path, ts_col)
        assert footer is not None, t
        assert {b: v for b, v in footer.items() if v[0]} == scanned, t
        for b in lin.completed_buckets():
            m = lin.get(b)
            assert footer.get(b, (0, None)) == (m.rows, m.high_water_ts), (t, b)
        schema = footer_schema(path)
        assert [(f.name, f.dataType) for f in schema.fields] == [
            (f.name, f.dataType) for f in inferred.schema.fields
        ], t
        assert spark.read.schema(schema).parquet(path).schema == inferred.schema, t
        # Warehouse.read annotates a bucketed table's sid with n_buckets;
        # the annotation never reaches the footers of what is written
        want = inferred
        if "sid" in inferred.columns:
            assert inferred.schema["sid"].metadata == {}, t
            if "sbucket" in inferred.columns:
                want = inferred.withMetadata("sid", {"n_buckets": wh.n_buckets})
        assert wh.read(spark, t).schema == want.schema, t


def test_footers_equal_scan_and_build_never_scans(spark, transcripts, tmp_path,
                                                  monkeypatch):
    """A build_session warehouse (INT64 micros timestamps) with sketch
    tiers and a series archive commits every manifest from parquet
    footers: the scan fallback is never reached, yet every table's
    footer stats and schema equal what a Spark scan and schema inference
    give, and fsck is clean."""
    from modelardb_dynamic_spark.plans import pipeline as pl
    from modelardb_dynamic_spark.sources.catalog import footer_schema

    def no_scan(*a, **k):
        raise AssertionError("lineage scan fallback reached")

    wh = Warehouse(str(tmp_path / "foot"), n_buckets=4)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=2, salt_span_points=None)
    monkeypatch.setattr(pl, "_scan_stats", no_scan)
    p.run(transcripts, sketches=True)
    lo = wh.read(spark, "series").agg(F.min("ts_ms")).first()[0]
    p.archive_series(lo + 2 * HOUR_MS)
    monkeypatch.undo()

    _assert_footers_equal_scan(spark, wh)
    for table, r in p.fsck().items():
        assert r["mismatches"] == [], table

    # an unbucketed table: the footer schema has no sbucket column
    transcripts.write.parquet(wh.path("flat"))
    assert "sbucket" not in footer_schema(wh.path("flat")).fieldNames()
    assert wh.read(spark, "flat").schema == spark.read.parquet(wh.path("flat")).schema


def test_footer_stats_edge_inputs(spark, tmp_path):
    """footer_stats against the Spark scan on hand-made chunks: a bucket
    whose latest event is 1 us before epoch 0 (-> -1 ms, unix_millis'
    floor), epoch 0 itself, an all-null bucket, a bucket mixing nulls and
    values, a file of three row groups whose middle one is all null, and
    the same instants as a TIMESTAMP_NTZ column. INT96 timestamps have no
    statistics: None."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from modelardb_dynamic_spark.plans.pipeline import _scan_stats
    from modelardb_dynamic_spark.sources.catalog import footer_stats

    us = (
        F.when(F.col("b") == 0, -1 - F.col("id") * 1000)
        .when(F.col("b") == 1, F.lit(None))
        .when(F.col("b") == 2, F.when(F.col("id") < 900, F.lit(None))
              .otherwise(F.col("id") * 7_777))
        .otherwise((3 - F.col("id")) * 1000)  # bucket 3: max is epoch 0
    )
    df = (
        spark.range(0, 4000)
        .withColumn("b", (F.col("id") % 4).cast("int"))
        .withColumn("ts", F.timestamp_micros(us))
        .select(
            F.col("b").alias("sbucket"), "ts",
            F.col("ts").cast("timestamp_ntz").alias("tsn"),
        )
    )

    def write(path):
        df.write.partitionBy("sbucket").parquet(path)
        # bucket 4: row groups [values], [all null], [values]
        vals = [-5_000_123 + 1000 * i for i in range(100)]
        col = vals + [None] * 100 + [v - 10**9 for v in vals]
        os.makedirs(f"{path}/sbucket=4")
        pq.write_table(
            pa.table({
                "ts": pa.array(col, pa.timestamp("us", tz="UTC")),
                "tsn": pa.array(col, pa.timestamp("us")),
            }),
            f"{path}/sbucket=4/part-rg.parquet", row_group_size=100,
        )
        return spark.read.parquet(path)

    path = str(tmp_path / "edge")
    read = write(path)
    assert dict(read.dtypes)["tsn"] == "timestamp_ntz"
    md = pq.read_metadata(f"{path}/sbucket=4/part-rg.parquet")
    assert md.num_row_groups == 3
    assert md.row_group(1).column(0).statistics.null_count == 100
    for col in ("ts", "tsn"):
        got = footer_stats(path, col)
        assert got == _scan_stats(read, col), col
        assert got[0] == (1000, -1) and got[1] == (1000, None), col
        assert got[2] == (1000, 3998 * 7_777 // 1000), col
        assert got[3] == (1000, 0), col
        assert got[4] == (300, (-5_000_123 + 99_000) // 1000), col

    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        legacy = str(tmp_path / "int96")
        write(legacy)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    assert footer_stats(legacy, "ts") is None
    assert footer_stats(legacy, "tsn") == footer_stats(path, "tsn")


def test_int96_raw_stage_falls_back_to_scan(spark, transcripts, tmp_path):
    """A raw stage written as a legacy warehouse would be (INT96 ts, no
    column statistics) still commits manifests equal to the scan, through
    the scan fallback, and fsck is clean."""
    from modelardb_dynamic_spark.plans.checkpoint import Lineage
    from modelardb_dynamic_spark.plans.pipeline import _scan_stats
    from modelardb_dynamic_spark.sources.catalog import footer_stats

    wh = Warehouse(str(tmp_path / "int96"), n_buckets=4)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=2, salt_span_points=None)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        p.ingest_raw(transcripts)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    assert footer_stats(wh.path("raw"), "ts") is None  # really stat-less
    lin = Lineage(wh.path("raw"))
    scanned = _scan_stats(spark.read.parquet(wh.path("raw")), "ts")
    assert {
        b: (lin.get(b).rows, lin.get(b).high_water_ts)
        for b in lin.completed_buckets()
    } == scanned
    assert p.fsck(tables=["raw"])["raw"]["mismatches"] == []


def test_purge_sketch_rebuild_drops_straddling_day(spark, tmp_path):
    """When the raw retention horizon falls mid-day, the purge-time sketch
    rebuild must DROP the straddling day entirely — rebuilding it from
    only the retained half and keeping it as if complete would undercount
    frequency/membership answers (r4 ADVICE, medium)."""
    from modelardb_dynamic_spark.plans.pipeline import DAY_MS
    from modelardb_dynamic_spark.sources.timeseries import to_ms

    # multi-day span per conversation (default fixture spans ~hours)
    txs = generate_transcripts(spark, n_convs=6, turns_base=2000)
    wh = Warehouse(str(tmp_path / "straddle"), n_buckets=4)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=4, salt_span_points=None)
    p.run(txs, sketches=True)

    lo, hi = (
        wh.read(spark, "raw")
        .agg(F.min(to_ms("ts")), F.max(to_ms("ts")))
        .collect()[0]
    )
    mid = lo + (hi - lo) // 2
    h = (mid // DAY_MS) * DAY_MS + DAY_MS // 2  # strictly mid-day
    floor = ((h + DAY_MS - 1) // DAY_MS) * DAY_MS
    assert lo < (h // DAY_MS) * DAY_MS < floor <= hi  # data straddles
    p.retain_raw(h)

    victims = [r.conv_id for r in
               txs.select("conv_id").distinct().limit(2).collect()]
    m = p.purge(victims, batch_id="sb1")
    aff = m["affected_buckets"]
    # the straddling day's (and every sub-floor) sketch row is gone from
    # the rebuilt buckets, and the loss was counted
    assert m["sketch_rows_dropped_below_floor"] > 0
    for sk in ("cms_1d", "kmv_1d", "bloom_1d"):
        got = (
            wh.read(spark, sk)
            .where(F.col("sbucket").isin(aff))
            .where(f"bucket_ts < {floor}")
            .count()
        )
        assert got == 0, sk


def test_purge_fingerprint_covers_conv_set(spark, transcripts, tmp_path):
    """Re-running purge with the SAME batch_id but a DIFFERENT victim set
    must rewrite, not silently no-op on buckets committed for the first
    set (r4 ADVICE: fingerprint folds a digest of the conv_ids)."""
    wh = Warehouse(str(tmp_path / "pfp"), n_buckets=2)  # 2 buckets ->
    # both purge sets certainly share a bucket
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=2, salt_span_points=None)
    p.run(transcripts)
    convs = [r.conv_id for r in
             transcripts.select("conv_id").distinct().limit(4).collect()]
    a, b = convs[:2], convs[2:]
    m1 = p.purge(a, batch_id="same")
    assert m1["rows_removed"]["raw"] > 0
    m2 = p.purge(b, batch_id="same")  # same batch_id, different set
    assert m2["rows_removed"]["raw"] > 0
    raw = wh.read(spark, "raw")
    assert raw.where(F.col("conv_id").isin(convs)).count() == 0


def test_purge_rerun_reports_zero_rows_removed(spark, transcripts, tmp_path):
    """An idempotent re-run (same set, same batch_id) skips every bucket
    and must report rows_removed == 0, not an understated/negative count
    (r4 ADVICE: 'before' comes from pre-purge manifests)."""
    wh = Warehouse(str(tmp_path / "prr"), n_buckets=4)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=4, salt_span_points=None)
    p.run(transcripts)
    victims = [r.conv_id for r in
               transcripts.select("conv_id").distinct().limit(2).collect()]
    m1 = p.purge(victims, batch_id="rr")
    assert all(v >= 0 for v in m1["rows_removed"].values())
    assert m1["rows_removed"]["raw"] > 0
    m2 = p.purge(victims, batch_id="rr")
    assert all(v == 0 for v in m2["rows_removed"].values()), m2["rows_removed"]


def test_purge_survives_empty_sketch_buckets(spark, transcripts, tmp_path):
    """If every affected sketch bucket dir is committed-empty (no part
    files), the dropped-below-floor count must not feed fileless paths to
    spark.read.parquet (schema-inference crash; r4 ADVICE)."""
    import glob
    import os

    from modelardb_dynamic_spark.sources.timeseries import to_ms

    wh = Warehouse(str(tmp_path / "pes"), n_buckets=2)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=2, salt_span_points=None)
    p.run(transcripts, sketches=True)
    lo, hi = (
        wh.read(spark, "raw")
        .agg(F.min(to_ms("ts")), F.max(to_ms("ts")))
        .collect()[0]
    )
    p.retain_raw(lo + (hi - lo) // 2)  # raw horizon set -> floor is live
    # hollow out every sketch bucket: dirs + manifests stay, parquet goes
    for sk in ("cms_1d", "kmv_1d", "bloom_1d"):
        for f in glob.glob(str(tmp_path / "pes" / sk / "sbucket=*" / "*")):
            os.remove(f)
    victims = [r.conv_id for r in
               transcripts.select("conv_id").distinct().limit(1).collect()]
    m = p.purge(victims, batch_id="es1")  # must not raise
    assert m["sketch_rows_dropped_below_floor"] == 0


def test_fsck_flags_corrupted_high_water(spark, transcripts, tmp_path):
    """fsck verifies the manifest high-water mark, not only row counts: a
    manifest whose high_water_ts was corrupted (rows intact) is named
    (r4 ADVICE on the fsck docstring/implementation gap)."""
    import json
    import os

    wh = Warehouse(str(tmp_path / "fhw"), n_buckets=4)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=4, salt_span_points=None)
    p.run(transcripts)
    assert p.fsck(tables=["segments"])["segments"]["mismatches"] == []

    man = str(tmp_path / "fhw" / "segments" / "_lineage" / "bucket=1.json")
    with open(man) as f:
        doc = json.load(f)
    assert doc["rows"] > 0 and doc["high_water_ts"] is not None
    doc["high_water_ts"] += 12_345  # stale/corrupted watermark, rows fine
    with open(man, "w") as f:
        json.dump(doc, f)

    mm = p.fsck(tables=["segments"])["segments"]["mismatches"]
    assert len(mm) == 1 and mm[0]["bucket"] == 1
    assert mm[0]["manifest_rows"] == mm[0]["actual_rows"]
    assert mm[0]["manifest_hw"] != mm[0]["actual_hw"]


def _warehouse_state(spark, wh):
    """{table: (sorted row reprs, {bucket: manifest rows/hw/fingerprint/
    ts_col})} of every stage table."""
    import os

    from modelardb_dynamic_spark.plans.checkpoint import Lineage

    out = {}
    for t in sorted(os.listdir(wh.root)):
        if not os.path.isdir(os.path.join(wh.path(t), "_lineage")):
            continue
        lin = Lineage(wh.path(t))
        rows = wh.read(spark, t).collect()
        out[t] = (
            sorted(repr(tuple(r)) for r in rows),
            {
                b: (m.rows, m.high_water_ts, m.input_fingerprint, m.ts_col)
                for b in lin.completed_buckets() for m in [lin.get(b)]
            },
        )
    return out


class _Crash(Exception):
    pass


# (call, n, when): crash before/after the n-th rename into the target
# stage, or before its n-th manifest commit
_CRASH_POINTS = [
    ("rename", 1, "before"), ("rename", 1, "after"),
    ("rename", 2, "before"), ("rename", 2, "after"),
    ("commit", 1, "before"),
]


def _inject_crash(monkeypatch, root, stage, point):
    import os

    from modelardb_dynamic_spark.plans.checkpoint import Lineage

    call, n, when = point
    seen = {"rename": 0, "commit": 0}
    real_rename, real_commit = os.rename, Lineage.commit

    def fires(kind):
        if kind != call:
            return False
        seen[kind] += 1
        return seen[kind] == n

    def rename(src, dst, *a, **k):
        if not str(dst).startswith(root + os.sep) or not fires("rename"):
            return real_rename(src, dst, *a, **k)
        if when == "before":
            raise _Crash(point)
        real_rename(src, dst, *a, **k)
        raise _Crash(point)

    def commit(self, stage_, *a, **k):
        if stage_ == stage and fires("commit"):
            raise _Crash(point)
        return real_commit(self, stage_, *a, **k)

    monkeypatch.setattr(os, "rename", rename)
    monkeypatch.setattr(Lineage, "commit", commit)


@pytest.fixture(scope="module")
def crash_base(spark, transcripts, tmp_path_factory):
    """A 2-bucket warehouse with sketch tiers, raw retained below its
    first hour, built without the turns of the last two hours (the append
    batch)."""
    from modelardb_dynamic_spark.sources.timeseries import to_ms

    lo, hi = transcripts.agg(F.min(to_ms("ts")), F.max(to_ms("ts"))).first()
    late = to_ms("ts") >= hi - 2 * HOUR_MS
    root = str(tmp_path_factory.mktemp("crash") / "base")
    wh = Warehouse(root, n_buckets=2)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=1, salt_span_points=None)
    p.run(transcripts.where(~late), sketches=True)
    p.retain_raw(lo + HOUR_MS)
    victims = [r.conv_id for r in
               transcripts.select("conv_id").distinct().orderBy("conv_id")
               .limit(3).collect()]
    ops = {
        "retain_raw": lambda p: p.retain_raw(lo + 5 * HOUR_MS),
        "purge": lambda p: p.purge(victims, batch_id="crash"),
        "append": lambda p: p.append(transcripts.where(late), batch_id="crash"),
    }
    return root, ops


@pytest.mark.parametrize("op", ["retain_raw", "purge", "append"])
def test_crash_at_every_swap_step_resumes_to_clean_run(
    spark, crash_base, tmp_path, monkeypatch, op
):
    """A crash before or after either rename of a bucket swap, or before
    its manifest commit, then a resume, leaves every table's rows and
    manifests equal to an uninterrupted run, and fsck clean. The first
    stage each op rewrites (raw) rebuilds its buckets from their own rows,
    so a swap that deleted the old bucket before installing the new one
    would lose it and commit the loss."""
    import shutil

    base, ops = crash_base

    def fresh(name):
        root = str(tmp_path / name)
        shutil.copytree(base, root)
        wh = Warehouse(root, n_buckets=2)
        return wh, TierPipeline(spark, wh, CFG10, chunk_buckets=1,
                                salt_span_points=None)

    wh_c, p_c = fresh("clean")
    want_out = ops[op](p_c)
    want = _warehouse_state(spark, wh_c)
    if op == "append":  # the batch really lands above the retention floor
        assert want_out["affected_buckets"]
        assert want_out["rejected_below_retention"] == 0
    if op == "purge":
        assert want_out["rows_removed"]["raw"] > 0

    for i, point in enumerate(_CRASH_POINTS):
        wh, p = fresh(f"crash{i}")
        _inject_crash(monkeypatch, wh.path("raw"), "raw", point)
        with pytest.raises(_Crash):
            ops[op](p)
        monkeypatch.undo()
        out = ops[op](p)  # resume
        if op != "retain_raw":
            assert out == want_out, point
        assert _warehouse_state(spark, wh) == want, point
        for table, r in p.fsck().items():
            assert r["mismatches"] == [], (point, table)


def test_resumed_purge_reports_whole_rows_removed(
    spark, transcripts, tmp_path, monkeypatch
):
    """A purge that crashes after its first chunk and is then resumed
    reports the same rows_removed as an uninterrupted purge: the
    pre-purge counts are snapshotted before the first rewrite."""
    import shutil

    from modelardb_dynamic_spark.sources.catalog import sid_bucket

    wh = Warehouse(str(tmp_path / "rs"), n_buckets=4)
    p = TierPipeline(spark, wh, CFG10, chunk_buckets=1, salt_span_points=None)
    p.run(transcripts)
    shutil.copytree(wh.root, str(tmp_path / "rs2"))
    # victims in two buckets, so the raw stage has a second chunk
    convs = transcripts.select("conv_id").distinct().select(
        "conv_id", sid_bucket(F.col("conv_id"), 4).alias("b")
    ).collect()
    by_b = {}
    for r in sorted(convs):
        by_b.setdefault(r.b, r.conv_id)
    victims = sorted(by_b.values())[:2]
    want = p.purge(victims, batch_id="r1")
    assert len(want["affected_buckets"]) == 2

    wh2 = Warehouse(str(tmp_path / "rs2"), n_buckets=4)
    p2 = TierPipeline(spark, wh2, CFG10, chunk_buckets=1, salt_span_points=None)
    real = TierPipeline._run_stage

    def crash_after_first_chunk(self, *a, **k):
        monkeypatch.setattr(TierPipeline, "_run_stage", real)
        return real(self, *a, **{**k, "fail_after_chunks": 1})

    monkeypatch.setattr(TierPipeline, "_run_stage", crash_after_first_chunk)
    with pytest.raises(RuntimeError, match="injected failure after 1 chunks"):
        p2.purge(victims, batch_id="r1")
    got = p2.purge(victims, batch_id="r1")
    assert got["rows_removed"]["raw"] > 0
    assert got == want
    # the snapshot is gone once the purge completes: a re-run counts 0
    again = p2.purge(victims, batch_id="r1")
    assert all(v == 0 for v in again["rows_removed"].values())


def test_cli_reports_every_stage(spark, tmp_path, capsys):
    """The CLI's "stages" entry lists every table the run built, sketch
    tiers and the series archive included; --range-agg reports its
    cover."""
    import json

    from modelardb_dynamic_spark.__main__ import main

    main([
        "--warehouse", str(tmp_path / "cli"), "--input=-synth:6",
        "--buckets", "2", "--sketches", "--archive-series", "0",
    ])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out["stages"]) == {
        "raw", "series", "segments", "tier_1m", "tier_1h", "tier_1d",
        "hist_1h", "hist_1d", "hll_1d", "cms_1d", "kmv_1d", "bloom_1d",
        "series_arch",
    }
    assert out["stages"]["hll_1d"]["buckets"] == 2
    assert out["stages"]["raw"]["rows"] > 0

    # --range-agg on the built warehouse prints the planner's cover: an
    # hour-aligned window below the 1h high-water reads tier_1h alone
    hw = out["stages"]["tier_1h"]["high_water_ts"]
    main([
        "--warehouse", str(tmp_path / "cli"), "--input=-synth:6",
        "--buckets", "2", "--range-agg", f"{hw - 3 * HOUR_MS}:{hw}:{HOUR_MS}",
    ])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["range_agg"]["cover"] == {"tiers": ["tier_1h"], "raw": False}
    assert out["range_agg"]["n_rows"] > 0
