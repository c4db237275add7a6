"""Plan-quality assertions: the scale-critical properties VERDICT could
only take on faith in round 1 are pinned here via .explain output.

- Summary-only aggregates must NOT read the model column (column pruning
  to the parquet scan).
- Timestamp range predicates on the point view must reach the scan as
  PushedFilters on the segment bounds, BELOW the Python decode barrier.
- The fused transcript pipeline must contain exactly one shuffle up to
  the segment table.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest

from modelardb_dynamic_spark.config import EngineConfig

CFG = EngineConfig(error_bound=0.0, sampling_interval_ms=100)


@pytest.fixture(scope="module")
def seg_parquet(spark, tmp_path_factory):
    from modelardb_dynamic_spark.operators.compress import compress

    t = np.arange(0, 2000, dtype=np.int64) * 100 + 1000
    v = np.where(np.arange(2000) % 60 < 30, 5.0, 9.0).astype(np.float32)
    pdf = pd.DataFrame({"sid": "s1", "metric": "m", "ts_ms": t, "value": v})
    series = spark.createDataFrame(pdf)
    path = str(tmp_path_factory.mktemp("plans") / "segments")
    compress(series, CFG).write.mode("overwrite").parquet(path)
    return path


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_summary_rollup_prunes_model_column(spark, seg_parquet):
    """Tier downsample / summary aggregates read only summary columns:
    the parquet ReadSchema must exclude the (large) model binary."""
    from pyspark.sql import functions as F

    segs = spark.read.parquet(seg_parquet)
    agg = segs.groupBy("sid").agg(
        F.sum("vsum").alias("s"), F.sum("cnt").alias("c"),
        F.min("vmin").alias("mn"), F.max("vmax").alias("mx"),
    )
    plan = _formatted_plan(agg)
    m = re.search(r"ReadSchema: (.*)", plan)
    assert m, plan
    assert "model" not in m.group(1), m.group(1)
    assert "vsum" in m.group(1)


def test_point_view_pushes_bound_filters_to_scan(spark, seg_parquet):
    """datapoint_view(lo, hi): overlap predicates (end_ts >= lo AND
    start_ts <= hi) appear as PushedFilters on the parquet scan — i.e.
    BELOW the Python decode, so parquet min/max stats prune segments."""
    from modelardb_dynamic_spark.operators.reconstruct import datapoint_view

    segs = spark.read.parquet(seg_parquet)
    pts = datapoint_view(segs, lo_ms=50_000, hi_ms=80_000)
    plan = _formatted_plan(pts)
    m = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert m, plan
    pushed = m.group(1)
    assert "GreaterThanOrEqual(end_ts" in pushed, pushed
    assert "LessThanOrEqual(start_ts" in pushed, pushed


def test_whole_stage_codegen_covers_signature_agg(spark):
    """The 64-permutation MinHash aggregate stays inside codegen (the
    default 100-field cutoff would silently drop it to interpreted mode;
    session raises spark.sql.codegen.maxFields)."""
    import pandas as pd

    from modelardb_dynamic_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b c d", "b c d e"]})
    )
    sig = minhash_signatures(docs)
    sig.collect()  # AQE finalizes (and codegen-annotates) only on execution
    executed = sig._jdf.queryExecution().executedPlan().toString()
    # '*(n) HashAggregate' is toString's WholeStageCodegen annotation
    assert re.search(r"\*\(\d+\) HashAggregate", executed), executed[:1500]


def test_grouped_pipeline_plan_shape(spark):
    """compress_grouped's plan (VERDICT r3 #6): the group map arrives via
    a BROADCAST join (never a shuffled or cartesian join), and exactly ONE
    hash exchange — on the applyInPandas (gid, metric) grouping — sits
    between the series scan and the grouped-segment stream."""
    import pandas as pd

    from modelardb_dynamic_spark.operators.grouped import compress_grouped

    series = spark.createDataFrame(
        pd.DataFrame(
            {
                "sid": ["a"] * 4 + ["b"] * 4,
                "metric": "m",
                "ts_ms": list(range(0, 400, 100)) * 2,
                "value": [1.0] * 8,
            }
        )
    )
    groups = spark.createDataFrame(
        pd.DataFrame({"sid": ["a", "b"], "metric": "m", "gid": [1, 1]})
    )
    segs = compress_grouped(series, groups, CFG)
    plan = _formatted_plan(segs)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        plan[:2000]
    )
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # one hash exchange (gid, metric) + one broadcast exchange; local
    # relations need no scan-side exchange (formatted mode puts the
    # partitioning in the node's Arguments line)
    n_hash_exchanges = len(re.findall(r"hashpartitioning\(", plan))
    assert n_hash_exchanges == 1, plan[:2500]
    assert "hashpartitioning(gid" in plan
    assert "BroadcastExchange" in plan


def test_grouped_datapoints_no_extra_exchange(spark):
    """grouped_datapoints is a pure mapInArrow over the segment stream:
    reconstruction adds NO exchange of its own."""
    import pandas as pd

    from modelardb_dynamic_spark.operators.grouped import (
        compress_grouped,
        grouped_datapoints,
    )

    series = spark.createDataFrame(
        pd.DataFrame(
            {
                "sid": ["a"] * 4,
                "metric": "m",
                "ts_ms": list(range(0, 400, 100)),
                "value": [1.0] * 4,
            }
        )
    )
    groups = spark.createDataFrame(
        pd.DataFrame({"sid": ["a"], "metric": "m", "gid": [1]})
    )
    segs = compress_grouped(series, groups, CFG)
    base = _formatted_plan(segs)
    full = _formatted_plan(grouped_datapoints(segs))
    assert full.count("Exchange") == base.count("Exchange"), full[:2500]


def test_tiered_agg_pushes_range_to_every_tier_scan(spark, tmp_path_factory):
    """plans/planner.py tiered_agg: each tier branch must reach its parquet
    scan with PushedFilters containing the bucket_ts range conjuncts (the
    pushable part of the cover predicate), the raw branch with its ts_ms
    range, and exactly ONE Exchange (the final groupBy) — the routing
    itself is shuffle-free. The window [t0+90m+30s, t0+3d-90m) at day
    buckets needs every level: a whole day from 1d, hour and minute
    edges, and the sub-minute sliver at lo from raw. A window one tier of
    width bucket_ms answers alone plans that one scan and no Exchange."""
    import numpy as np
    import pandas as pd

    from modelardb_dynamic_spark.operators.compress import compress
    from modelardb_dynamic_spark.operators.rollup import downsample, rollup
    from modelardb_dynamic_spark.plans.planner import tiered_agg

    SI, HOUR, DAY = 60_000, 3_600_000, 86_400_000
    t0 = 1_704_067_200_000
    t = t0 + np.arange(3 * 24 * 60, dtype=np.int64) * SI
    pdf = pd.DataFrame(
        {"sid": "s", "metric": "m", "ts_ms": t,
         "value": (np.arange(len(t)) % 9).astype("float32")}
    )
    base = tmp_path_factory.mktemp("planner_plan")
    series = spark.createDataFrame(pdf)
    segs = compress(series, EngineConfig(error_bound=0.0,
                                         sampling_interval_ms=SI))
    t1m = rollup(segs, SI)
    t1h = downsample(t1m, HOUR)
    t1d = downsample(t1h, DAY)
    paths = {}
    for name, df in [("series", series), ("t1m", t1m), ("t1h", t1h),
                     ("t1d", t1d)]:
        p = str(base / name)
        df.write.mode("overwrite").parquet(p)
        paths[name] = spark.read.parquet(p)
    tiers = [(paths["t1m"], SI), (paths["t1h"], HOUR), (paths["t1d"], DAY)]
    lo, hi = t0 + 90 * SI + 30_000, t0 + 3 * DAY - 90 * SI
    plan = _formatted_plan(tiered_agg(paths["series"], tiers, lo, hi, DAY))
    pushed = re.findall(r"PushedFilters: \[(.*?)\]", plan)
    tier_pushed = [p for p in pushed if "bucket_ts" in p]
    assert len(tier_pushed) == 3, plan[:3000]
    for p in tier_pushed:
        assert "GreaterThanOrEqual(bucket_ts" in p, p
        assert "LessThan(bucket_ts" in p, p
    raw_pushed = [p for p in pushed if "ts_ms" in p]
    assert raw_pushed and "GreaterThanOrEqual(ts_ms" in raw_pushed[0]
    assert plan.count("Exchange (") == 1, plan[:3000]

    plan = _formatted_plan(
        tiered_agg(paths["series"], tiers, t0, t0 + 2 * DAY, DAY)
    )
    pushed = re.findall(r"PushedFilters: \[(.*?)\]", plan)
    assert len(pushed) == 1, plan[:3000]
    assert "GreaterThanOrEqual(bucket_ts" in pushed[0], pushed
    assert "LessThan(bucket_ts" in pushed[0], pushed
    assert "Exchange" not in plan, plan[:3000]


def test_cms_probe_join_broadcasts(spark):
    """cms_estimates' probe join must be a BROADCAST join: the probe side
    is D rows per probe (tiny by construction), while the tier side at
    10^12 turns is a year of counters — a sort-merge join there would
    shuffle the whole tier on `cell`."""
    import pandas as pd

    from modelardb_dynamic_spark.operators.sketches import (
        cms_estimates,
        cms_tier,
    )

    df = spark.createDataFrame(
        pd.DataFrame(
            {"sid": "s", "ts_ms": 0, "val": [f"k{i}" for i in range(30)]}
        )
    )
    tier = cms_tier(df, ["sid"], "val", "ts_ms")
    est = cms_estimates(tier, ["sid"], ["k1", "k2", "nope"])
    plan = _formatted_plan(est)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_new_analytics_ops_stay_jvm_side(spark):
    """trend_ols / seasonal_anomaly / novelty_scores plans: zero Python
    evaluation nodes (pure column algebra end to end) and no cartesian
    products; novelty's shingle->min-id join is a plain hash join."""
    import pandas as pd

    from modelardb_dynamic_spark.operators.analytics import (
        seasonal_anomaly,
        trend_ols,
    )
    from modelardb_dynamic_spark.operators.dedup import novelty_scores

    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "sid": ["a"] * 8,
                "ts_ms": [i * 3_600_000 for i in range(8)],
                "v": [1, 2, 3, 4, 5, 6, 7, 100],
            }
        )
    )
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b c d e", "c d e f g"]})
    )
    for df in (
        trend_ols(pts, unit_ms=3_600_000),
        seasonal_anomaly(pts, bucket_ms=3_600_000, period_buckets=4),
        novelty_scores(docs, n=3),
    ):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, plan[:1200]
        assert "ArrowEvalPython" not in plan, plan[:1200]
        assert "CartesianProduct" not in plan, plan[:1200]


def test_xcorr_and_rarity_plan_shape(spark):
    """xcorr_leadlag: the top-N activity set AND the lag dimension enter
    as BROADCAST joins (the only shuffled join is the ts-equality pair
    join), no cartesian, no Python eval nodes. token_rarity: pure column
    algebra + two hash aggregations, no Python eval nodes."""
    import pandas as pd

    from modelardb_dynamic_spark.operators.analytics import xcorr_leadlag
    from modelardb_dynamic_spark.operators.textstats import token_rarity

    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "sid": ["a"] * 30 + ["b"] * 30,
                "ts_ms": [i * 60_000 for i in range(30)] * 2,
                "v": list(range(1, 31)) + list(range(2, 62, 2)),
            }
        )
    )
    x = xcorr_leadlag(pts, si_ms=60_000, top_n=2, max_lag=2)
    x.collect()
    plan = x._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b c", "b c d"]})
    )
    r = token_rarity(docs)
    r.collect()
    plan = r._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan, plan[:1500]


def test_bpe_encode_broadcasts_word_map(spark):
    """bpe_encode charges corpus rows through a BROADCAST join of the
    distinct-word token map (never a shuffled join of corpus vs cache),
    and the replace chain stays JVM-side (no Python eval nodes)."""
    import pandas as pd

    from modelardb_dynamic_spark.operators.curation import bpe_encode

    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2], "text": ["low lower low", "lowest low"]}
        )
    )
    out = bpe_encode(docs, [("l", "o"), ("lo", "w")])
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_r4_late_analytics_ops_plan_shape(spark):
    """The session's additions stay JVM-side and broadcast their tiny
    frames: dispersion/mann_kendall/temporal_entropy/flatline plans
    have zero Python eval nodes; benford's 9-digit frame and
    decayed_counts' one-row anchor enter as broadcast joins (benford's
    digit frame is a BroadcastNestedLoopJoin by construction — a
    literal 9-row cross join); peak_concurrency has no cartesian."""
    import pandas as pd

    from modelardb_dynamic_spark.operators.analytics import (
        benford_audit,
        decayed_counts,
        dispersion_index,
        flatline_runs,
        mann_kendall,
        peak_concurrency,
        temporal_entropy,
    )

    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "sid": ["a"] * 30,
                "ts_ms": [i * 3_600_000 for i in range(30)],
                "v": [(i * 7) % 5 + 1 for i in range(30)],
            }
        )
    )
    for df in (
        dispersion_index(pts, 3_600_000),
        mann_kendall(pts, 86_400_000),
        temporal_entropy(pts),
        flatline_runs(pts, 3_600_000),
    ):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, plan[:1200]
        assert "ArrowEvalPython" not in plan, plan[:1200]
        assert "CartesianProduct" not in plan, plan[:1200]

    import datetime as dt

    ev = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), "t", 12.5 + i)
            for i in range(40)
        ],
        "ts timestamp, event_type string, value double",
    )
    bf = benford_audit(ev)
    bf.collect()
    plan = bf._jdf.queryExecution().executedPlan().toString()
    assert (
        plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin")
        >= 2
    ), plan[:1500]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    dc = decayed_counts(ev.selectExpr("ts", "1 AS user_id"))
    dc.collect()
    plan = dc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    sess = spark.createDataFrame(
        [(i * 100, i * 100 + 500) for i in range(20)],
        "start_ms long, end_ms long",
    )
    pc = peak_concurrency(sess, 86_400_000)
    pc.collect()
    plan = pc._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1200]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_nation_revenue_broadcasts_all_dims(spark):
    """nation_revenue: the three dimension joins are broadcast hash
    joins (no fact-side shuffle before the final groupBy) and the plan
    is JVM-only."""
    import __spark_entry__ as E

    df = E.queries()["nation_revenue"](spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3, plan[:1500]
    assert "SortMergeJoin" not in plan, plan[:1500]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ohlc_bars_single_aggregation_no_window(spark):
    """ohlc_1h: one map-side-combinable aggregation carries open/close
    via min_by/max_by — no Window operator, no join, JVM-only, and at
    most the aggregation's own exchange beyond the source read."""
    import __spark_entry__ as E

    df = E.queries()["ohlc_1h"](spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan[:1500]
    assert "Join" not in plan, plan[:1500]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # partial aggregation before the exchange (map-side combine)
    assert plan.count("HashAggregate") >= 2, plan[:1500]


def test_binseg_split_one_ordered_window_pass(spark):
    """binseg_split: prefix moments and argmax run as sid-partitioned
    windows over ONE exchange on sid — no join, no Python, no
    quadratic self-join in the plan."""
    import __spark_entry__ as E

    df = E.queries()["binseg_split"](spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, (
        plan[:1500]
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Window") >= 2  # prefix pass + rank pass
