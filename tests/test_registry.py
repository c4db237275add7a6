"""Registry-level gates at sf0.001: the stream replay queries, the
one-pass minute rollups, the grouped-compression queries and the queries
over the registry's warehouse against their DuckDB oracles (the same
compare tools/check_oracles.py runs), every query having an oracle, and the warehouse's segments and
tiers equal to compressing and rolling up the events series directly."""

from __future__ import annotations

import os
import sys

import pytest

from modelardb_dynamic_spark import queries as Q

SF_DIR = "/root/testdata/sf0.001"
pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="sf0.001 testdata absent"
)
TOOLS = os.path.join(os.path.dirname(__file__), os.pardir, "tools")

STREAM_QUERIES = [
    "stream_tier_5m", "stream_hopping", "stream_dedup", "stream_sessions",
    "stream_slo", "stream_concurrency", "stream_ohlc", "stream_ewma",
    "stream_zscore",
]
# one per read path of the warehouse: Warehouse.read (segments, tiers,
# gap-filled tiers), ModelarEngine.datapoints, TierPipeline.range_agg and
# the embedded engine (agg_minute and tiered_agg above read it too)
WAREHOUSE_QUERIES = [
    "seg_agg_s", "dp_restore_range", "rollup_1h_gapfill", "tier_1d",
    "agg_day_of_month", "transcript_tiers", "embedded_dp_range",
]

# the dynamic split/join engine on registry data: duplicate pairs and
# correlation-derived groups, both at error bound 0
GROUPED_QUERIES = ["grouped_tiers", "corr_grouped_tiers"]


def _check(spark, monkeypatch, names):
    sys.path.insert(0, TOOLS)
    try:
        from check_oracles import check
    finally:
        sys.path.remove(TOOLS)
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)
    return check(spark, SF_DIR, set(names))


def test_stream_and_minute_rollup_queries_match_oracles(spark, monkeypatch):
    names = STREAM_QUERIES + ["agg_minute", "tiered_agg"]
    assert _check(spark, monkeypatch, names) == []


def test_warehouse_queries_match_oracles(spark, monkeypatch):
    assert _check(spark, monkeypatch, WAREHOUSE_QUERIES) == []


def test_grouped_queries_match_oracles(spark, monkeypatch):
    assert _check(spark, monkeypatch, GROUPED_QUERIES) == []


def test_every_query_has_an_oracle(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)
    assert sorted(set(Q.QUERIES) - set(Q.build_oracles())) == []


def test_warehouse_equals_direct_compress_and_rollup(spark):
    """_event_segments is compress(event_series(events)) row for row, its
    tier_1h is rollup() of that, and a second _warehouse call for the same
    (application, sf_dir) returns the built warehouse without rebuilding."""
    from modelardb_dynamic_spark.operators.compress import compress
    from modelardb_dynamic_spark.operators.rollup import rollup
    from modelardb_dynamic_spark.plans.checkpoint import Lineage
    from modelardb_dynamic_spark.sources.timeseries import event_series

    def rows(df):
        return sorted(map(repr, df.collect()))

    direct = compress(event_series(Q._t(spark, SF_DIR, "events"), Q.SI_MS), Q.CFG0)
    segs = Q._event_segments(spark, SF_DIR)
    assert segs.columns == direct.columns
    got = rows(segs)
    assert got and got == rows(direct)
    hourly = rollup(direct, Q.HOUR_MS)
    tier = Q._event_tier(spark, SF_DIR, "tier_1h").select(*hourly.columns)
    assert rows(tier) == rows(hourly)

    p = Q._warehouse(spark, SF_DIR)

    def commits():
        lin = Lineage(p.wh.path("segments"))
        return {b: lin.get(b).committed_utc for b in lin.completed_buckets()}

    before = commits()
    assert before and Q._warehouse(spark, SF_DIR) is p
    assert commits() == before
