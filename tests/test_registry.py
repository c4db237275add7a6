"""Registry-level gates at sf0.001: the stream replay queries and the
one-pass minute rollups against their DuckDB oracles (the same compare
tools/check_oracles.py runs), and the bench's segment memo changing no
query's rows."""

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


def test_stream_and_minute_rollup_queries_match_oracles(spark, monkeypatch):
    sys.path.insert(0, TOOLS)
    try:
        from check_oracles import check
    finally:
        sys.path.remove(TOOLS)
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)
    names = STREAM_QUERIES + ["agg_minute", "tiered_agg"]
    assert check(spark, SF_DIR, set(names)) == []


def test_segment_memo_changes_no_rows(spark):
    names = [
        "seg_count_s", "seg_agg_s", "dp_restore_range", "rollup_1h_gapfill",
        "agg_minute",
    ]

    def rows():
        return {
            n: sorted(map(repr, Q.QUERIES[n](spark, SF_DIR).collect()))
            for n in names
        }

    cold = rows()
    Q.memoize_segments(spark, SF_DIR)
    try:
        memo = Q._SEG_MEMO[(spark.sparkContext.applicationId, SF_DIR)]
        assert Q._event_segments(spark, SF_DIR) is memo
        warm = rows()
    finally:
        Q.clear_segment_memo()
    assert Q._event_segments(spark, SF_DIR) is not memo
    assert warm == cold and all(cold.values())
