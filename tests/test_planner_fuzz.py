"""Property fuzz for the tier-selection planner's predicate ALGEBRA
(plans/planner.py): the exact SQL strings Spark executes are evaluated by
DuckDB over brute-force-computed tier tables, and the routed union must
equal the direct aggregate for ARBITRARY (lo, hi, W, high-water) choices.
No SparkSession — hundreds of examples run in seconds, so this covers the
parameter space the four hand-picked Spark cases cannot."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from modelardb_dynamic_spark.plans.planner import (
    _inside_py,
    _inside_sql,
    _used_sql,
    bucket_sql,
    cover_plan,
)

SI = 60_000
HOUR = 3_600_000
DAY = 86_400_000
T0 = 1_704_067_200_000
SPAN = 3 * DAY  # 3 days of minute grid


def _mk_tables(con):
    rng = np.random.default_rng(3)
    frames = []
    for sid in ("a", "b"):
        t = T0 + np.arange(SPAN // SI, dtype=np.int64) * SI
        keep = rng.random(len(t)) > 0.15
        v = rng.integers(0, 100, len(t))[keep]
        frames.append(pd.DataFrame({"sid": sid, "ts_ms": t[keep], "v": v}))
    series = pd.concat(frames)
    con.register("series", series)
    for name, w in (("t1m", SI), ("t1h", HOUR), ("t1d", DAY)):
        con.execute(
            f"CREATE TABLE {name} AS "
            f"SELECT sid, (ts_ms // {w}) * {w} AS bucket_ts, "
            f"count(*) AS cnt, sum(v) AS vsum, min(v) AS vmin, "
            f"max(v) AS vmax FROM series GROUP BY 1, 2"
        )


CON = duckdb.connect()
_mk_tables(CON)
LEVELS = (("t1m", SI), ("t1h", HOUR), ("t1d", DAY))


def _routed_sql(lo, hi, W, hw, lw=None):
    """Assemble the branches tiered_agg builds — only those cover_plan
    keeps, with the identical predicates — and close them the same way:
    the groupBy, or nothing when one tier of width W answers alone."""
    lw = lw or {}
    used, raw = cover_plan([w for _, w in LEVELS], lo, hi, W, hw, lw)
    branches = []
    coarser = []
    for name, w in sorted(LEVELS, key=lambda x: -x[1]):
        if w in used:
            pred = _used_sql(
                "bucket_ts", w, coarser, lo, hi, W, hw.get(w), div="//",
                lw=lw.get(w),
            )
            branches.append(
                f"SELECT sid, (bucket_ts // {W}) * {W} AS b, cnt, vsum, "
                f"vmin, vmax FROM {name} WHERE {pred}"
            )
        coarser.append((w, hw.get(w), lw.get(w)))
    if raw:
        raw_not = " AND ".join(
            f"NOT {_inside_sql(bucket_sql('ts_ms', cw, '//'), cw, lo, hi, W, chw, div='//', lw=clw)}"
            for cw, chw, clw in coarser
        )
        branches.append(
            f"SELECT sid, (ts_ms // {W}) * {W} AS b, 1 AS cnt, v AS vsum, "
            f"v AS vmin, v AS vmax FROM series "
            f"WHERE ts_ms >= {lo} AND ts_ms < {hi} AND {raw_not}"
        )
    elif used == [W]:
        return f"{branches[0]} ORDER BY 1, 2"
    u = " UNION ALL ".join(f"({x})" for x in branches)
    return (
        f"SELECT sid, b, sum(cnt) AS cnt, sum(vsum) AS vsum, "
        f"min(vmin) AS vmin, max(vmax) AS vmax FROM ({u}) "
        f"GROUP BY 1, 2 ORDER BY 1, 2"
    )


def _direct_sql(lo, hi, W):
    return (
        f"SELECT sid, (ts_ms // {W}) * {W} AS b, count(*) AS cnt, "
        f"sum(v) AS vsum, min(v) AS vmin, max(v) AS vmax FROM series "
        f"WHERE ts_ms >= {lo} AND ts_ms < {hi} GROUP BY 1, 2 ORDER BY 1, 2"
    )


# DuckDB's // floors like Spark's DIV truncates only for non-negative
# operands — which the planner requires (documented) and these draws honor.
@settings(max_examples=150, deadline=None)
# aligned windows one tier of width W answers alone (the groupBy-free path)
@example(lo_off=DAY, span=DAY, w_choice=DAY, hw_kind="none", hw_off=0,
         lw_kind="none", lw_off=0)
@example(lo_off=5 * HOUR, span=7 * HOUR, w_choice=HOUR, hw_kind="cut",
         hw_off=2 * DAY, lw_kind="none", lw_off=0)
@given(
    lo_off=st.integers(0, SPAN // 2),
    span=st.integers(1, SPAN),
    w_choice=st.sampled_from(
        [SI, 7 * SI, 10 * SI, 90 * SI, HOUR, 2 * HOUR, 7 * HOUR, DAY,
         2 * DAY]
    ),
    hw_kind=st.sampled_from(["none", "cut", "per_level"]),
    hw_off=st.integers(0, SPAN),
    lw_kind=st.sampled_from(["none", "fine_retained"]),
    lw_off=st.integers(0, SPAN // 2),
)
def test_routed_equals_direct_fuzz(
    lo_off, span, w_choice, hw_kind, hw_off, lw_kind, lw_off
):
    lo = T0 + lo_off
    hi = min(T0 + lo_off + span, T0 + SPAN)
    if hw_kind == "none":
        hw = {}
    elif hw_kind == "cut":
        hw = {w: T0 + hw_off for _, w in LEVELS}
    else:
        # staggered marks: each coarser level lags a further half-day
        hw = {
            w: T0 + max(0, hw_off - i * DAY // 2)
            for i, (_, w) in enumerate(sorted(LEVELS, key=lambda x: x[1]))
        }
    # retention low-water on the FINE tiers only (the realistic shape:
    # 1m/1h retained, 1d keeps history); the fuzz tables keep all rows,
    # so the routed result must STILL equal direct — the cover simply
    # routes around the 'dropped' region via coarser tiers and raw rows
    lw = (
        {SI: T0 + lw_off, HOUR: T0 + (lw_off // DAY) * DAY}
        if lw_kind == "fine_retained"
        else {}
    )
    got = CON.execute(_routed_sql(lo, hi, w_choice, hw, lw)).fetchall()
    want = CON.execute(_direct_sql(lo, hi, w_choice)).fetchall()
    assert got == want


# -- cover_plan pruning at toy scale --------------------------------------
#
# Integer time at unit resolution, tiers 1/6/24 (and other nesting sets):
# every point of [lo, hi) is walked and given to the coarsest level whose
# containing bucket is INSIDE — the bucket route_tiers' USED predicate
# keeps — or to raw. That is the exact cover; cover_plan must keep every
# level and the raw branch the walk needs, and, where every level's span
# is one interval (its width divides bucket_ms or exceeds it), nothing
# else.


def _walked_cover(widths, lo, hi, W, hw, lw):
    used, raw = set(), False
    for t in range(lo, hi):
        for w in sorted(widths, reverse=True):
            if _inside_py((t // w) * w, w, lo, hi, W, hw.get(w), lw.get(w)):
                used.add(w)
                break
        else:
            raw = True
    return used, raw


@st.composite
def _toy_query(draw):
    widths = draw(st.sampled_from([(1, 6, 24), (2, 6, 24), (3, 12), (1, 4)]))
    W = draw(st.sampled_from([1, 2, 3, 4, 6, 7, 9, 12, 18, 24, 36, 48]))
    lo = draw(st.integers(0, 90))
    hi = draw(st.integers(lo - 2, 100))
    # staggered high-water marks: any level may lag, each independently
    hw = {
        w: draw(st.integers(0, 110))
        for w in widths
        if draw(st.booleans())
    }
    # retention low-water marks on the fine levels only
    lw = {
        w: draw(st.integers(0, 100))
        for w in widths[:-1]
        if draw(st.booleans())
    }
    return widths, lo, hi, W, hw, lw


def _check_cover_plan(widths, lo, hi, W, hw, lw):
    used, raw = cover_plan(list(widths), lo, hi, W, hw, lw)
    need, need_raw = _walked_cover(widths, lo, hi, W, hw, lw)
    assert used == sorted(used, reverse=True)
    assert need <= set(used), (need, used)
    assert raw or not need_raw
    assert used or raw  # every plan has a branch to build
    if all(W % w == 0 or w > W for w in widths):
        # one-interval spans: the plan is the walk's, no more
        assert set(used) == need
        assert raw == (need_raw or not need)


@settings(max_examples=3000, deadline=None)
@given(q=_toy_query())
def test_cover_plan_keeps_every_needed_branch(q):
    _check_cover_plan(*q)


@pytest.mark.parametrize(
    "case,plan",
    [
        # aligned window at the tier's own width: one tier, no raw
        (((1, 6, 24), 24, 72, 24, {}, {}), ([24], False)),
        # non-nesting bucket 9: 1 divides it, 6 neither divides nor
        # exceeds it (kept unpruned), 24 exceeds it (covers nothing)
        (((1, 6, 24), 3, 40, 9, {}, {}), ([6, 1], False)),
        # staggered high-water: 24 lags 6 lags 1, raw past them all
        (((1, 6, 24), 0, 96, 24, {24: 48, 6: 66, 1: 90}, {}),
         ([24, 6, 1], True)),
        # fine-tier low-water: 1 and 6 retained below 30, raw below that
        (((1, 6, 24), 25, 72, 6, {}, {1: 30, 6: 30}), ([6], True)),
        # unaligned lo/hi around one whole coarse bucket
        (((1, 6, 24), 23, 49, 24, {}, {}), ([24, 1], False)),
        # empty window: the raw branch alone, selecting nothing
        (((1, 6, 24), 10, 10, 6, {}, {}), ([], True)),
    ],
)
def test_cover_plan_named_cases(case, plan):
    _check_cover_plan(*case)
    assert cover_plan(*case) == plan
