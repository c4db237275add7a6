"""Tier-selection query planner: answer an arbitrary time-range aggregate
from the COARSEST exact cover of the retention tiers, falling through to
finer tiers at the range edges and to raw series rows past each tier's
high-water mark ("real-time continuous aggregation").

Given result buckets of width W over [lo, hi) and materialized tiers of
widths w1 < w2 < ... (all epoch-aligned, as built by plans/pipeline.py),
every grid point must be counted exactly once. The cover is the classic
mixed-radix decomposition, expressed as pure column predicates so each
tier scan keeps parquet row-group pruning:

- a tier row (bucket b, width w) is INSIDE iff its whole interval
  [b, b+w) lies in [lo, hi), inside ONE result bucket, and at or below
  the tier's high-water mark (completeness bound from the pipeline's
  per-bucket lineage manifests, plans/checkpoint.py);
- a tier row is USED iff it is inside and NO coarser tier's containing
  bucket is inside (the coarser row already accounts for these points);
- a raw series row is USED iff it is in [lo, hi) and NO tier's
  containing bucket is inside.

Exactness: for any grid point in [lo, hi), look at the coarsest level
whose containing bucket is inside — exactly that level's row (or the raw
row, if no level qualifies) contributes the point, because USED demands
every coarser containing bucket fail the inside test. Aggregates compose
losslessly (count/sum/min/max; avg = vsum/cnt at the end), so the result
is identical to aggregating raw rows directly — which is what the DuckDB
oracle (queries.py `tiered_agg`) and the differential pytest check.

Pruning: the driver knows the whole cover before any data is read.
cover_plan turns the window, bucket_ms and each tier's high/low-water
marks into the set of levels that can hold a USED row and whether any
part of [lo, hi) falls through to raw rows; route_tiers builds only
those branches (their USED predicates still exclude via EVERY coarser
level, dropped ones included, so the algebra above is unchanged), and
the callers read only the tables the cover uses. When one tier of width
bucket_ms answers the whole window, tiered_agg returns that tier's
filtered projection with no union and no shuffle: tier rows are unique
per (sid, metric, bucket_ts), so the merge would be an identity.

Scale notes (100 TB): the interior of a large range is answered from the
1d tier (hi-lo)/86_400_000 rows per series instead of raw turns — the
scan volume drops by the tier's compression factor (~1440x minute->day);
only O(edges + tail-past-high-water) touches finer data. Every branch is
a filtered parquet scan with an explicit bucket_ts/ts_ms range conjunct
(pushed to row-group stats; the DIV alignment test rides on top), a
unionByName, and ONE shuffle for the final groupBy on (sid, metric,
bucket_ts) — none at all when a single tier answers. No reference
counterpart — ModelarDB answers every query from the segment store
(engines/spark/SparkUDAF.scala); this operator is the continuous-aggregate
routing layer a tiered deployment needs.

Timestamps must be non-negative epoch ms (DIV truncates toward zero).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TIER_COLS = ("cnt", "vsum", "vmin", "vmax")


def bucket_sql(col: str, w: int, div: str = "DIV") -> str:
    """SQL for the start of the width-w bucket holding timestamp col."""
    return f"(({col}) {div} {w}) * {w}"


def _inside_sql(
    b: str, w: int, lo: int, hi: int, bucket_ms: int, hw: int | None,
    div: str = "DIV", lw: int | None = None,
) -> str:
    """SQL predicate: the width-w bucket starting at expression `b` is an
    exact sub-interval of one result bucket within [lo, hi) and complete
    (<= the tier's high-water mark, if one is known). `div` is the
    dialect's integer-division token (Spark DIV, DuckDB //) — identical
    on the non-negative timestamps the planner requires; the fuzz suite
    replays the same algebra through DuckDB with div='//'."""
    conds = [
        f"({b}) >= {lo}",
        f"({b}) + {w} <= {hi}",
        f"({b}) {div} {bucket_ms} = (({b}) + {w - 1}) {div} {bucket_ms}",
    ]
    if hw is not None:
        conds.append(f"({b}) + {w} <= {hw}")
    if lw is not None:  # retention low-water: older buckets were dropped
        conds.append(f"({b}) >= {lw}")
    return "(" + " AND ".join(conds) + ")"


def _used_sql(
    col: str,
    w: int,
    coarser: list[tuple[int, int | None, int | None]],
    lo: int,
    hi: int,
    bucket_ms: int,
    hw: int | None,
    div: str = "DIV",
    lw: int | None = None,
) -> str:
    """USED predicate for a tier of width w given the coarser
    (width, high_water, low_water) levels."""
    parts = [_inside_sql(col, w, lo, hi, bucket_ms, hw, div, lw)]
    for cw, chw, clw in coarser:
        parent = bucket_sql(col, cw, div)
        parts.append(
            f"NOT {_inside_sql(parent, cw, lo, hi, bucket_ms, chw, div, clw)}"
        )
    return " AND ".join(parts)


def _inside_span(
    w: int, lo: int, hi: int, bucket_ms: int, hw: int | None, lw: int | None,
) -> tuple[int, int] | None:
    """The time span [a, b) the INSIDE buckets of the width-w level cover,
    or None when it is not one interval (w < bucket_ms and w does not
    divide it: some buckets straddle a result boundary). A width that
    divides bucket_ms never straddles one, so its inside buckets are every
    w-aligned bucket in [max(lo, lw), min(hi, hw)); a width wider than
    bucket_ms always straddles one, so it covers nothing."""
    if w > bucket_ms:
        return (lo, lo)
    if bucket_ms % w:
        return None
    a = lo if lw is None else max(lo, lw)
    b = hi if hw is None else min(hi, hw)
    return -(-a // w) * w, (b // w) * w


def _covers(spans: list[tuple[int, int]], a: int, b: int) -> bool:
    """Whether the union of spans contains every ms of [a, b)."""
    for s, e in sorted(spans):
        if s > a:
            break
        a = max(a, e)
    return a >= b


def cover_plan(
    widths: list[int],
    lo_ms: int,
    hi_ms: int,
    bucket_ms: int,
    high_water: dict[int, int] | None = None,
    low_water: dict[int, int] | None = None,
) -> tuple[list[int], bool]:
    """Driver-side and data-free: the level widths (coarse -> fine) that
    can contribute a USED row to [lo_ms, hi_ms) @ bucket_ms, and whether
    any raw row can. A level contributes iff its inside span minus the
    spans of the coarser levels is non-empty; raw contributes iff some ms
    of [lo, hi) lies in no span (continuous ms, not grid points: sketch
    raw turns are off the grid). A level whose span is not one interval
    (_inside_span None) is kept and subtracts nothing, so the plan only
    ever keeps a superset of the exact one. An empty window plans the raw
    branch alone, which selects nothing."""
    hw = high_water or {}
    lw = low_water or {}
    used, spans = [], []
    for w in sorted(widths, reverse=True):
        span = _inside_span(w, lo_ms, hi_ms, bucket_ms, hw.get(w), lw.get(w))
        if span is None:
            used.append(w)
        elif span[0] < span[1]:
            if not _covers(spans, *span):
                used.append(w)
            spans.append(span)
    return used, not used or not _covers(spans, lo_ms, hi_ms)


def route_tiers(
    tiers: list[tuple[DataFrame | None, int]],
    lo_ms: int,
    hi_ms: int,
    bucket_ms: int,
    high_water: dict[int, int] | None,
    low_water: dict[int, int] | None = None,
) -> tuple[list[tuple[DataFrame, int]], str | None]:
    """THE cover routing, shared by every tiered reader (tiered_agg here,
    the sketch routers in operators/sketches.py): validates that tier
    widths nest, keeps only the levels cover_plan says contribute, filters
    each to its USED rows (range conjunct first so it pushes to the scan),
    and returns [(filtered_tier, width)] coarse->fine plus the raw-row
    predicate for the residue — None when cover_plan finds no residue.
    A dropped level's frame may be None (callers that plan first read
    only what the cover uses); its (w, hw, lw) still enters every finer
    level's exclusion. One implementation so a fix to the cover algebra
    propagates to every consumer (it is the exactly-once core the fuzz
    suite pins).

    low_water: {width: inclusive_ms} — buckets BEFORE a tier's mark were
    dropped by retention (TierPipeline.retain); the cover treats them as
    not-materialized and falls through to COARSER data... which the
    exclusion logic never does — coarser levels are consulted first, so
    retention of a FINE tier simply stops it from serving old edges. Use
    validate_cover to fail loudly when a query needs data nobody has."""
    hw = high_water or {}
    lw = low_water or {}
    ordered = sorted(tiers, key=lambda t: -t[1])  # coarse -> fine
    # the USED exclusion tests only the coarse bucket containing a fine
    # bucket's START — sound iff the widths NEST (each coarser width a
    # multiple of each finer), as 1m/1h/1d do; reject anything else
    # rather than silently double-count (e.g. a 7h tier under a 1d tier)
    widths = [w for _, w in ordered]
    for coarse_w, fine_w in zip(widths, widths[1:]):
        if coarse_w % fine_w != 0:
            raise ValueError(
                f"tier widths must nest: {coarse_w} is not a multiple "
                f"of {fine_w}"
            )
    used, raw = cover_plan(widths, lo_ms, hi_ms, bucket_ms, hw, lw)
    branches, coarser = [], []
    for tier, w in ordered:
        if w in used:
            if tier is None:
                raise ValueError(f"the cover needs the width-{w} tier")
            pred = _used_sql(
                "bucket_ts", w, coarser, lo_ms, hi_ms, bucket_ms, hw.get(w),
                lw=lw.get(w),
            )
            branches.append(
                (
                    tier
                    # explicit range conjunct first: the pushable part
                    .where(f"bucket_ts >= {lo_ms} AND bucket_ts < {hi_ms}")
                    .where(pred),
                    w,
                )
            )
        coarser.append((w, hw.get(w), lw.get(w)))
    if not raw:
        return branches, None
    raw_pred = " AND ".join(
        [f"ts_ms >= {lo_ms} AND ts_ms < {hi_ms}"]
        + [
            f"NOT {_inside_sql(bucket_sql('ts_ms', cw), cw, lo_ms, hi_ms, bucket_ms, chw, lw=clw)}"
            for cw, chw, clw in coarser
        ]
    )
    return branches, raw_pred


def tiered_agg(
    series: DataFrame | None,
    tiers: list[tuple[DataFrame | None, int]],
    lo_ms: int,
    hi_ms: int,
    bucket_ms: int,
    high_water: dict[int, int] | None = None,
    value_col: str = "value",
    low_water: dict[int, int] | None = None,
) -> DataFrame:
    """count/sum/min/max per (sid, metric) per bucket_ms-aligned bucket
    over [lo_ms, hi_ms), routed through the coarsest exact tier cover.

    series: (sid, metric, ts_ms, <value_col>) — the finest (raw grid) rows;
            may be None when cover_plan needs no raw rows.
    tiers:  [(tier_df, width_ms), ...] any order; each tier_df has the
            TIER_SCHEMA columns (sid, metric, bucket_ts, cnt, vsum,
            vmin, vmax) as built by operators/rollup.py; may be None for
            a level cover_plan drops.
    high_water: {width_ms: exclusive_complete_to_ms} — buckets at or past
            a tier's mark are treated as not-yet-materialized and the
            cover falls through to finer tiers / raw (late-arriving tail).

    Only the branches route_tiers keeps are built. When that is a single
    tier of width bucket_ms and no raw branch, its filtered projection is
    the answer as it stands — one scan, no union, no shuffle — because
    tier rows are unique per (sid, metric, bucket_ts).
    """
    routed, raw_pred = route_tiers(
        tiers, lo_ms, hi_ms, bucket_ms, high_water, low_water
    )
    rb = bucket_sql("bucket_ts", bucket_ms)
    branches = [
        t.selectExpr("sid", "metric", f"{rb} AS bucket_ts", *TIER_COLS)
        for t, _ in routed
    ]
    if raw_pred is None and len(routed) == 1 and routed[0][1] == bucket_ms:
        return branches[0]
    if raw_pred is not None:
        if series is None:
            raise ValueError("the cover needs raw series rows")
        branches.append(
            series.where(raw_pred).selectExpr(
                "sid",
                "metric",
                f"{bucket_sql('ts_ms', bucket_ms)} AS bucket_ts",
                "CAST(1 AS BIGINT) AS cnt",
                f"CAST({value_col} AS DOUBLE) AS vsum",
                f"CAST({value_col} AS FLOAT) AS vmin",
                f"CAST({value_col} AS FLOAT) AS vmax",
            )
        )
    u = branches[0]
    for b in branches[1:]:
        u = u.unionByName(b)
    return u.groupBy("sid", "metric", "bucket_ts").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("vsum").alias("vsum"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    )


def cover_report(
    widths: list[int],
    lo_ms: int,
    hi_ms: int,
    bucket_ms: int,
    high_water: dict[int, int] | None = None,
    grid_ms: int = 60_000,
    low_water: dict[int, int] | None = None,
    raw_low_ms: int | None = None,
) -> dict[int, int]:
    """Driver-side (data-free) audit of the cover: for each level width
    (0 = raw grid, -1 = UNCOVERABLE after retention), how many grid
    points of [lo_ms, hi_ms) it supplies. Used by tests to pin that the
    interior routes to the coarsest tier, and by validate_cover.
    O((hi-lo)/grid_ms) ints — an audit tool, not a query path."""
    hw = high_water or {}
    lw = low_water or {}
    ws = sorted(widths, reverse=True)

    def inside(b: int, w: int) -> bool:
        return _inside_py(b, w, lo_ms, hi_ms, bucket_ms, hw.get(w), lw.get(w))

    out = {w: 0 for w in ws}
    out[0] = 0
    out[-1] = 0
    t = ((lo_ms + grid_ms - 1) // grid_ms) * grid_ms
    while t < hi_ms:
        for w in ws:
            if inside((t // w) * w, w):
                out[w] += 1
                break
        else:
            if raw_low_ms is None or t >= raw_low_ms:
                out[0] += 1
            else:
                out[-1] += 1
        t += grid_ms
    return out


def _inside_py(
    b: int, w: int, lo: int, hi: int, bucket_ms: int,
    hw: int | None, lw: int | None,
) -> bool:
    """Python twin of _inside_sql — the ONE coverage predicate shared by
    cover_report's grid walk and validate_cover's boundary probes."""
    return (
        b >= lo
        and b + w <= hi
        and b // bucket_ms == (b + w - 1) // bucket_ms
        and (hw is None or b + w <= hw)
        and (lw is None or b >= lw)
    )


def validate_cover(
    widths: list[int],
    lo_ms: int,
    hi_ms: int,
    bucket_ms: int,
    high_water: dict[int, int] | None = None,
    low_water: dict[int, int] | None = None,
    raw_low_ms: int | None = None,
    grid_ms: int = 60_000,
) -> None:
    """Raise when a [lo, hi) x bucket_ms query would need data that
    RETENTION already dropped everywhere (no tier's surviving buckets
    nor the raw table can supply some grid point) — a silent undercount
    otherwise. Retention destroys information by design; the contract is
    that queries over retained history must align to buckets the
    surviving coarse tiers can serve, and this check enforces it."""
    if not low_water and raw_low_ms is None:
        return  # no retention anywhere: every grid point falls to raw
    rep = cover_report(
        widths, lo_ms, hi_ms, bucket_ms, high_water, grid_ms,
        low_water, raw_low_ms,
    )
    # the grid walk can step over a sub-grid sliver at lo or at a
    # non-aligned retention/high-water boundary (raw rows need not be
    # grid-aligned): probe the boundary points themselves too
    probes = [lo_ms] + [
        v
        for v in [raw_low_ms, *(low_water or {}).values(),
                  *(high_water or {}).values()]
        if v is not None and lo_ms <= v < hi_ms
    ]
    hwd, lwd = high_water or {}, low_water or {}
    for t in probes:
        covered = any(
            _inside_py(
                (t // w) * w, w, lo_ms, hi_ms, bucket_ms,
                hwd.get(w), lwd.get(w),
            )
            for w in widths
        ) or (raw_low_ms is None or t >= raw_low_ms)
        if not covered:
            rep[-1] = rep.get(-1, 0) + 1
    if rep.get(-1, 0):
        raise ValueError(
            f"query [{lo_ms}, {hi_ms}) @ {bucket_ms} needs {rep[-1]} grid "
            f"points below every surviving tier's retention horizon "
            f"(low_water={low_water}, raw_low={raw_low_ms}) — widen the "
            f"bucket, shift lo onto a surviving coarse-tier boundary, or "
            f"query a coarser tier directly"
        )
