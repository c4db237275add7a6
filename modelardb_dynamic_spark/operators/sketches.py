"""Mergeable sketch tiers: HyperLogLog distinct-count as a first-class
continuous-aggregate, beside the count/sum/min/max tier family
(operators/rollup.py) which cannot express COUNT(DISTINCT ...) — distinct
counts do not compose across buckets, but HLL REGISTERS do (elementwise
max), which is exactly what a rollup engine needs: build the sketch once
at the finest tier, downsample it like any other tier, answer
distinct-count queries at every granularity without re-touching raw data
(the Druid/Timescale sketch-rollup design).

Everything is DETERMINISTIC and value-gatable:
- the hash is the repo's shared 60-bit md5 prefix (operators/dedup.py
  spark_h60 / duck_h60), computed bit-identically by Spark and DuckDB;
- a register row is (reg = h & (M-1), rho = leading-zero-count of the
  remaining 52 bits + 1), derived with bin()/length() string arithmetic
  both engines evaluate exactly (no clz builtin needed);
- the tier stores PLAIN ROWS (keys..., reg, rho<=53): merge = groupBy
  max, at most M = 256 rows per key per bucket regardless of
  cardinality;
- the harmonic sum uses exact integer scaling: each register contributes
  2^(53 - rho) (an exact int64), absent registers contribute 2^53, and
  the total is <= M * 2^53 = 2^61 — no floating-point accumulation
  order anywhere. The raw estimate alpha*M^2*2^53/S is then ONE double
  expression tree shared with the oracle (bit-identical).

The bias-corrected estimate (linear counting below 2.5*M) needs a
logarithm; engine ln() is NOT guaranteed correctly-rounded across
engines, so the correction takes it from the shared log2_int_stages
IEEE series over the exact `zeros` integer (textstats.py — no
transcendental, bit-identical both sides). distinct_est is therefore
value-gated like every other column, plus accuracy-pinned by pytest
(relative error ~1.04/sqrt(M) ~= 6.5% at M=256).

Scale notes (100 TB): hll_tier is one map-side-combinable groupBy — the
shuffle carries at most M rows per (key, bucket), independent of the
number of raw rows; downsampling a year of hourly sketches to daily is a
groupBy-max over 256-row groups. No reference counterpart (ModelarDB has
no distinct-count aggregate); this is the training-pipeline's "distinct
users/sessions/tools per window" workhorse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modelardb_dynamic_spark.operators.dedup import duck_h60, spark_h60

P = 8
M = 1 << P            # 256 registers
WREM = 60 - P         # bits left after the register index
RHO_CAP = WREM + 1    # rho when the remaining bits are all zero
SCALE = 1 << (RHO_CAP)  # 2^53: term(rho) = 2^(53 - rho) is an exact int
ALPHA = 0.7213 / (1.0 + 1.079 / M)


def _rho_sql(rem: str) -> str:
    """rho = #leading zeros of the WREM-bit value `rem`, + 1. bin() drops
    leading zeros in BOTH engines, so rho = WREM - length(bin(rem)) + 1,
    with the all-zero case pinned to RHO_CAP."""
    return (
        f"CASE WHEN ({rem}) = 0 THEN {RHO_CAP} "
        f"ELSE {WREM} - length(bin({rem})) + 1 END"
    )


def hll_tier(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    bucket_expr: str,
) -> DataFrame:
    """Finest sketch tier: (keys..., bucket_ts, reg, rho). One map-side
    combinable groupBy; <= M rows per (keys, bucket)."""
    h = spark_h60(value_col).alias("h")
    # NULL values carry no distinct information and would poison the
    # register math (m_present would count a NULL-register row the sum
    # skips -> negative zeros/est); drop them, mirrored in the oracle
    base = df.where(F.col(value_col).isNotNull()).select(
        *keys, F.expr(bucket_expr).alias("bucket_ts"), h
    )
    return (
        base.select(
            *keys,
            "bucket_ts",
            F.expr(f"h & {M - 1}").alias("reg"),
            F.expr(_rho_sql(f"h >> {P}")).cast("int").alias("rho"),
        )
        .groupBy(*keys, "bucket_ts", "reg")
        .agg(F.max("rho").alias("rho"))
    )


def hll_downsample(tier: DataFrame, keys: list[str], bucket_ms: int) -> DataFrame:
    """Sketch tier -> coarser sketch tier: registers merge by max. The
    same shape downsample() uses for the sum/min/max tiers."""
    return (
        tier.groupBy(
            *keys,
            F.expr(f"(bucket_ts DIV {bucket_ms}) * {bucket_ms}").alias("bucket_ts"),
            "reg",
        )
        .agg(F.max("rho").alias("rho"))
    )


# the raw-estimate expression tree, shared verbatim with the DuckDB oracle
# (all inputs exact integers; one rounding per double op -> identical bits)
# CAST the alpha literal: bare decimal literals parse as DECIMAL in both
# engines (and DECIMAL * 256 * 2^53 overflows DuckDB's DECIMAL(18))
_EST_RAW = (
    f"(CAST({ALPHA!r} AS DOUBLE) * {M} * {M} * CAST({SCALE} AS DOUBLE)) "
    "/ CAST(s_scaled AS DOUBLE)"
)


def hll_summary(tier: DataFrame, keys: list[str]) -> DataFrame:
    """Per (keys..., bucket_ts): the exact integer sketch state and the
    raw HLL estimate — every column value-gatable against DuckDB."""
    return (
        tier.groupBy(*keys, "bucket_ts")
        .agg(
            F.count(F.lit(1)).alias("m_present"),
            F.sum(F.expr(f"CAST(POW(2, {RHO_CAP} - rho) AS BIGINT)")).alias("s_present"),
        )
        .selectExpr(
            *keys,
            "bucket_ts",
            "m_present",
            f"s_present + ({M} - m_present) * CAST({SCALE} AS BIGINT) AS s_scaled",
            f"{M} - m_present AS zeros",
        )
        .selectExpr(
            *keys, "bucket_ts", "m_present", "s_scaled", "zeros",
            f"{_EST_RAW} AS est_raw",
        )
    )


def _lincount_expr() -> str:
    """Linear-counting correction M * ln(M/zeros) as a SHARED IEEE tree:
    zeros is an exact integer in [1, M], so ln(M/zeros) = ln2 * (P -
    log2 zeros) with log2 from the shared log2_int_stages series (the
    lm_cross_entropy discipline) — no engine ln(), so distinct_est is
    value-gated instead of merely accuracy-pinned. Expects the staged
    columns of log2_int_stages('zeros', 'l2z') to be present; `l2z` is
    exact (0) at zeros = M, so the uncorrected-empty-sketch case stays
    exactly M * ln2 * P."""
    from modelardb_dynamic_spark.operators.textstats import _dlit
    import math

    return (
        f"CASE WHEN est_raw <= 2.5 * {M} AND zeros > 0 "
        f"THEN {M} * {_dlit(math.log(2.0))} * "
        f"(CAST({P} AS DOUBLE) - l2z) ELSE est_raw END"
    )


def hll_estimate(summary: DataFrame) -> DataFrame:
    """User-facing estimate with the standard small-range correction:
    linear counting when est_raw <= 2.5*M and empty registers remain.
    The correction's logarithm comes from the shared log2_int_stages
    tree over the exact `zeros` integer (bit-identical on both engines),
    so distinct_est participates in the value gate. zeros = 0 rows never
    read l2z (CASE guards first); the stage input is max(zeros, 1) to
    keep bin() total."""
    from modelardb_dynamic_spark.operators.textstats import log2_int_stages

    out = summary
    for name, expr in log2_int_stages("greatest(zeros, 1)", "l2z"):
        out = out.selectExpr("*", f"{expr} AS {name}")
    out = out.withColumn("distinct_est", F.expr(_lincount_expr()))
    return out.drop("l2z_e", "l2z_m", "l2z_t", "l2z_u", "l2z")


def duck_hll_summary_sql(
    table: str, keys_sql: str, value_expr: str, bucket_sql: str,
    where: str = "TRUE", estimate: bool = False,
) -> str:
    """The identical sketch + summary as ONE DuckDB query (the oracle).
    keys_sql like "sid", bucket_sql like "(ts_ms // 3600000) * 3600000".
    estimate=True appends the hll_estimate distinct_est column by
    replaying the identical staged log2 tree + _lincount_expr."""
    base = f"""
        WITH h AS (
            SELECT {keys_sql}, {bucket_sql} AS bucket_ts,
                   {duck_h60(value_expr)} AS h
            FROM {table}
            WHERE ({value_expr}) IS NOT NULL AND ({where})
        ),
        regs AS (
            SELECT {keys_sql}, bucket_ts, h & {M - 1} AS reg,
                   max(CASE WHEN (h >> {P}) = 0 THEN {RHO_CAP}
                       ELSE {WREM} - length(bin(h >> {P})) + 1 END) AS rho
            FROM h GROUP BY ALL
        ),
        s AS (
            SELECT {keys_sql}, bucket_ts,
                   count(*) AS m_present,
                   sum(CAST(POW(2, {RHO_CAP} - rho) AS BIGINT)) AS s_present
            FROM regs GROUP BY ALL
        )
        SELECT {keys_sql}, bucket_ts, m_present,
               CAST(CAST(s_present AS HUGEINT) +
                    CAST({M} - m_present AS HUGEINT) * {SCALE} AS BIGINT)
                   AS s_scaled,
               {M} - m_present AS zeros,
               (CAST({ALPHA!r} AS DOUBLE) * {M} * {M} *
                    CAST({SCALE} AS DOUBLE)) /
                   CAST(CAST(s_present AS HUGEINT) +
                        CAST({M} - m_present AS HUGEINT) * {SCALE} AS DOUBLE)
                   AS est_raw
        FROM s
    """
    if not estimate:
        return base
    from modelardb_dynamic_spark.operators.textstats import log2_int_stages

    inner = f"({base}) q0"
    for name, expr in log2_int_stages("greatest(zeros, 1)", "l2z"):
        inner = f"(SELECT *, {expr} AS {name} FROM {inner}) q_{name}"
    return f"""
        SELECT {keys_sql}, bucket_ts, m_present, s_scaled, zeros, est_raw,
               {_lincount_expr()} AS distinct_est
        FROM {inner}
    """


# -- HDR-style log2 histogram tier (quantiles) ---------------------------------
#
# The quantile companion to the HLL tier: per (keys, bucket) a histogram
# over log2 octaves with 4 linear sub-buckets each (HdrHistogram's design;
# relative bucket width <= 25%), on NON-NEGATIVE INTEGER values. Buckets
# merge by SUM, so the tier downsamples exactly like cnt/vsum. Everything
# is integer arithmetic both engines share bit-for-bit: the octave is
# length(bin(v)) - 1 (no log()), the sub-bucket a shift+mask, and a
# quantile answer is the first bucket whose cumulative count reaches
# ceil(q * n) — returned WITH its [q_lo, q_hi] value bounds, which is the
# honest contract (the true q-quantile provably lies inside; pinned by
# pytest). Shuffle carries <= 4*64 + 1 bucket rows per key-bucket at any
# cardinality.


def _hist_idx_sql(v: str) -> str:
    """Bucket index: -1 for v <= 0, else octave*4 + sub. Shared algebra
    (bin/length/shift/mask) evaluated identically by Spark and DuckDB."""
    e = f"(length(bin({v})) - 1)"
    shift = f"CASE WHEN {e} < 2 THEN 0 ELSE {e} - 2 END"
    return (
        f"CASE WHEN ({v}) <= 0 THEN -1 "
        f"ELSE {e} * 4 + ((({v}) >> {shift}) & 3) END"
    )


def _hist_bounds_sql(idx: str, div: str) -> tuple[str, str]:
    """[lo, hi] integer value bounds of bucket `idx` (octave e = idx/4,
    sub = idx%4): single-value buckets below octave 2, else
    [(4+sub) << (e-2), +2^(e-2) - 1]."""
    e = f"(({idx}) {div} 4)"
    sub = f"(({idx}) % 4)"
    w = f"CAST(POW(2, {e} - 2) AS BIGINT)"
    lo = (
        f"CASE WHEN ({idx}) < 0 THEN 0 WHEN {e} = 0 THEN 1 "
        f"WHEN {e} = 1 THEN {sub} ELSE (4 + {sub}) * {w} END"
    )
    hi = (
        f"CASE WHEN ({idx}) < 0 THEN 0 WHEN {e} < 2 THEN {lo} "
        f"ELSE (4 + {sub}) * {w} + {w} - 1 END"
    )
    return lo, hi


def hist_tier(
    df: DataFrame, keys: list[str], value_expr: str, bucket_expr: str
) -> DataFrame:
    """Finest histogram tier: (keys..., bucket_ts, idx, cnt). value_expr
    must be a non-negative BIGINT expression (scale doubles first, e.g.
    CAST(floor(value * 100) AS BIGINT) — floor of one shared double
    multiply is engine-stable, unlike round())."""
    return (
        # NULL values: no bucket (and Spark/DuckDB disagree on NULL sort
        # order in the quantile window) — drop, mirrored in the oracle
        df.where(F.expr(f"({value_expr}) IS NOT NULL"))
        .select(
            *keys,
            F.expr(bucket_expr).alias("bucket_ts"),
            F.expr(_hist_idx_sql(f"CAST({value_expr} AS BIGINT)"))
            .cast("int")
            .alias("idx"),
        )
        .groupBy(*keys, "bucket_ts", "idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_downsample(tier: DataFrame, keys: list[str], bucket_ms: int) -> DataFrame:
    return (
        tier.groupBy(
            *keys,
            F.expr(f"(bucket_ts DIV {bucket_ms}) * {bucket_ms}").alias("bucket_ts"),
            "idx",
        )
        .agg(F.sum("cnt").alias("cnt"))
    )


def hist_quantiles(
    tier: DataFrame, keys: list[str], qs: tuple[float, ...] = (0.5, 0.9, 0.99)
) -> DataFrame:
    """(keys..., bucket_ts, q, idx, q_lo, q_hi): the bucket holding the
    ceil(q*n)-th smallest value and its exact integer value bounds."""
    from pyspark.sql import Window

    part = Window.partitionBy(*keys, "bucket_ts")
    ranked = tier.withColumn(
        "cum", F.sum("cnt").over(part.orderBy("idx"))
    ).withColumn("n", F.sum("cnt").over(part))
    qlit = ", ".join(f"CAST({q!r} AS DOUBLE)" for q in qs)
    lo, hi = _hist_bounds_sql("idx", "DIV")
    return (
        ranked.select(
            *keys, "bucket_ts", "idx", "cnt", "cum", "n",
            F.explode(F.expr(f"array({qlit})")).alias("q"),
        )
        .where("cum >= CAST(ceil(q * n) AS BIGINT) AND "
               "cum - cnt < CAST(ceil(q * n) AS BIGINT)")
        .selectExpr(
            *keys, "bucket_ts", "q", "idx",
            f"{lo} AS q_lo", f"{hi} AS q_hi",
        )
    )


def duck_hist_quantiles_sql(
    table: str,
    keys_sql: str,
    value_expr: str,
    bucket_sql: str,
    coarse_ms: int,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> str:
    """The oracle: identical histogram + quantile algebra in DuckDB,
    building at bucket_sql grain then merging to coarse_ms (mirrors
    hist_tier -> hist_downsample -> hist_quantiles)."""
    v = f"CAST({value_expr} AS BIGINT)"
    qlit = ", ".join(f"CAST({q!r} AS DOUBLE)" for q in qs)
    lo, hi = _hist_bounds_sql("idx", "//")
    return f"""
        WITH fine AS (
            SELECT {keys_sql}, {bucket_sql} AS bucket_ts,
                   {_hist_idx_sql(v)} AS idx, count(*) AS cnt
            FROM {table} WHERE ({value_expr}) IS NOT NULL GROUP BY ALL
        ),
        hist AS (
            SELECT {keys_sql}, (bucket_ts // {coarse_ms}) * {coarse_ms}
                       AS bucket_ts, idx, CAST(sum(cnt) AS BIGINT) AS cnt
            FROM fine GROUP BY ALL
        ),
        ranked AS (
            SELECT *, sum(cnt) OVER (PARTITION BY {keys_sql}, bucket_ts
                                     ORDER BY idx) AS cum,
                      sum(cnt) OVER (PARTITION BY {keys_sql}, bucket_ts)
                          AS n
            FROM hist
        ),
        x AS (
            SELECT r.*, q FROM ranked r
            CROSS JOIN (SELECT unnest([{qlit}]) AS q) qs
        )
        SELECT {keys_sql}, bucket_ts, q, CAST(idx AS INT) AS idx,
               CAST({lo} AS BIGINT) AS q_lo, CAST({hi} AS BIGINT) AS q_hi
        FROM x
        WHERE cum >= CAST(ceil(q * n) AS BIGINT)
          AND cum - cnt < CAST(ceil(q * n) AS BIGINT)
    """


# -- range-routed sketch queries (planner composition) -------------------------
#
# The tier-selection cover (plans/planner.py) applies to SKETCH tiers the
# same way it applies to cnt/vsum tiers: answer a distinct-count or
# quantile question over an arbitrary [lo, hi) from the coarsest sketch
# tiers, with raw rows sketched on the fly only at the range edges and
# past each tier's high-water mark. HLL registers are max-idempotent, so
# the cover guarantees completeness (no value missed) and overlap would
# be harmless; histograms are sum-merged, so they rely on the cover's
# exactly-once property — the same proof as tiered_agg.


def _routed_sketch(
    raw, keys, tiers, lo_ms, hi_ms, bucket_ms, high_water,
    sketch_cols, raw_tier_fn, merge_aggs, low_water=None,
):
    """Shared route -> union -> merge shape for both sketch families;
    the cover itself is plans/planner.py route_tiers (ONE implementation
    of the exactly-once algebra, shared with tiered_agg). Only the
    branches the cover keeps are built: raw may be None when it needs no
    raw rows, and a tier frame None when it drops that level."""
    from modelardb_dynamic_spark.plans.planner import bucket_sql, route_tiers

    routed, raw_pred = route_tiers(
        tiers, lo_ms, hi_ms, bucket_ms, high_water, low_water
    )
    rb = bucket_sql("bucket_ts", bucket_ms)
    parts = [
        t.selectExpr(*keys, f"{rb} AS bucket_ts", *sketch_cols)
        for t, _ in routed
    ]
    if raw_pred is not None:
        if raw is None:
            raise ValueError("the cover needs raw rows")
        parts.append(
            raw_tier_fn(raw.where(raw_pred), bucket_sql("ts_ms", bucket_ms))
        )
    u = parts[0]
    for p_ in parts[1:]:
        u = u.unionByName(p_)
    group_cols = [*keys, "bucket_ts", sketch_cols[0]]
    return u.groupBy(*group_cols).agg(*merge_aggs)


def tiered_hll_summary(
    raw: DataFrame | None,
    keys: list[str],
    value_col: str,
    tiers: list[tuple[DataFrame | None, int]],
    lo_ms: int,
    hi_ms: int,
    bucket_ms: int,
    high_water: dict[int, int] | None = None,
    low_water: dict[int, int] | None = None,
) -> DataFrame:
    """Distinct-count over [lo, hi) per bucket_ms bucket, routed through
    the coarsest sketch-tier cover; raw: (keys..., ts_ms, value_col)."""
    merged = _routed_sketch(
        raw, keys, tiers, lo_ms, hi_ms, bucket_ms, high_water,
        sketch_cols=("reg", "rho"),
        raw_tier_fn=lambda df, b: hll_tier(df, keys, value_col, b),
        merge_aggs=[F.max("rho").alias("rho")],
        low_water=low_water,
    )
    return hll_summary(merged, keys)


def tiered_hist_quantiles(
    raw: DataFrame | None,
    keys: list[str],
    value_expr: str,
    tiers: list[tuple[DataFrame | None, int]],
    lo_ms: int,
    hi_ms: int,
    bucket_ms: int,
    high_water: dict[int, int] | None = None,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    low_water: dict[int, int] | None = None,
) -> DataFrame:
    """Quantiles over [lo, hi) per bucket_ms bucket from the coarsest
    histogram-tier cover; raw: (keys..., ts_ms, <value_expr>)."""
    merged = _routed_sketch(
        raw, keys, tiers, lo_ms, hi_ms, bucket_ms, high_water,
        sketch_cols=("idx", "cnt"),
        raw_tier_fn=lambda df, b: hist_tier(df, keys, value_expr, b),
        merge_aggs=[F.sum("cnt").alias("cnt")],
        low_water=low_water,
    )
    return hist_quantiles(merged, keys, qs)


# -- Count-Min sketch tier (heavy-key frequency estimates) ---------------------
#
# The frequency companion to the HLL (distinct) and histogram (quantile)
# tiers: per (keys, bucket) a Count-Min sketch of a HIGH-CARDINALITY key
# column (conv_id, user_id) so "how often did key k appear in [lo, hi)"
# is answerable from tiers without per-key rows. Counters merge by SUM —
# vector addition is commutative/associative — so the tier downsamples
# exactly like cnt/vsum and is order-independent (value-gatable; unlike
# Misra-Gries/SpaceSaving whose merge is tree-shape-dependent).
#
# Determinism contract (same idiom as the HLL tier):
# - the D=4 row indexes are DISJOINT 9-bit slices of the one shared
#   60-bit md5 hash (spark_h60 / duck_h60) — one hash per key, no
#   per-row family needed, bit-identical in Spark and DuckDB;
# - a counter row is (cell = r*W + idx, cnt), cnt an exact BIGINT sum;
# - estimate(k) = min over the D cells of k, with an ABSENT cell = 0
#   (rows_hit < D collapses the min to 0);
# - standard CMS guarantee: est >= true, and est - true <= 2N/W per row
#   with prob >= 1/2 per row independently -> err <= 2N/W whp at the
#   min over D=4 rows (accuracy pinned by pytest on a seeded corpus).
#
# Scale notes (100 TB): cms_tier is one map-side-combinable groupBy;
# shuffle carries <= D*W = 2048 counter rows per (keys, bucket)
# regardless of key cardinality, and a range query over a year of daily
# sketches moves ~750k rows per key-group total. No reference
# counterpart; this is the training-pipeline's "per-source contribution
# over a window" / hot-conversation audit primitive.

CMS_D = 4              # hash rows
CMS_W_BITS = 9
CMS_W = 1 << CMS_W_BITS   # 512 counters per row; D*W_BITS=36 <= 60 hash bits


def cms_cells_py(key: str) -> list[int]:
    """The D packed cells of `key` (driver-side, for probes/oracles)."""
    from modelardb_dynamic_spark.operators.dedup import py_h60

    h = py_h60(key)
    return [
        r * CMS_W + ((h >> (CMS_W_BITS * r)) & (CMS_W - 1))
        for r in range(CMS_D)
    ]


def cms_tier(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    bucket_expr: str,
    weight_expr: str = "1",
) -> DataFrame:
    """Finest CMS tier: (keys..., bucket_ts, cell, cnt). One map-side
    combinable groupBy; <= CMS_D*CMS_W rows per (keys, bucket)."""
    base = df.where(F.col(value_col).isNotNull()).select(
        *keys,
        F.expr(bucket_expr).alias("bucket_ts"),
        spark_h60(value_col).alias("h"),
        F.expr(f"CAST({weight_expr} AS BIGINT)").alias("w"),
    )
    cells = base.select(
        *keys,
        "bucket_ts",
        "w",
        F.explode(
            F.array(
                *[
                    F.expr(
                        f"{r} * {CMS_W} + "
                        f"((h >> {CMS_W_BITS * r}) & {CMS_W - 1})"
                    ).cast("int")
                    for r in range(CMS_D)
                ]
            )
        ).alias("cell"),
    )
    return (
        cells.groupBy(*keys, "bucket_ts", "cell")
        .agg(F.sum("w").alias("cnt"))
    )


def cms_downsample(tier: DataFrame, keys: list[str], bucket_ms: int) -> DataFrame:
    """CMS tier -> coarser tier: counters merge by sum."""
    return (
        tier.groupBy(
            *keys,
            F.expr(f"(bucket_ts DIV {bucket_ms}) * {bucket_ms}").alias("bucket_ts"),
            "cell",
        )
        .agg(F.sum("cnt").alias("cnt"))
    )


def cms_estimates(
    tier: DataFrame, keys: list[str], probes: list[str]
) -> DataFrame:
    """Per (keys..., bucket_ts, probe): the CMS frequency estimate, via a
    broadcast join of the probes' D cells (literals, computed driver-side
    with the shared hash). An absent counter row means that cell is 0,
    so rows_hit < D collapses the estimate to 0. Output contract: a
    (group, probe) row is emitted only when AT LEAST ONE of the probe's
    cells has a counter (inner join); a probe whose cells all miss has
    estimate 0 by omission — consumers treat a missing row as 0, and the
    DuckDB oracle mirrors the same join shape. Probes are deduplicated:
    a repeated probe would double-count its matched cells into rows_hit
    and defeat the absent-cell collapse."""
    spark = tier.sparkSession
    probes = list(dict.fromkeys(probes))
    rows = [
        (p, c) for p in probes for c in cms_cells_py(p)
    ]
    probe_df = spark.createDataFrame(rows, "probe string, cell int")
    return (
        tier.join(F.broadcast(probe_df), "cell")
        .groupBy(*keys, "bucket_ts", "probe")
        .agg(
            F.min("cnt").alias("est_min"),
            F.count(F.lit(1)).alias("rows_hit"),
        )
        .selectExpr(
            *keys,
            "bucket_ts",
            "probe",
            f"CASE WHEN rows_hit < {CMS_D} THEN CAST(0 AS BIGINT) "
            "ELSE est_min END AS est",
        )
    )


def duck_cms_estimates_sql(
    table: str,
    keys_sql: str,
    value_expr: str,
    bucket_sql: str,
    probes: list[str],
    weight_sql: str = "1",
    where: str = "TRUE",
) -> str:
    """The identical sketch-build + probe-estimate as ONE DuckDB query
    (the oracle): same hash, same packed cells, same min-with-absent=0,
    same probe dedup."""
    probes = list(dict.fromkeys(probes))
    probe_lits = ", ".join("'" + p.replace("'", "''") + "'" for p in probes)
    return f"""
        WITH rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
        h AS (
            SELECT {keys_sql}, {bucket_sql} AS bucket_ts,
                   {duck_h60(value_expr)} AS h,
                   CAST({weight_sql} AS BIGINT) AS w
            FROM {table}
            WHERE ({value_expr}) IS NOT NULL AND ({where})
        ),
        cms AS (
            SELECT {keys_sql}, bucket_ts,
                   r * {CMS_W} + ((h >> ({CMS_W_BITS} * r)) & {CMS_W - 1})
                       AS cell,
                   CAST(SUM(w) AS BIGINT) AS cnt
            FROM h CROSS JOIN rs GROUP BY ALL
        ),
        probes AS (SELECT unnest([{probe_lits}]) AS probe),
        pc AS (
            SELECT probe,
                   r * {CMS_W} +
                   (({duck_h60('probe')} >> ({CMS_W_BITS} * r))
                        & {CMS_W - 1}) AS cell
            FROM probes CROSS JOIN rs
        ),
        j AS (
            SELECT {keys_sql}, bucket_ts, probe,
                   min(cnt) AS est_min, count(*) AS rows_hit
            FROM pc JOIN cms USING (cell) GROUP BY ALL
        )
        SELECT {keys_sql}, bucket_ts, probe,
               CASE WHEN rows_hit < {CMS_D} THEN CAST(0 AS BIGINT)
                    ELSE est_min END AS est
        FROM j
    """


def tiered_cms_estimates(
    raw: DataFrame | None,
    keys: list[str],
    value_col: str,
    probes: list[str],
    tiers: list[tuple[DataFrame | None, int]],
    lo_ms: int,
    hi_ms: int,
    bucket_ms: int,
    high_water: dict[int, int] | None = None,
    weight_expr: str = "1",
    low_water: dict[int, int] | None = None,
) -> DataFrame:
    """Frequency estimates over [lo, hi) per bucket_ms bucket, routed
    through the coarsest CMS-tier cover; raw: (keys..., ts_ms, value)."""
    merged = _routed_sketch(
        raw, keys, tiers, lo_ms, hi_ms, bucket_ms, high_water,
        sketch_cols=("cell", "cnt"),
        raw_tier_fn=lambda df, b: cms_tier(df, keys, value_col, b, weight_expr),
        merge_aggs=[F.sum("cnt").alias("cnt")],
        low_water=low_water,
    )
    return cms_estimates(merged, keys, probes)


# -- KMV (k-minimum-values / bottom-k) distinct sketch tier --------------------
#
# The set-operation companion to the HLL tier: HLL registers union (max)
# but cannot INTERSECT — "how many users were active in BOTH window A and
# window B" has no register answer. A KMV sketch (the k smallest h60
# hashes of the distinct values) supports union AND intersection: the
# bottom-k of a union is the bottom-k of the merged bottom-ks, and within
# the union sketch the fraction of hashes present in both sides is an
# unbiased Jaccard estimate (Beyer et al., "On Synopses for Distinct-Value
# Estimation Under Multiset Operations", SIGMOD'07 — the classic KMV/AKMV
# construction; also Bar-Yossef et al. 2002).
#
# Everything is DETERMINISTIC and value-gatable, same contract as the HLL
# tier above:
# - the hash is the shared 60-bit md5 prefix (spark_h60 / duck_h60);
# - the tier stores PLAIN ROWS (keys..., bucket_ts, h): the k smallest
#   distinct hashes — merge/downsample = distinct + re-rank, <= k rows
#   per key-bucket at any cardinality;
# - the estimator (k-1) * 2^60 / h_(k) uses exact-integer inputs and ONE
#   double division, its expression text shared verbatim with the DuckDB
#   oracle (_kmv_est_sql), so even the double column hash-matches.
#
# Scale notes (100 TB): the finest-tier build first prunes each Arrow
# batch to its per-(key, bucket) bottom-k (vectorized pandas — bottom-k
# of a union == bottom-k of per-part bottom-ks, so the prune is
# result-invariant, pinned by pytest), then ONE map-side-combinable
# groupBy collects, sorts, and slices <= k hashes per group; the shuffle
# carries <= k rows per (key, bucket) per upstream partition instead of
# every distinct value. Downsampling re-ranks <= k * fanin rows per
# group. Sketches are tiny (k per key) so overlap joins broadcast. No
# reference counterpart (ModelarDB has no distinct aggregate at all);
# this is the training-pipeline's "overlap between crawl snapshots /
# active-set churn" workhorse.

K_KMV = 64
_H60_SPAN = float(1 << 60)  # exactly representable; repr round-trips


def _kmv_est_sql(k: int, m: str = "m", h_k: str = "h_k") -> str:
    """Distinct estimate: exact count below k, else the KMV unbiased
    estimator (k-1) * 2^60 / h_(k). (k-1)*2^60 is computed as one exact
    double literal product; the division is the single rounding step,
    performed identically by Spark and DuckDB."""
    return (
        f"CASE WHEN {m} < {k} THEN CAST({m} AS DOUBLE) "
        f"ELSE (CAST({k - 1} AS DOUBLE) * {_H60_SPAN!r}) "
        f"/ CAST({h_k} AS DOUBLE) END"
    )


def _kmv_prune(df: DataFrame, group_cols: list[str], k: int) -> DataFrame:
    """Per-Arrow-batch partial bottom-k (the map-side combine): within
    each batch keep only the k smallest distinct h per group. Never
    changes the final sketch — bottom-k(union) == bottom-k(bottom-ks)."""
    schema = df.schema

    def prune(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.drop_duplicates(subset=[*group_cols, "h"])
            pdf = pdf.sort_values([*group_cols, "h"], kind="mergesort")
            yield pdf.groupby(group_cols, sort=False).head(k)

    return df.mapInPandas(prune, schema)


def _kmv_bottomk(df: DataFrame, group_cols: list[str], k: int) -> DataFrame:
    """groupBy collect -> distinct -> sort -> slice k -> explode back to
    plain tier rows. collect_list is map-side combinable and its partial
    states are bounded by the upstream prune."""
    g = df.groupBy(*group_cols).agg(
        F.slice(F.array_sort(F.array_distinct(F.collect_list("h"))), 1, k).alias(
            "hs"
        )
    )
    return g.select(*group_cols, F.explode("hs").alias("h"))


def kmv_tier(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    bucket_expr: str,
    k: int = K_KMV,
) -> DataFrame:
    """Finest sketch tier: (keys..., bucket_ts, h) — the k smallest
    distinct 60-bit hashes of value_col per (keys, bucket)."""
    base = df.where(F.col(value_col).isNotNull()).select(
        *keys,
        F.expr(bucket_expr).alias("bucket_ts"),
        spark_h60(value_col).alias("h"),
    )
    pruned = _kmv_prune(base, [*keys, "bucket_ts"], k)
    return _kmv_bottomk(pruned, [*keys, "bucket_ts"], k)


def kmv_downsample(
    tier: DataFrame, keys: list[str], bucket_ms: int, k: int = K_KMV
) -> DataFrame:
    """Sketch tier -> coarser sketch tier: re-bucket, re-rank, keep k.
    Exactly the coarse sketch a direct build would produce (pytest-pinned
    merge property)."""
    rebucketed = tier.select(
        *keys,
        F.expr(f"(bucket_ts DIV {bucket_ms}) * {bucket_ms}").alias("bucket_ts"),
        "h",
    )
    return _kmv_bottomk(rebucketed, [*keys, "bucket_ts"], k)


def kmv_summary(tier: DataFrame, keys: list[str], k: int = K_KMV) -> DataFrame:
    """Per (keys..., bucket_ts): m = |sketch| (exact count when m < k),
    h_k = the k-th smallest hash, and the distinct estimate — every
    column value-gatable against DuckDB."""
    return (
        tier.groupBy(*keys, "bucket_ts")
        .agg(F.count(F.lit(1)).alias("m"), F.max("h").alias("h_k"))
        .selectExpr(
            *keys, "bucket_ts", "m", "h_k",
            f"{_kmv_est_sql(k)} AS distinct_est",
        )
    )


def kmv_overlap(
    sa: DataFrame, sb: DataFrame, keys: list[str], k: int = K_KMV
) -> DataFrame:
    """Set-operation estimates between two KMV sketches with the same
    keys (plain rows (keys..., h), one sketch per key on each side):
    per key — mu/h_k_u (the union sketch state), n_both (union-sketch
    hashes present in BOTH sides), est_union, and the intersection
    estimate est_inter = (n_both / mu) * est_union. Sketches carry <= k
    rows per key, so both joins broadcast at any corpus size."""
    u = _kmv_bottomk(sa.unionByName(sb), keys, k)
    j = (
        u.join(sa.withColumn("in_a", F.lit(1)), [*keys, "h"], "left")
        .join(sb.withColumn("in_b", F.lit(1)), [*keys, "h"], "left")
    )
    est_u = _kmv_est_sql(k, m="mu", h_k="h_k_u")
    return (
        j.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("mu"),
            F.max("h").alias("h_k_u"),
            F.sum(
                F.expr(
                    "CASE WHEN in_a IS NOT NULL AND in_b IS NOT NULL "
                    "THEN 1 ELSE 0 END"
                )
            ).alias("n_both"),
        )
        .selectExpr(
            *keys, "mu", "h_k_u", "n_both",
            f"{est_u} AS est_union",
            f"(CAST(n_both AS DOUBLE) / CAST(mu AS DOUBLE)) * ({est_u}) "
            "AS est_inter",
        )
    )


def duck_kmv_sketch_sql(
    table: str, keys_sql: str, value_expr: str, bucket_sql: str,
    k: int = K_KMV, where: str = "TRUE",
) -> str:
    """The identical sketch as a DuckDB CTE body returning
    (keys..., bucket_ts, h): distinct hashes ranked per group, bottom k."""
    return f"""
        SELECT {keys_sql}, bucket_ts, h FROM (
            SELECT {keys_sql}, bucket_ts, h,
                   row_number() OVER (
                       PARTITION BY {keys_sql}, bucket_ts ORDER BY h
                   ) AS rn
            FROM (
                SELECT DISTINCT {keys_sql}, {bucket_sql} AS bucket_ts,
                       {duck_h60(value_expr)} AS h
                FROM {table}
                WHERE ({value_expr}) IS NOT NULL AND ({where})
            )
        ) WHERE rn <= {k}
    """


def duck_kmv_summary_sql(
    table: str, keys_sql: str, value_expr: str, bucket_sql: str,
    k: int = K_KMV, where: str = "TRUE",
) -> str:
    """Sketch + summary as ONE DuckDB query (the oracle); the estimate
    expression text is shared verbatim with kmv_summary."""
    sketch = duck_kmv_sketch_sql(table, keys_sql, value_expr, bucket_sql, k, where)
    return f"""
        WITH sk AS ({sketch}),
        s AS (
            SELECT {keys_sql}, bucket_ts,
                   CAST(count(*) AS BIGINT) AS m, max(h) AS h_k
            FROM sk GROUP BY ALL
        )
        SELECT {keys_sql}, bucket_ts, m, h_k,
               {_kmv_est_sql(k)} AS distinct_est
        FROM s
    """


# --- Bloom-filter membership tier ---------------------------------------------
# The fifth mergeable sketch family: MEMBERSHIP ("was conv X active in
# this window"), beside HLL (cardinality), CMS (frequency), KMV
# (intersection) and the log2 histogram (quantiles). Merge/downsample is
# bitwise OR — order-free exact integer algebra, so build -> merge ->
# probe value-gates end to end with the shared md5-60 hash.
#
# Layout: m = 2^14 bits as 512 x 32-bit words stored in an int64 `bits`
# column (32-bit packing keeps every shift/mask positive in both
# engines); k = 4 positions from disjoint 15-bit slices of the hash
# (low 14 bits of each). A key-bucket carries <= 512 plain rows on the
# shuffle regardless of how many values it saw.

BLOOM_P_BITS = 14
BLOOM_M = 1 << BLOOM_P_BITS      # 16384 bits
BLOOM_K = 4                      # K * 15 <= 60 hash bits
BLOOM_WORD_BITS = 32


def bloom_positions_py(key: str) -> list[int]:
    """The K bit positions of `key` (driver-side, for probes/oracles)."""
    from modelardb_dynamic_spark.operators.dedup import py_h60

    h = py_h60(key)
    return [(h >> (15 * r)) & (BLOOM_M - 1) for r in range(BLOOM_K)]


def bloom_tier(
    df: DataFrame, keys: list[str], value_col: str, bucket_expr: str
) -> DataFrame:
    """Finest Bloom tier: (keys..., bucket_ts, word, bits). One map-side
    combinable groupBy + bit_or; <= m/32 rows per (keys, bucket)."""
    from modelardb_dynamic_spark.operators.dedup import spark_h60

    base = df.where(F.col(value_col).isNotNull()).select(
        *keys,
        F.expr(bucket_expr).alias("bucket_ts"),
        spark_h60(value_col).alias("h"),
    )
    pos = base.select(
        *keys,
        "bucket_ts",
        F.explode(
            F.array(
                *[
                    F.expr(f"(h >> {15 * r}) & {BLOOM_M - 1}").cast("int")
                    for r in range(BLOOM_K)
                ]
            )
        ).alias("pos"),
    )
    return (
        pos.select(
            *keys,
            "bucket_ts",
            F.expr(f"pos DIV {BLOOM_WORD_BITS}").cast("int").alias("word"),
            F.expr(
                f"CAST(1 AS BIGINT) << (pos % {BLOOM_WORD_BITS})"
            ).alias("b"),
        )
        .groupBy(*keys, "bucket_ts", "word")
        .agg(F.expr("bit_or(b)").alias("bits"))
    )


def bloom_downsample(
    tier: DataFrame, keys: list[str], bucket_ms: int
) -> DataFrame:
    """Bloom tier -> coarser tier: words merge by bitwise OR (the union
    filter — exactly the filter a from-scratch build of the coarser
    bucket would produce, so downsampling loses nothing)."""
    return (
        tier.groupBy(
            *keys,
            F.expr(f"(bucket_ts DIV {bucket_ms}) * {bucket_ms}").alias(
                "bucket_ts"
            ),
            "word",
        )
        .agg(F.expr("bit_or(bits)").alias("bits"))
    )


def bloom_membership(
    tier: DataFrame, keys: list[str], probes: list[str]
) -> DataFrame:
    """Per (keys..., bucket_ts, probe): Bloom membership, via a broadcast
    join of the probes' (word, mask) parts (literals, shared hash).
    member = every one of the probe's distinct parts is fully present
    (bits & mask == mask). Output contract mirrors cms_estimates: a
    (group, probe) row is emitted only when at least one part's word
    row exists AND is fully satisfied (inner join + filter); an absent
    row means non-member — no false negatives are possible because a
    recorded value sets ALL its parts, so all-parts-present is the
    membership test. Probe parts are deduplicated (two of a probe's K
    positions can share a word or even collide)."""
    spark = tier.sparkSession
    rows = []
    for p in dict.fromkeys(probes):
        parts: dict[int, int] = {}
        for pos in bloom_positions_py(p):
            w, b = pos // BLOOM_WORD_BITS, 1 << (pos % BLOOM_WORD_BITS)
            parts[w] = parts.get(w, 0) | b
        for w, mask in sorted(parts.items()):
            rows.append((p, w, mask, len(parts)))
    probe_df = spark.createDataFrame(
        rows, "probe string, word int, mask long, n_parts int"
    )
    return (
        tier.join(F.broadcast(probe_df), "word")
        .where(F.expr("(bits & mask) = mask"))
        .groupBy(*keys, "bucket_ts", "probe")
        .agg(
            F.count(F.lit(1)).alias("hits"),
            F.first("n_parts").alias("n_parts"),
        )
        .selectExpr(
            *keys, "bucket_ts", "probe", "hits",
            "hits = n_parts AS member",
        )
    )


def bloom_occupancy(tier: DataFrame, keys: list[str]) -> DataFrame:
    """Per (keys..., bucket_ts): exact set-bit count and the standard
    false-positive estimate (set/m)^k — the division and the three
    multiplications are one shared IEEE tree (no pow(), which is not
    correctly rounded across engines)."""
    occ = tier.groupBy(*keys, "bucket_ts").agg(
        F.expr("CAST(sum(bit_count(bits)) AS BIGINT)").alias("set_bits")
    )
    r = f"(CAST(set_bits AS DOUBLE) / CAST({BLOOM_M} AS DOUBLE))"
    return occ.selectExpr(
        *keys, "bucket_ts", "set_bits",
        f"{r} * {r} * {r} * {r} AS fpr_est",
    )


def duck_bloom_membership_sql(
    table: str,
    keys_sql: str,
    value_expr: str,
    bucket_sql: str,
    coarse_ms: int,
    probes: list[str],
    where: str = "TRUE",
) -> str:
    """Identical build -> OR-downsample -> probe as ONE DuckDB query."""
    parts_rows = []
    for p in dict.fromkeys(probes):
        parts: dict[int, int] = {}
        for pos in bloom_positions_py(p):
            w, b = pos // BLOOM_WORD_BITS, 1 << (pos % BLOOM_WORD_BITS)
            parts[w] = parts.get(w, 0) | b
        for w, mask in sorted(parts.items()):
            pl = "'" + p.replace("'", "''") + "'"
            parts_rows.append(f"({pl}, {w}, {mask}, {len(parts)})")
    return f"""
        WITH rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
        h AS (
            SELECT {keys_sql}, {bucket_sql} AS fine_ts,
                   {duck_h60(value_expr)} AS h
            FROM {table}
            WHERE ({value_expr}) IS NOT NULL AND ({where})
        ),
        pos AS (
            SELECT {keys_sql}, fine_ts,
                   (h >> (15 * r)) & {BLOOM_M - 1} AS pos
            FROM h CROSS JOIN rs
        ),
        fine AS (
            SELECT {keys_sql}, fine_ts,
                   CAST(pos // {BLOOM_WORD_BITS} AS INT) AS word,
                   bit_or(CAST(1 AS BIGINT) << (pos % {BLOOM_WORD_BITS}))
                       AS bits
            FROM pos GROUP BY ALL
        ),
        tier AS (
            SELECT {keys_sql},
                   (fine_ts // {coarse_ms}) * {coarse_ms} AS bucket_ts,
                   word, bit_or(bits) AS bits
            FROM fine GROUP BY ALL
        ),
        pc (probe, word, mask, n_parts) AS (
            VALUES {", ".join(parts_rows)}
        ),
        j AS (
            SELECT {keys_sql}, bucket_ts, probe,
                   CAST(count(*) AS BIGINT) AS hits,
                   any_value(n_parts) AS n_parts
            FROM pc JOIN tier USING (word)
            WHERE (bits & mask) = mask
            GROUP BY ALL
        )
        SELECT {keys_sql}, bucket_ts, probe, hits,
               hits = n_parts AS member
        FROM j
    """


def hll_sliding(
    tier: DataFrame,
    keys: list[str],
    window_buckets: int,
    bucket_ms: int,
) -> DataFrame:
    """Trailing-window register merge: the sliding-window distinct count
    mergeable sketches exist for. Each register row of the finest tier
    contributes to the `window_buckets` output windows ENDING at or after
    its bucket (explode of a literal 0..W-1 sequence — bounded 24x fan-out
    of register rows, never of raw rows), then registers re-merge by max:
    the result at bucket t is the exact HLL union of buckets
    (t-W+1 .. t), so `hll_summary`/`hll_estimate` answer "distinct X in
    the trailing W buckets as of t" for every t within W of any data —
    including hours with no arrivals of their own, where a tumbling
    sketch has no row at all.

    Determinism: expansion + max-merge is order-free integer algebra,
    value-gated end to end (duck_hll_sliding_sql replays it). Scale: the
    shuffle carries <= W * M rows per (keys, bucket) — sketch-sized, and
    W and M are literals; the raw table is never rescanned.
    """
    expanded = tier.select(
        *keys,
        F.explode(
            F.expr(f"sequence(0, {window_buckets - 1})")
        ).alias("k_off"),
        "bucket_ts",
        "reg",
        "rho",
    ).selectExpr(
        *keys,
        f"bucket_ts + k_off * CAST({bucket_ms} AS BIGINT) AS bucket_ts",
        "reg",
        "rho",
    )
    return expanded.groupBy(*keys, "bucket_ts", "reg").agg(
        F.max("rho").alias("rho")
    )


def duck_hll_sliding_sql(
    table: str, keys_sql: str, value_expr: str, bucket_sql: str,
    window_buckets: int, bucket_ms: int, where: str = "TRUE",
) -> str:
    """DuckDB replay of hll_tier -> hll_sliding -> hll_summary ->
    hll_estimate as one query (the sliding oracle)."""
    from modelardb_dynamic_spark.operators.textstats import log2_int_stages

    base = f"""
        WITH h AS (
            SELECT {keys_sql}, {bucket_sql} AS bucket_ts,
                   {duck_h60(value_expr)} AS h
            FROM {table}
            WHERE ({value_expr}) IS NOT NULL AND ({where})
        ),
        regs0 AS (
            SELECT {keys_sql}, bucket_ts, h & {M - 1} AS reg,
                   max(CASE WHEN (h >> {P}) = 0 THEN {RHO_CAP}
                       ELSE {WREM} - length(bin(h >> {P})) + 1 END) AS rho
            FROM h GROUP BY ALL
        ),
        regs AS (
            SELECT {keys_sql},
                   bucket_ts + k_off * CAST({bucket_ms} AS BIGINT)
                       AS bucket_ts,
                   reg, max(rho) AS rho
            FROM regs0,
                 (SELECT unnest(range(0, {window_buckets})) AS k_off)
            GROUP BY ALL
        ),
        s AS (
            SELECT {keys_sql}, bucket_ts,
                   count(*) AS m_present,
                   sum(CAST(POW(2, {RHO_CAP} - rho) AS BIGINT)) AS s_present
            FROM regs GROUP BY ALL
        )
        SELECT {keys_sql}, bucket_ts, m_present,
               CAST(CAST(s_present AS HUGEINT) +
                    CAST({M} - m_present AS HUGEINT) * {SCALE} AS BIGINT)
                   AS s_scaled,
               {M} - m_present AS zeros,
               (CAST({ALPHA!r} AS DOUBLE) * {M} * {M} *
                    CAST({SCALE} AS DOUBLE)) /
                   CAST(CAST(s_present AS HUGEINT) +
                        CAST({M} - m_present AS HUGEINT) * {SCALE} AS DOUBLE)
                   AS est_raw
        FROM s
    """
    inner = f"({base}) q0"
    for name, expr in log2_int_stages("greatest(zeros, 1)", "l2z"):
        inner = f"(SELECT *, {expr} AS {name} FROM {inner}) q_{name}"
    return f"""
        SELECT {keys_sql}, bucket_ts, m_present, s_scaled, zeros, est_raw,
               {_lincount_expr()} AS distinct_est
        FROM {inner}
    """


def hist_sliding(
    tier: DataFrame,
    keys: list[str],
    window_buckets: int,
    bucket_ms: int,
) -> DataFrame:
    """Trailing-window histogram merge — the quantile twin of
    hll_sliding: each histogram-bucket row contributes to the
    `window_buckets` windows ending at or after it (bounded explode of a
    literal 0..W-1 sequence), counters re-merge by SUM, and
    hist_quantiles on the result answers "trailing-24h p50/p90/p99 as of
    every hour" — the standing SLO question — from sketch rows alone,
    including at hours with no arrivals of their own. Exactly-once
    contribution per (source bucket, window) is by construction (each
    source row lands once per offset), which is what sum-merged
    histograms require (the tiered_agg proof).

    Scale: the shuffle carries <= W * 257 rows per (keys, window) —
    sketch-sized, raw never rescanned."""
    expanded = tier.select(
        *keys,
        F.explode(
            F.expr(f"sequence(0, {window_buckets - 1})")
        ).alias("k_off"),
        "bucket_ts",
        "idx",
        "cnt",
    ).selectExpr(
        *keys,
        f"bucket_ts + k_off * CAST({bucket_ms} AS BIGINT) AS bucket_ts",
        "idx",
        "cnt",
    )
    return expanded.groupBy(*keys, "bucket_ts", "idx").agg(
        F.sum("cnt").alias("cnt")
    )


def duck_hist_sliding_sql(
    table: str,
    keys_sql: str,
    value_expr: str,
    bucket_sql: str,
    window_buckets: int,
    bucket_ms: int,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> str:
    """DuckDB replay of hist_tier -> hist_sliding -> hist_quantiles."""
    v = f"CAST({value_expr} AS BIGINT)"
    qlit = ", ".join(f"CAST({q!r} AS DOUBLE)" for q in qs)
    lo, hi = _hist_bounds_sql("idx", "//")
    return f"""
        WITH fine AS (
            SELECT {keys_sql}, {bucket_sql} AS bucket_ts,
                   {_hist_idx_sql(v)} AS idx, count(*) AS cnt
            FROM {table} WHERE ({value_expr}) IS NOT NULL GROUP BY ALL
        ),
        hist AS (
            SELECT {keys_sql},
                   bucket_ts + k_off * CAST({bucket_ms} AS BIGINT)
                       AS bucket_ts,
                   idx, CAST(sum(cnt) AS BIGINT) AS cnt
            FROM fine,
                 (SELECT unnest(range(0, {window_buckets})) AS k_off)
            GROUP BY ALL
        ),
        ranked AS (
            SELECT *, sum(cnt) OVER (PARTITION BY {keys_sql}, bucket_ts
                                     ORDER BY idx) AS cum,
                      sum(cnt) OVER (PARTITION BY {keys_sql}, bucket_ts)
                          AS n
            FROM hist
        ),
        x AS (
            SELECT r.*, q FROM ranked r
            CROSS JOIN (SELECT unnest([{qlit}]) AS q) qs
        )
        SELECT {keys_sql}, bucket_ts, q, CAST(idx AS INT) AS idx,
               CAST({lo} AS BIGINT) AS q_lo, CAST({hi} AS BIGINT) AS q_hi
        FROM x
        WHERE cum >= CAST(ceil(q * n) AS BIGINT)
          AND cum - cnt < CAST(ceil(q * n) AS BIGINT)
    """


def hist_psi(
    tier: DataFrame,
    keys: list[str],
    ts_a: int,
    ts_b: int,
) -> DataFrame:
    """Numeric distribution drift between two windows, straight off the
    mergeable histogram tier — the sketch-native companion of the
    vocabulary KL monitor (textstats.vocab_kl_drift): per key, the
    population-stability contribution of every histogram bucket between
    the sketches at bucket_ts = ts_a (current) and ts_b (reference),

        contrib_i = (p_i - q_i) * log2(p_i / q_i)   [PSI, in bits]

    with add-one smoothing over the union bucket set (absent buckets are
    drift signals, not holes). Each row also carries the bucket's exact
    integer value bounds, so "WHERE did the metric move" reads directly
    off the result; psi_bits is the per-key total (industry folklore:
    >0.2-0.35 in ln units = action — scale by ln2 to compare).

    Exactness: counts and totals are exact int64 columns; the four logs
    come from the shared log2_int_stages tree APPLIED TO COLUMNS (per-key
    totals can't be driver literals — there is one per key); p, q and
    contrib are shared division/product trees; psi_bits folds the <= 257
    per-key contributions in bucket-index order (the bounded-array fold
    discipline). Scale: everything after the tier is sketch-sized — one
    full outer join on (key, idx), two tiny aggregations, one join back.
    """
    from modelardb_dynamic_spark.operators.textstats import log2_int_stages

    a = tier.where(F.col("bucket_ts") == ts_a).select(
        *keys, "idx", F.col("cnt").alias("ca")
    )
    b = tier.where(F.col("bucket_ts") == ts_b).select(
        *keys, "idx", F.col("cnt").alias("cb")
    )
    u = (
        a.join(b, [*keys, "idx"], "full_outer")
        .select(
            *keys,
            "idx",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    tot = u.groupBy(*keys).agg(
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
        F.count(F.lit(1)).alias("nbuckets"),
    )
    j = (u.join(tot, [*keys]) if keys else u.crossJoin(tot)).selectExpr(
        *keys,
        "idx",
        "ca",
        "cb",
        "ca + CAST(1 AS BIGINT) AS ca1",
        "cb + CAST(1 AS BIGINT) AS cb1",
        "na + nbuckets AS nat",
        "nb + nbuckets AS nbt",
    )
    for name, expr in (
        log2_int_stages("ca1", "l2ca")
        + log2_int_stages("cb1", "l2cb")
        + log2_int_stages("nat", "l2na")
        + log2_int_stages("nbt", "l2nb")
    ):
        j = j.selectExpr("*", f"{expr} AS {name}")
    lo, hi = _hist_bounds_sql("idx", "DIV")
    per = j.selectExpr(
        *keys,
        "idx",
        "CAST(ca AS BIGINT) AS cnt_a",
        "CAST(cb AS BIGINT) AS cnt_b",
        f"CAST({lo} AS BIGINT) AS v_lo",
        f"CAST({hi} AS BIGINT) AS v_hi",
        "(CAST(ca1 AS DOUBLE) / CAST(nat AS DOUBLE) - "
        "CAST(cb1 AS DOUBLE) / CAST(nbt AS DOUBLE)) * "
        "(l2ca - l2na - l2cb + l2nb) AS contrib",
    )
    total = per.groupBy(*keys).agg(
        F.expr(
            "aggregate(sort_array(collect_list(struct(idx, contrib))), "
            "CAST(0 AS DOUBLE), (acc, s) -> acc + s.contrib)"
        ).alias("psi_bits")
    )
    return per.join(total, [*keys]) if keys else per.crossJoin(total)


def duck_hist_psi_sql(
    table: str,
    keys_sql: str,
    value_expr: str,
    bucket_sql: str,
    ts_a_sql: str,
    ts_b_sql: str,
) -> str:
    """DuckDB replay of hist_tier -> hist_psi; ts_a_sql / ts_b_sql are
    scalar SQL expressions for the two window timestamps."""
    from modelardb_dynamic_spark.operators.textstats import log2_int_stages

    v = f"CAST({value_expr} AS BIGINT)"
    stages = (
        log2_int_stages("ca1", "l2ca")
        + log2_int_stages("cb1", "l2cb")
        + log2_int_stages("nat", "l2na")
        + log2_int_stages("nbt", "l2nb")
    )
    ctes, prev = [], "j0"
    for i, (name, expr) in enumerate(stages, 1):
        ctes.append(f"p{i} AS (SELECT *, {expr} AS {name} FROM {prev})")
        prev = f"p{i}"
    inner = ",\n        ".join(ctes)
    lo, hi = _hist_bounds_sql("idx", "//")
    return f"""
        WITH fine AS (
            SELECT {keys_sql}, {bucket_sql} AS bucket_ts,
                   {_hist_idx_sql(v)} AS idx, count(*) AS cnt
            FROM {table} WHERE ({value_expr}) IS NOT NULL GROUP BY ALL
        ),
        aa AS (SELECT {keys_sql}, idx, cnt AS ca FROM fine
               WHERE bucket_ts = ({ts_a_sql})),
        bb AS (SELECT {keys_sql}, idx, cnt AS cb FROM fine
               WHERE bucket_ts = ({ts_b_sql})),
        u AS (
            SELECT coalesce(aa.{keys_sql}, bb.{keys_sql}) AS {keys_sql},
                   coalesce(aa.idx, bb.idx) AS idx,
                   coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
            FROM aa FULL OUTER JOIN bb
              ON aa.{keys_sql} = bb.{keys_sql} AND aa.idx = bb.idx
        ),
        tot AS (SELECT {keys_sql}, sum(ca) AS na, sum(cb) AS nb,
                       count(*) AS nbuckets
                FROM u GROUP BY {keys_sql}),
        j0 AS (
            SELECT u.{keys_sql}, idx, ca, cb,
                   ca + CAST(1 AS BIGINT) AS ca1,
                   cb + CAST(1 AS BIGINT) AS cb1,
                   na + nbuckets AS nat,
                   nb + nbuckets AS nbt
            FROM u JOIN tot ON tot.{keys_sql} = u.{keys_sql}
        ),
        {inner},
        per AS (
            SELECT {keys_sql}, idx,
                   CAST(ca AS BIGINT) AS cnt_a,
                   CAST(cb AS BIGINT) AS cnt_b,
                   CAST({lo} AS BIGINT) AS v_lo,
                   CAST({hi} AS BIGINT) AS v_hi,
                   (CAST(ca1 AS DOUBLE) / CAST(nat AS DOUBLE) -
                    CAST(cb1 AS DOUBLE) / CAST(nbt AS DOUBLE)) *
                   (l2ca - l2na - l2cb + l2nb) AS contrib
            FROM {prev}
        ),
        tt AS (
            SELECT {keys_sql},
                   list_reduce(list_prepend(CAST(0 AS DOUBLE),
                       list(contrib ORDER BY idx)),
                       (acc, x) -> acc + x) AS psi_bits
            FROM per GROUP BY {keys_sql}
        )
        SELECT per.*, psi_bits
        FROM per JOIN tt ON tt.{keys_sql} = per.{keys_sql}
    """


def hist_ks(
    tier: DataFrame, keys: list[str], ts_a: int, ts_b: int
) -> DataFrame:
    """Kolmogorov-Smirnov drift between two windows of the histogram
    sketch tier, per key group: D = max over bucket boundaries of
    |CDF_a - CDF_b|. The PSI companion (hist_psi) scores overall mass
    movement; KS pins WHERE the distributions diverge most and is the
    classic two-sample test statistic.

    Exactness: the argmax runs entirely on exact int64 cross-products
    |cum_a * n_b - cum_b * n_a| (no float compare can reorder winners;
    ties broken by smallest bucket idx), and the returned D is ONE
    shared division of the winning integer pair. NULL when either
    window is empty for the key.

    Scale notes: one full-outer join of the two |keys| x 256-bucket
    slices, one cumulative window per key, one top-1 window — all
    sketch-sized, never data-sized (the whole point of the tier)."""
    from pyspark.sql import Window

    a = tier.where(F.col("bucket_ts") == ts_a).select(
        *keys, "idx", F.col("cnt").alias("ca")
    )
    b = tier.where(F.col("bucket_ts") == ts_b).select(
        *keys, "idx", F.col("cnt").alias("cb")
    )
    u = (
        a.join(b, [*keys, "idx"], "full_outer")
        .fillna(0, ["ca", "cb"])
    )
    part = Window.partitionBy(*keys)
    cum = u.select(
        *keys,
        "idx",
        F.sum("ca").over(part.orderBy("idx")).cast("long").alias("cum_a"),
        F.sum("cb").over(part.orderBy("idx")).cast("long").alias("cum_b"),
        F.sum("ca").over(part).cast("long").alias("n_a"),
        F.sum("cb").over(part).cast("long").alias("n_b"),
    ).withColumn(
        "diff", F.expr("abs(cum_a * n_b - cum_b * n_a)")
    )
    w = Window.partitionBy(*keys).orderBy(F.desc("diff"), F.asc("idx"))
    return (
        cum.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .selectExpr(
            *keys,
            "n_a",
            "n_b",
            "idx AS at_idx",
            "CASE WHEN n_a > 0 AND n_b > 0 THEN "
            "CAST(diff AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) END AS ks",
        )
    )


def duck_hist_ks_sql(
    table: str,
    keys_sql: str,
    value_expr: str,
    bucket_sql: str,
    ts_a_sql: str,
    ts_b_sql: str,
) -> str:
    """DuckDB replay of hist_tier -> hist_ks (single key column)."""
    v = f"CAST({value_expr} AS BIGINT)"
    return f"""
        WITH fine AS (
            SELECT {keys_sql}, {bucket_sql} AS bucket_ts,
                   {_hist_idx_sql(v)} AS idx, count(*) AS cnt
            FROM {table} WHERE ({value_expr}) IS NOT NULL GROUP BY ALL
        ),
        aa AS (SELECT {keys_sql}, idx, cnt AS ca FROM fine
               WHERE bucket_ts = ({ts_a_sql})),
        bb AS (SELECT {keys_sql}, idx, cnt AS cb FROM fine
               WHERE bucket_ts = ({ts_b_sql})),
        u AS (
            SELECT coalesce(aa.{keys_sql}, bb.{keys_sql}) AS {keys_sql},
                   coalesce(aa.idx, bb.idx) AS idx,
                   coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
            FROM aa FULL OUTER JOIN bb
              ON aa.{keys_sql} = bb.{keys_sql} AND aa.idx = bb.idx
        ),
        cum AS (
            SELECT {keys_sql}, idx,
                   CAST(sum(ca) OVER (PARTITION BY {keys_sql} ORDER BY idx
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_a,
                   CAST(sum(cb) OVER (PARTITION BY {keys_sql} ORDER BY idx
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_b,
                   CAST(sum(ca) OVER (PARTITION BY {keys_sql})
                       AS BIGINT) AS n_a,
                   CAST(sum(cb) OVER (PARTITION BY {keys_sql})
                       AS BIGINT) AS n_b
            FROM u
        ),
        d AS (SELECT *, abs(cum_a * n_b - cum_b * n_a) AS diff FROM cum)
        SELECT {keys_sql}, n_a, n_b, idx AS at_idx,
               CASE WHEN n_a > 0 AND n_b > 0 THEN
                   CAST(diff AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) END AS ks
        FROM d
        QUALIFY row_number() OVER (
            PARTITION BY {keys_sql} ORDER BY diff DESC, idx ASC) = 1
    """
