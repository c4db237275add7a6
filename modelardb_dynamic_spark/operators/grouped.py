"""Spark operators for GROUPED model compression (multi-series groups with
dynamic split/join) and correlation-based group assignment.

Scale shape: group assignment is a broadcast join (the sid->gid map is tiny
next to the point data); compression shuffles once on (gid, metric) and
runs the sequential split/join state machine per group inside
applyInPandas — a group is always processed by ONE task, exactly like the
reference's per-group SegmentGenerator (core/SegmentGenerator.java), so no
cross-partition coordination exists at any scale. Group sizes are capped
(max_members) so a pathological correlation bucket cannot create a
straggler task.

Correlation grouping re-expresses core/Partitioner.java:98-127 +
core/Correlation.java Spark-first: instead of config-declared dimension
distances, series are bucketed by a quantized value signature at K probe
timestamps — series whose probe values land in the same
(1 + 2*error_bound) log-scale cell for every probe share a group. This is
a linear groupBy (no pairwise comparison), and a wrong grouping is
self-correcting: the dynamic split machinery severs uncorrelated members
at ingest time.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modelardb_dynamic_spark.config import EngineConfig
from modelardb_dynamic_spark.models.grouped import compress_group

GROUP_SEGMENT_SCHEMA = (
    "gid long, metric string, start_ts long, end_ts long, si int, mtid int, "
    "model binary, cnt long, members array<string>"
)


def correlation_groups(
    series: DataFrame,
    cfg: EngineConfig,
    n_probes: int = 8,
    max_members: int = 16,
) -> DataFrame:
    """(sid, metric, gid): group assignment by quantized probe signature.

    Probe timestamps are the first n_probes grid buckets OF EACH SERIES
    (its own first n buckets, not the corpus-wide first n — a series that
    starts late still gets a full signature and therefore a gid; the
    reference likewise ingests every configured series regardless of how
    its grouping turns out, core/Partitioner.java:30-96). The signature
    quantizes each probe value onto a log scale with cell width
    (1 + 2*eb/100) — any two series within 2*eb of each other at a probe
    land at most one cell apart, and identical-signature series are
    grouped. Sign is encoded in the cell's low bit (cell*2 + (v<0)), so
    +v and -v never share a cell even in the magnitude band where
    floor(log|v|) == 0; exact zero gets its own sentinel cell (the
    reference's percentageError treats real==0 as matched only by
    approx==0, core/models/ModelType.java). One groupBy, no pairwise
    joins; groups are capped at max_members via a row_number sub-split.

    Scale shape: per-series t0 is a catalog-sized aggregate (one row per
    series — the reference holds this catalog in driver memory,
    Storage.scala) broadcast back onto the points; the signature itself
    is one groupBy over the probe rows only."""
    si = cfg.sampling_interval_ms
    eb = max(cfg.error_bound, 0.01)
    base = np.log1p(2.0 * eb / 100.0)
    t0 = series.groupBy("sid", "metric").agg(F.min("ts_ms").alias("t0"))
    probed = series.join(F.broadcast(t0), ["sid", "metric"]).where(
        F.col("ts_ms") < F.col("t0") + n_probes * si
    )
    probe_idx = ((F.col("ts_ms") - F.col("t0")) / si).cast("int")
    cell = F.when(
        F.col("value") == 0, F.lit(1 << 40)
    ).otherwise(
        F.floor(F.log(F.abs(F.col("value")) + F.lit(1e-9)) / base) * 2
        + F.when(F.col("value") < 0, 1).otherwise(0)
    )
    sig = (
        probed.groupBy("sid", "metric")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(probe_idx.alias("i"), cell.alias("c")))
            ).alias("cells")
        )
        .withColumn(
            "sig",
            F.xxhash64(F.to_json(F.col("cells"))),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("metric", "sig").orderBy("sid")
    return (
        sig.withColumn("sub", ((F.row_number().over(w) - 1) / max_members).cast("long"))
        .withColumn("gid", F.xxhash64("metric", "sig", "sub"))
        .select("sid", "metric", "gid")
    )


def compress_grouped(
    series: DataFrame,
    groups: DataFrame,
    cfg: EngineConfig,
    split_fraction: float = 10.0,
    salt_span_points: int | None = None,
) -> DataFrame:
    """Compress (sid, metric, ts_ms, value) rows as multi-series groups.

    groups: (sid, metric, gid). Output: one row per grouped segment with
    the member sids that share its model (dynamic split/join decides the
    membership per segment, bit-identically to the reference — see
    models/grouped.py).

    The join with the group map is a LEFT join with a singleton-gid
    fallback: a series the grouping pass missed (however that happens)
    must still be ingested, never silently dropped — the reference
    ingests every configured series regardless of grouping
    (core/Partitioner.java:30-96). Fallback gids are xxhash64(sid,
    metric); a 64-bit collision with a real gid is negligible and would
    only co-group, never lose data.

    Skew / hot groups: one (gid, metric) is always ONE task — the
    sequential split/join state machine cannot parallelize. The measured
    per-task ceiling is high (windowed C fast path: 1.5-13 M member-rows
    per second per core, so a 16-member group with a year of minute
    buckets is ~5s), but a group whose HISTORY is unboundedly long can
    still pin a task. salt_span_points splits each group on disjoint time
    ranges (salt = ts_ms // span) that compress independently, like the
    single-series salting in operators/compress.py. Semantics: a salt
    boundary cold-starts the group engine — every member flushes (the
    gap-flush rule at range edges) and the split/join adaptivity state
    (ratio average, join schedule) resets per range. Reconstruction and
    error bounds are unaffected; only segment boundaries and the
    split/join timeline can differ from the unsalted run, which the
    reference has no equivalent knob for (it is an opt-in scale guard)."""
    si = cfg.sampling_interval_ms
    df = series.join(F.broadcast(groups), ["sid", "metric"], "left").withColumn(
        "gid", F.coalesce(F.col("gid"), F.xxhash64("sid", "metric"))
    )
    keys: list = ["gid", "metric"]
    if salt_span_points:
        span_ms = salt_span_points * si
        keys = keys + [
            (F.col("ts_ms") / span_ms).cast("long").alias("salt")
        ]

    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        gid, metric = int(key[0]), key[1]
        sids = sorted(pdf["sid"].unique())
        col_of = {s: j for j, s in enumerate(sids)}
        ts = np.sort(pdf["ts_ms"].unique()).astype(np.int64)
        pos = np.searchsorted(ts, pdf["ts_ms"].to_numpy())
        V = np.full((len(ts), len(sids)), np.nan, dtype=np.float32)
        V[pos, pdf["sid"].map(col_of).to_numpy()] = pdf["value"].to_numpy()
        segs = compress_group(ts, V, cfg, split_fraction)
        return pd.DataFrame(
            {
                "gid": np.full(len(segs), gid, dtype=np.int64),
                "metric": metric,
                "start_ts": [s.start_ts for s in segs],
                "end_ts": [s.end_ts for s in segs],
                "si": np.full(len(segs), si, dtype=np.int32),
                "mtid": np.array([s.mtid for s in segs], dtype=np.int32),
                "model": [s.model for s in segs],
                "cnt": np.array([s.cnt for s in segs], dtype=np.int64),
                "members": [[sids[m - 1] for m in s.members] for s in segs],
            }
        )

    return df.groupBy(*keys).applyInPandas(fn, schema=GROUP_SEGMENT_SCHEMA)


def grouped_datapoints(segments: DataFrame) -> DataFrame:
    """Reconstruct (sid, metric, ts_ms, value) from grouped segments.

    PMC/Swing models are member-shared closed forms; Gorilla/Uncompressed
    streams interleave members row-major and de-interleave here. Decoding
    is per-segment vectorized numpy inside mapInPandas."""
    from modelardb_dynamic_spark.config import (
        MTID_GORILLA,
        MTID_PMC_MEAN,
        MTID_SWING,
        MTID_UNCOMPRESSED,
    )
    from modelardb_dynamic_spark.models.gorilla import gorilla_decode
    from modelardb_dynamic_spark.models.kernels import swing_decode

    def fn(batches):
        for pdf in batches:
            sid_out, met_out, ts_out, val_out = [], [], [], []
            for row in pdf.itertuples(index=False):
                members = list(row.members)
                g = len(members)
                n = int(row.cnt)
                ts = np.arange(n, dtype=np.int64) * row.si + row.start_ts
                if row.mtid == MTID_PMC_MEAN:
                    val = np.frombuffer(row.model, dtype=">f4")[0]
                    V = np.full((n, g), val, dtype=np.float32)
                elif row.mtid == MTID_SWING:
                    a, b = swing_decode(bytes(row.model))
                    line = (a * ts.astype(np.float64) + b).astype(np.float32)
                    V = np.repeat(line[:, None], g, axis=1)
                elif row.mtid == MTID_GORILLA:
                    flat = gorilla_decode(bytes(row.model), n * g)
                    V = flat.reshape(n, g)
                elif row.mtid == MTID_UNCOMPRESSED:
                    flat = np.frombuffer(row.model, dtype=">f4")[: n * g]
                    V = flat.reshape(n, g).astype(np.float32)
                else:  # pragma: no cover
                    raise ValueError(f"unknown mtid {row.mtid}")
                for j, sid in enumerate(members):
                    sid_out.append(np.repeat(sid, n))
                    met_out.append(np.repeat(row.metric, n))
                    ts_out.append(ts)
                    val_out.append(V[:, j])
            if sid_out:
                yield pd.DataFrame(
                    {
                        "sid": np.concatenate(sid_out),
                        "metric": np.concatenate(met_out),
                        "ts_ms": np.concatenate(ts_out),
                        "value": np.concatenate(val_out),
                    }
                )

    return segments.mapInPandas(
        fn, schema="sid string, metric string, ts_ms long, value float"
    )


def grouped_to_segments(segments: DataFrame) -> DataFrame:
    """Adapter: grouped segments -> the standard single-series segment
    table (SEGMENT_SCHEMA), so the ENTIRE existing query surface (rollup
    tiers, datapoint view, segment-native aggregates, SQL views) runs over
    grouped storage unchanged.

    PMC/Swing models are member-shared closed forms — the model bytes copy
    through verbatim, one row per member. Gorilla/Uncompressed streams
    interleave members, so each member's column is TRANSCODED into its own
    stream (decode interleaved once, re-encode per member); summaries use
    the same formulas as the single-series compressor so tier rollups over
    the converted table match exactly."""
    from modelardb_dynamic_spark.config import MTID_GORILLA, MTID_UNCOMPRESSED
    from modelardb_dynamic_spark.models.gorilla import gorilla_decode, gorilla_encode
    from modelardb_dynamic_spark.models.kernels import _emit
    from modelardb_dynamic_spark.operators.compress import SEGMENT_SCHEMA

    cols = (
        "sid", "metric", "start_ts", "end_ts", "si", "mtid", "model", "cnt",
        "vmin", "vmax", "vsum",
    )

    def fn(batches):
        for pdf in batches:
            rows = {k: [] for k in cols}
            for r in pdf.itertuples(index=False):
                members = list(r.members)
                g = len(members)
                n = int(r.cnt)
                mtid = int(r.mtid)
                if mtid not in (MTID_GORILLA, MTID_UNCOMPRESSED):
                    seg = _emit(
                        mtid, bytes(r.model), r.start_ts, r.end_ts, None, n
                    )
                    per_member = [seg] * g
                else:
                    if mtid == MTID_GORILLA:
                        flat = gorilla_decode(bytes(r.model), n * g)
                    else:
                        flat = np.frombuffer(bytes(r.model), dtype=">f4")[
                            : n * g
                        ].astype(np.float32)
                    V = flat.reshape(n, g)
                    per_member = []
                    for j in range(g):
                        col = np.ascontiguousarray(V[:, j])
                        if mtid == MTID_GORILLA:
                            m, _ = gorilla_encode(col)
                        else:
                            m = col.astype(">f4").tobytes()
                        per_member.append(
                            _emit(mtid, m, r.start_ts, r.end_ts, col, n)
                        )
                for sid, seg in zip(members, per_member):
                    for k, x in zip(cols, (
                        sid, r.metric, r.start_ts, r.end_ts, r.si, mtid,
                        seg.model, n, seg.vmin, seg.vmax, seg.vsum,
                    )):
                        rows[k].append(x)
            if rows["sid"]:
                yield pd.DataFrame(rows)

    return segments.mapInPandas(fn, schema=SEGMENT_SCHEMA)


def grouped_compression_stats(segments: DataFrame) -> DataFrame:
    """Corpus ratio for grouped segments: raw bytes = 16 per data POINT
    (cnt * members), stored = 24 + model bytes per segment (the reference
    formula, ModelType.java:65-70)."""
    return segments.agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("cnt") * F.size("members")).alias("n_points"),
        (
            16.0
            * F.sum(F.col("cnt") * F.size("members"))
            / F.sum(F.length("model") + F.lit(24))
        ).alias("compression_ratio"),
    )
