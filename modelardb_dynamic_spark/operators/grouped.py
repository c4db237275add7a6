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
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modelardb_dynamic_spark.config import (
    MTID_GORILLA,
    MTID_UNCOMPRESSED,
    EngineConfig,
)
from modelardb_dynamic_spark.models.gorilla import gorilla_encode
from modelardb_dynamic_spark.models.grouped import compress_group
from modelardb_dynamic_spark.models.kernels import _minmax32, _seq_sum64
from modelardb_dynamic_spark.operators.compress import _ARROW_SCHEMA, SEGMENT_SCHEMA
from modelardb_dynamic_spark.operators.reconstruct import (
    _OUT_SCHEMA,
    DATAPOINT_SCHEMA,
    decode_models,
    int64_columns,
    point_values,
)
from modelardb_dynamic_spark.operators.rollup import span_aggregates

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
    sequential split/join state machine cannot parallelize. Groups that
    provably never split run the C cascade; every other group runs the
    per-row engine at ~10-30 k member values per second per core
    (measured on the grouped_tiers and corr_grouped_tiers inputs at
    sf0.1, one core), so a 16-member group with a year of minute buckets
    takes minutes, and a group whose HISTORY is unboundedly long can pin
    a task. salt_span_points splits each group on disjoint time
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

    # unannotated: pyspark warns when only some parameters carry hints
    def fn(key, pdf):
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


def _decode_grouped(rb: pa.RecordBatch, n: np.ndarray, mtid: np.ndarray) -> tuple:
    """A grouped batch of n rows per segment decoded: per (segment, member)
    entry, in member-list order, its segment and its column in the
    segment's interleaved rows; per segment its member count; and
    decode_models of the batch."""
    seg = pc.list_parent_indices(rb.column("members")).to_numpy()
    g = np.bincount(seg, minlength=rb.num_rows)
    col = np.arange(len(seg)) - np.repeat(np.cumsum(g) - g, g)
    return seg, col, g, decode_models(rb.column("model"), mtid, n * g)


def grouped_datapoints(segments: DataFrame) -> DataFrame:
    """Reconstruct (sid, metric, ts_ms, value) from grouped segments.

    PMC/Swing models are member-shared closed forms; Gorilla/Uncompressed
    streams interleave members row-major, so member j of a g-member
    segment reads value r * g + j at row r. A batch decodes through
    reconstruct.decode_models and de-interleaves by index arithmetic inside
    one mapInArrow."""

    def fn(batches):
        for rb in batches:
            if not rb.num_rows:
                continue
            start, si, n, mtid = int64_columns(rb, "start_ts", "si", "cnt", "mtid")
            owner, col, g, dec = _decode_grouped(rb, n, mtid)
            # one point per (member, row), member-major within a segment
            rows = n[owner]
            pm = np.repeat(np.arange(len(owner)), rows)
            seg = owner[pm]
            row = np.arange(len(pm)) - np.repeat(np.cumsum(rows) - rows, rows)
            ts = start[seg] + row * si[seg]
            slot = dec.offs[seg] + row * g[seg] + col[pm]
            yield pa.RecordBatch.from_arrays(
                [
                    pc.list_flatten(rb.column("members")).take(pa.array(pm)),
                    rb.column("metric").take(pa.array(seg)),
                    pa.array(ts, type=pa.int64()),
                    pa.array(point_values(dec, mtid, seg, ts, slot)),
                ],
                schema=_OUT_SCHEMA,
            )

    return segments.mapInArrow(fn, schema=DATAPOINT_SCHEMA)


def grouped_to_segments(segments: DataFrame) -> DataFrame:
    """Adapter: grouped segments -> the standard single-series segment
    table (SEGMENT_SCHEMA), so the ENTIRE existing query surface (rollup
    tiers, datapoint view, segment-native aggregates, SQL views) runs over
    grouped storage unchanged.

    PMC/Swing models are member-shared closed forms: the model bytes copy
    through verbatim, one row per member, and the summaries are the
    rollup's closed forms over the whole segment. Gorilla/Uncompressed
    streams interleave members, so each member's column is TRANSCODED into
    its own stream (decode the batch once, re-encode per member) with the
    single-series compressor's summaries (_minmax32, _seq_sum64), so tier
    rollups over the converted table match exactly."""

    def fn(batches):
        for rb in batches:
            if not rb.num_rows:
                continue
            start, end, n, mtid = int64_columns(rb, "start_ts", "end_ts", "cnt", "mtid")
            seg, col, g, dec = _decode_grouped(rb, n, mtid)
            vmin, vmax, vsum = span_aggregates(
                dec, mtid, seg, start[seg], end[seg], n[seg]
            )
            m = mtid[seg]
            own = (m == MTID_GORILLA) | (m == MTID_UNCOMPRESSED)
            models = []
            for k in np.flatnonzero(own).tolist():
                i = seg[k]
                rows = dec.values[dec.offs[i] : dec.offs[i + 1]].reshape(n[i], g[i])
                v = np.ascontiguousarray(rows[:, col[k]])
                models.append(
                    gorilla_encode(v)[0]
                    if m[k] == MTID_GORILLA
                    else v.astype(">f4").tobytes()
                )
                vmin[k], vmax[k] = _minmax32(v)
                vsum[k] = _seq_sum64(v)
            # member-shared rows first, then the transcoded ones
            order = np.concatenate([np.flatnonzero(~own), np.flatnonzero(own)])
            idx = pa.array(seg[order])
            shared = rb.column("model").take(pa.array(seg[~own]))
            yield pa.RecordBatch.from_arrays(
                [
                    pc.list_flatten(rb.column("members")).take(pa.array(order)),
                    *(rb.column(c).take(idx) for c in (
                        "metric", "start_ts", "end_ts", "si", "mtid",
                    )),
                    pa.concat_arrays([shared, pa.array(models, pa.binary())]),
                    rb.column("cnt").take(idx),
                    pa.array(vmin[order]),
                    pa.array(vmax[order]),
                    pa.array(vsum[order]),
                ],
                schema=_ARROW_SCHEMA,
            )

    return segments.mapInArrow(fn, schema=SEGMENT_SCHEMA)


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
