"""Raw-tier irregular-timestamp archive: delta-of-delta blobs per key.

The segment store (operators/compress.py) covers values on a regular
grid; the raw tier's ARRIVAL times (turn timestamps per conversation,
event times per user) are irregular and survive only as plain int64
columns. These operators archive them through models/dod.py — the
delta-of-delta codec of the north-star model family — as one compact
blob per key, and restore them exactly.

Spark shape (same idiom as operators/compress.py, which measured
Arrow-native batches 33x faster than pandas keys for many small groups):

    df.repartition(key).sortWithinPartitions(key, ts)
      .mapInArrow(encode_groups)            -> (key, n_pts, ts_blob)
    blobs.mapInArrow(decode_rows)           -> (key, seq, ts)

Both directions are Arrow-batched with numpy kernels per group — no
per-row Python. Encode groups come from operators/keyruns.py:key_runs,
so the result is independent of Arrow batch size. Scale: one blob per key
(~0.25-4.25 B/point) makes the archive orders smaller than the raw
column; keys shuffle once, and restore is embarrassingly parallel (each
blob decodes alone, no shuffle).

No counterpart in /root/reference — the reference buckets timestamps to
the sampling interval before storage and never keeps irregular arrivals
(core/timeseries/TimeSeriesCSV.java parses straight onto the grid).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from modelardb_dynamic_spark.models.dod import decode_ts, encode_ts
from modelardb_dynamic_spark.operators.keyruns import key_runs


def compress_times(df: DataFrame, key_col: str, ts_col: str) -> DataFrame:
    """(key, ts int64) rows -> one (key, n_pts, ts_blob) row per key.

    Timestamps are sorted per key before encoding (the codec requires
    monotone input); any int64 unit (ms, us) works unchanged.
    """
    key_type = df.schema[key_col].dataType.simpleString()
    out_schema = f"{key_col} {key_type}, n_pts long, ts_blob binary"
    key_pa = pa.int64() if key_type == "bigint" else pa.string()
    arrow_schema = pa.schema(
        [(key_col, key_pa), ("n_pts", pa.int64()), ("ts_blob", pa.binary())]
    )

    def encode_groups(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for groups in key_runs(batches, (key_col,), {ts_col: np.int64}):
            if not groups:
                continue
            ts = [np.sort(t, kind="stable") for _, (t,) in groups]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([k for (k,), _ in groups], type=key_pa),
                    pa.array([len(t) for t in ts], type=pa.int64()),
                    pa.array([encode_ts(t) for t in ts], type=pa.binary()),
                ],
                schema=arrow_schema,
            )

    return (
        df.select(key_col, ts_col)
        .repartition(key_col)
        .sortWithinPartitions(key_col, ts_col)
        .mapInArrow(encode_groups, out_schema)
    )


def restore_times(df: DataFrame, key_col: str, ts_name: str = "ts") -> DataFrame:
    """(key, n_pts, ts_blob) -> (key, seq, ts) exploded rows; seq is the
    0-based position in per-key timestamp order. No shuffle: each blob
    decodes independently inside its partition."""
    key_type = df.schema[key_col].dataType.simpleString()
    out_schema = f"{key_col} {key_type}, seq long, {ts_name} long"
    key_pa = pa.int64() if key_type == "bigint" else pa.string()
    arrow_schema = pa.schema(
        [(key_col, key_pa), ("seq", pa.int64()), (ts_name, pa.int64())]
    )

    def decode_rows(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            kc = rb.column(key_col)
            bc = rb.column("ts_blob")
            ts_parts: list[np.ndarray] = []
            seq_parts: list[np.ndarray] = []
            lens: list[int] = []
            for i in range(rb.num_rows):
                t = decode_ts(bc[i].as_py())
                ts_parts.append(t)
                seq_parts.append(np.arange(len(t), dtype=np.int64))
                lens.append(len(t))
            if not ts_parts:
                continue
            keys = kc.take(
                pa.array(
                    np.repeat(np.arange(rb.num_rows, dtype=np.int64), lens)
                )
            )
            yield pa.RecordBatch.from_arrays(
                [
                    keys.cast(key_pa),
                    pa.array(np.concatenate(seq_parts), type=pa.int64()),
                    pa.array(np.concatenate(ts_parts), type=pa.int64()),
                ],
                schema=arrow_schema,
            )

    return df.mapInArrow(decode_rows, out_schema)


def compress_points(
    df: DataFrame, key_col: str, ts_col: str, val_col: str
) -> DataFrame:
    """The complete raw-tier archive: (key, ts int64, value double) rows
    -> one (key, n_pts, ts_blob, val_blob) row per key, timestamps
    through the DoD codec (models/dod.py) and values through the ALP
    codec (models/alp.py) — both planar/byte-aligned so encode is pure
    numpy inside Arrow batches. Points sort per key by (ts, value-bits):
    ts order is what DoD requires; the value-BITS tiebreak (u64 view)
    keeps duplicate-timestamp blobs deterministic even with NaNs, which
    float comparisons would order engine-dependently. Restore
    (restore_points) returns the exact (key, ts, value) multiset — any
    bit lost anywhere breaks pairing and fails the value gate.

    Scale: one shuffle on key, then map-side encode; blob size is
    ~0.25-4 B/ts + 1-8 B/value (data-bound, RAW fallback capped at
    8 B/value), against 16 B/point raw columns."""
    from modelardb_dynamic_spark.models.alp import encode_values

    key_type = df.schema[key_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_type}, n_pts long, ts_blob binary, val_blob binary"
    )
    key_pa = pa.int64() if key_type == "bigint" else pa.string()
    arrow_schema = pa.schema(
        [
            (key_col, key_pa),
            ("n_pts", pa.int64()),
            ("ts_blob", pa.binary()),
            ("val_blob", pa.binary()),
        ]
    )

    def encode_groups(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        for groups in key_runs(
            batches, (key_col,), {ts_col: np.int64, val_col: "<f8"}
        ):
            if not groups:
                continue
            keys, ns, tblobs, vblobs = [], [], [], []
            for (key,), (t, v) in groups:
                order = np.lexsort((v.view("<u8"), t))
                t, v = t[order], v[order]
                keys.append(key)
                ns.append(len(t))
                tblobs.append(encode_ts(t))
                vblobs.append(encode_values(v))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(keys, type=key_pa),
                    pa.array(ns, type=pa.int64()),
                    pa.array(tblobs, type=pa.binary()),
                    pa.array(vblobs, type=pa.binary()),
                ],
                schema=arrow_schema,
            )

    return (
        df.select(key_col, ts_col, val_col)
        .repartition(key_col)
        .sortWithinPartitions(key_col, ts_col, val_col)
        .mapInArrow(encode_groups, out_schema)
    )


def restore_points(
    df: DataFrame, key_col: str, ts_name: str = "ts", val_name: str = "value"
) -> DataFrame:
    """(key, n_pts, ts_blob, val_blob) -> (key, ts, value) exploded rows,
    bit-exact. No shuffle: each blob pair decodes independently."""
    from modelardb_dynamic_spark.models.alp import decode_values

    key_type = df.schema[key_col].dataType.simpleString()
    out_schema = f"{key_col} {key_type}, {ts_name} long, {val_name} double"
    key_pa = pa.int64() if key_type == "bigint" else pa.string()
    arrow_schema = pa.schema(
        [
            (key_col, key_pa),
            (ts_name, pa.int64()),
            (val_name, pa.float64()),
        ]
    )

    def decode_rows(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            kc = rb.column(key_col)
            tb = rb.column("ts_blob")
            vb = rb.column("val_blob")
            ts_parts: list[np.ndarray] = []
            v_parts: list[np.ndarray] = []
            lens: list[int] = []
            for i in range(rb.num_rows):
                t = decode_ts(tb[i].as_py())
                v = decode_values(vb[i].as_py())
                if len(t) != len(v):
                    raise ValueError(
                        f"blob pair length mismatch: {len(t)} ts vs "
                        f"{len(v)} values"
                    )
                ts_parts.append(t)
                v_parts.append(v)
                lens.append(len(t))
            if not ts_parts:
                continue
            keys = kc.take(
                pa.array(
                    np.repeat(np.arange(rb.num_rows, dtype=np.int64), lens)
                )
            )
            yield pa.RecordBatch.from_arrays(
                [
                    keys.cast(key_pa),
                    pa.array(np.concatenate(ts_parts), type=pa.int64()),
                    pa.array(np.concatenate(v_parts), type=pa.float64()),
                ],
                schema=arrow_schema,
            )

    return df.mapInArrow(decode_rows, out_schema)
