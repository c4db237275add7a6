"""Warehouse catalog: bucketed parquet tables with atomic-rename commits.

Deployment note (the Iceberg story): at cluster scale these tables are
Iceberg tables — `bucket(N, sid)` partition transform, sorted by
(sid, metric, start_ts), snapshot-isolated commits, and
`rewrite_data_files` replacing the reference's hand-rolled compaction
(storage/FileStorage.scala:126-259). The sandbox image ships no Iceberg
jars, so the warehouse keeps the same layout and commit discipline on
plain parquet: hash-bucket directories (`sbucket=K`), each written to a
temp directory and installed by the journaled rename of
plans/checkpoint.py (TierPipeline._run_stage). Every table is parquet;
ORC is an input format only (readers.series_from_orc). The Iceberg
wiring itself lives in `sources/iceberg.py`; nothing here attempts it,
so a runtime with iceberg-spark on the classpath still writes these
parquet tables.

The bucket layout mirrors the reference's Cassandra physical model —
PRIMARY KEY (gid, start_time): all segments of one series live in one
bucket, clustered by time (storage/CassandraStorage.scala:78).

Metadata comes from the parquet footers on the driver, never from a Spark
job: `footer_schema` gives the Spark schema every read passes to
`spark.read.schema`, `footer_stats` gives the per-bucket row counts and
event-time high-water marks the lineage manifests record, and `file_stats`
their part-file bytes and counts — the role of
ModelarDB's per-segment metadata, and of the per-file row counts and
column bounds an Iceberg manifest plans from.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructType

DEFAULT_BUCKETS = 32

# footer key under which Spark's parquet writer stores the row schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_MS_PER_UNIT = {"milliseconds": 1, "microseconds": 1_000, "nanoseconds": 1_000_000}


def _part_files(d: str) -> list[str]:
    return sorted(
        e.path for e in os.scandir(d) if e.is_file() and e.name.endswith(".parquet")
    )


def _bucket_dirs(root: str) -> dict[int, str]:
    """{K: path} of the sbucket=K directories directly under root."""
    out = {}
    if not os.path.isdir(root):
        return out
    for e in os.scandir(root):
        name = e.name
        if e.is_dir() and name.startswith("sbucket=") and name[8:].isdigit():
            out[int(name[8:])] = e.path
    return dict(sorted(out.items()))


def footer_rows(path: str) -> int:
    """Rows in the parquet part files directly under path, from footers."""
    return sum(pq.read_metadata(f).num_rows for f in _part_files(path))


def footer_schema(path: str) -> StructType | None:
    """The Spark schema of the parquet table at path, from the footer of one
    part file (Spark's writer stores it under SPARK_SCHEMA_KEY), with
    `sbucket int` appended when the files sit in sbucket=K directories.
    None when there is no part file or the key is missing (a file not
    written by Spark); callers then let Spark infer."""
    if not os.path.isdir(path):
        return None
    files, bucketed = _part_files(path), False
    if not files:
        for d in _bucket_dirs(path).values():
            files = _part_files(d)
            if files:
                bucketed = True
                break
    if not files:
        return None
    raw = (pq.read_metadata(files[0]).metadata or {}).get(SPARK_SCHEMA_KEY)
    if raw is None:
        return None
    schema = StructType.fromJson(json.loads(raw))
    return schema.add("sbucket", IntegerType()) if bucketed else schema


def footer_stats(chunk_dir: str, ts_col: str) -> dict[int, tuple[int, int | None]] | None:
    """{bucket: (rows, high-water ms)} for the sbucket=K directories under
    chunk_dir, from parquet footers alone. Rows are the files' num_rows;
    the high-water is the largest row-group max of ts_col, floor-divided
    to ms for a TIMESTAMP column (UTC-adjusted or NTZ) — unix_millis'
    rounding, before epoch 0 too. All-null row groups are skipped, so an
    all-null bucket has high-water None. Returns None when ts_col is
    missing or a row group has no min/max statistics (INT96 timestamps
    never do): the caller must then scan."""
    out = {}
    for b, d in _bucket_dirs(chunk_dir).items():
        rows, hw = 0, None
        for f in _part_files(d):
            md = pq.read_metadata(f)
            rows += md.num_rows
            paths = [md.schema.column(j).path for j in range(md.num_columns)]
            if ts_col not in paths:
                return None
            j = paths.index(ts_col)
            col = md.schema.column(j)
            if col.physical_type == "INT96":
                return None
            div = 1
            if col.logical_type is not None and col.logical_type.type == "TIMESTAMP":
                div = _MS_PER_UNIT[json.loads(col.logical_type.to_json())["timeUnit"]]
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                st = rg.column(j).statistics
                if rg.num_rows == 0 or (
                    st is not None and st.has_null_count and st.null_count == rg.num_rows
                ):
                    continue
                if st is None or not st.has_min_max:
                    return None
                v = st.max_raw // div
                hw = v if hw is None else max(hw, v)
        out[b] = (rows, hw)
    return out


def file_stats(chunk_dir: str) -> dict[int, tuple[int, int]]:
    """{bucket: (bytes, files)} of the parquet part files in the sbucket=K
    directories under chunk_dir, from the filesystem alone."""
    out = {}
    for b, d in _bucket_dirs(chunk_dir).items():
        sizes = [os.path.getsize(f) for f in _part_files(d)]
        out[b] = (sum(sizes), len(sizes))
    return out


def sid_bucket(col, n_buckets: int = DEFAULT_BUCKETS):
    """Deterministic bucket id for a series id column (hash-partitioning;
    the query side recomputes this for partition pruning)."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def unannotated(df: DataFrame) -> DataFrame:
    """df without the n_buckets metadata Warehouse.read puts on `sid`: it
    describes the table read, not what is written from it, so every
    write strips it and the footers stay as Spark writes them."""
    if "sid" not in df.columns:
        return df
    md = df.schema["sid"].metadata
    if "n_buckets" not in md:
        return df
    return df.withMetadata("sid", {k: v for k, v in md.items() if k != "n_buckets"})


class Warehouse:
    """A directory of bucketed parquet tables with atomic commits."""

    def __init__(self, root: str, n_buckets: int = DEFAULT_BUCKETS):
        self.root = root
        self.n_buckets = n_buckets
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def read(
        self, spark: SparkSession, table: str, buckets: list[int] | None = None
    ) -> DataFrame:
        """The table, or only its sbucket=K directories for K in buckets
        (sbucket still a column). Reads take their schema from the
        footers (footer_schema), so no Spark job infers it. On a bucketed
        table the `sid` column carries {"n_buckets": N} metadata: sbucket
        is sid_bucket(sid, N), so a reader holding only the DataFrame
        (ModelarEngine.datapoints) can prune a sid list to its buckets.
        Spark's file source drops metadata on the partition column itself,
        so it sits on sid, where it survives where() and select()."""
        root = self.path(table)
        reader = spark.read.option("basePath", root)
        schema = footer_schema(root)
        if schema is not None:
            reader = reader.schema(schema)
        paths = [root] if buckets is None else [
            os.path.join(root, f"sbucket={b}") for b in buckets
        ]
        df = reader.parquet(*paths)
        if "sbucket" in df.columns and "sid" in df.columns:
            df = df.withMetadata("sid", {"n_buckets": self.n_buckets})
        return df
