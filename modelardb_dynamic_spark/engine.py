"""ModelarEngine — the user-facing query surface.

Parity with the reference's two SQL-visible tables and its interface layer
(SURVEY.md §1.2, §2.8):

- `Segment` temp view  (engines/spark/ViewSegment.scala:34-41): one row per
  segment with the materialized summary columns (cnt, vmin, vmax, vsum) —
  the reference computes those at query time with UDAF-over-model-objects
  (SparkUDAF.scala:348-401); here they are plain columns, so the UDAF
  family maps to ordinary SQL:

      COUNT_S(#)                -> SUM(cnt)
      MIN_S(#) / MAX_S(#)       -> MIN(vmin) / MAX(vmax)
      SUM_S(#)                  -> SUM(vsum)
      AVG_S(#)                  -> SUM(vsum) / SUM(cnt)

  sql() applies those rewrites textually, mirroring Interface.scala:140-143
  ('#' -> the segment column list).
- `DataPoint` temp view (engines/spark/ViewDataPoint.scala:29-33): the
  virtual reconstruction. NOTE: SQL predicates on this view cannot be
  pushed below the Python decode barrier (Catalyst stops at mapInArrow) —
  the reference has the same problem and solves it with a filter rewrite
  (ViewDataPoint.scala:47-73); our equivalent is the datapoints(lo, hi)
  method, which prunes segments by overlap (and a sid list to its hash
  buckets) BEFORE decoding. Use the method for time-ranged or per-series
  point queries; the view for full scans / exploration (it always decodes
  in a distributed mapInArrow).
- datapoints() plans its decode like a broadcast join: when the pruned
  segment scan's input size is at or below
  spark.sql.autoBroadcastJoinThreshold, a JVM-only toArrow() job collects
  the segments and the driver decodes them (no Python-worker round trip);
  otherwise, or when the threshold is -1 or the plan is not a scan of
  files or local rows (e.g. compress() output, whose size Spark cannot
  bound through its Python UDF), the decode stays distributed. The
  decoded points are bounded by the same threshold
  (reconstruct.decode_on_driver). For a parquet read the size is that of
  the files left after partition pruning (a sid list's buckets), before
  row-group pruning, so it errs toward the distributed path.
- An HTTP endpoint equivalent lives in tools/serve.py (Interface.scala
  :9999 POST -> JSON rows).

Derived time series (Main.scala:94-101, CodeGenerator.scala:186-197):
register_derived() adds a virtual series = transform(value) of a source
series, materialized only at query time as a projection.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from modelardb_dynamic_spark.config import EngineConfig
from modelardb_dynamic_spark.operators.reconstruct import (
    datapoint_view,
    decode_on_driver,
    overlapping,
)
from modelardb_dynamic_spark.operators.rollup import calendar_agg, gap_fill, rollup
from modelardb_dynamic_spark.sources.catalog import sid_bucket

_SEGMENT_COLS = "sid, metric, start_ts, end_ts, si, mtid, model, cnt, vmin, vmax, vsum"

_UDAF_REWRITES = [
    (re.compile(r"COUNT_S\s*\(\s*#\s*\)", re.I), "SUM(cnt)"),
    (re.compile(r"MIN_S\s*\(\s*#\s*\)", re.I), "MIN(vmin)"),
    (re.compile(r"MAX_S\s*\(\s*#\s*\)", re.I), "MAX(vmax)"),
    (re.compile(r"SUM_S\s*\(\s*#\s*\)", re.I), "SUM(vsum)"),
    (re.compile(r"AVG_S\s*\(\s*#\s*\)", re.I), "(SUM(vsum) / SUM(cnt))"),
    (re.compile(r"#"), _SEGMENT_COLS),
]

# optimized-plan nodes of a pruned scan of files or of local rows, the only
# plans whose sizeInBytes (the files' or the rows' size) bounds their output
_SCAN_NODES = frozenset({"Filter", "Project", "LogicalRelation", "LocalRelation"})


def _scan_size(df: DataFrame) -> int | None:
    """The input size of df when its optimized plan is a pruned scan of
    files or local rows, else None. Above any other node, e.g. the Python
    UDF of compress() output, Spark passes its input's size through
    unchanged, which says nothing about the rows the node returns.

    For local rows it is Catalyst's sizeInBytes. For files it is the size
    of the files the physical scan selects after partition pruning, which
    the driver lists while planning: sizeInBytes of a path-based read
    counts every file of the table, so a one-sid read of one bucket would
    be estimated at the whole table."""
    qe = df._jdf.queryExecution()
    plan = qe.optimizedPlan()
    todo, names = [plan], set()
    while todo:
        node = todo.pop()
        names.add(node.nodeName())
        if node.nodeName() not in _SCAN_NODES:
            return None
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    if "LogicalRelation" in names:
        scan = qe.sparkPlan().collectLeaves().head()
        return int(scan.selectedPartitions().totalFileSize())
    return int(plan.stats().sizeInBytes())


class ModelarEngine:
    """Query facade over a segment table (any DataFrame with the engine's
    segment schema — an Iceberg/parquet tier table or a fresh compress()
    output)."""

    def __init__(self, spark: SparkSession, segments: DataFrame, cfg: EngineConfig):
        self.spark = spark
        self.segments = segments
        self.cfg = cfg
        self._derived: dict[str, tuple[str, Column]] = {}

    # -- views ---------------------------------------------------------------

    def register_views(self) -> None:
        """Register the Segment and DataPoint temp views."""
        self.segments.createOrReplaceTempView("Segment")
        self._datapoints_all().createOrReplaceTempView("DataPoint")

    def _datapoints_all(self) -> DataFrame:
        pts = datapoint_view(self.segments)
        for name, (src_metric, transform) in self._derived.items():
            d = pts.where(F.col("metric") == src_metric).select(
                "sid",
                F.lit(name).alias("metric"),
                "ts_ms",
                transform.alias("value"),
            )
            pts = pts.unionByName(d)
        return pts

    # -- queries -------------------------------------------------------------

    def sql(self, query: str) -> DataFrame:
        """Interface.execute parity: '#'-family rewrites, then Spark SQL."""
        for pat, repl in _UDAF_REWRITES:
            query = pat.sub(repl, query)
        return self.spark.sql(query)

    def datapoints(
        self, lo_ms: int | None = None, hi_ms: int | None = None,
        sids: list[str] | None = None,
    ) -> DataFrame:
        """Pruned point reconstruction: segment overlap filter (pushed to
        the storage scan) -> decode -> exact re-filter (the reference's
        two-phase ViewDataPoint shape).

        A sid list also filters sbucket to the sids' hash buckets, a
        partition filter, when the segments come from Warehouse.read
        (its `sid` column carries {"n_buckets": N}). The decode is planned
        like a broadcast: if the pruned scan's input size (_scan_size) is at
        or below spark.sql.autoBroadcastJoinThreshold, the segments are
        collected and decoded on the driver into a local DataFrame;
        otherwise (threshold -1, a larger scan, or a plan that is not a
        scan of files or local rows) the decode runs as a distributed
        mapInArrow. The local path runs its collect job when called, and
        decoded points above the same threshold go back through that
        mapInArrow, so the driver never holds more."""
        segs = self.segments
        if sids is not None:
            segs = segs.where(F.col("sid").isin(sids))
            n = segs.schema["sid"].metadata.get("n_buckets")
            if n is not None and "sbucket" in segs.columns:
                segs = segs.where(
                    F.col("sbucket").isin([sid_bucket(F.lit(s), n) for s in sids])
                )
        limit = self.spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        pruned = overlapping(segs, lo_ms, hi_ms)
        size = _scan_size(pruned) if limit >= 0 else None
        if size is not None and size <= limit:
            return decode_on_driver(self.spark, pruned.toArrow(), lo_ms, hi_ms, limit)
        return datapoint_view(segs, lo_ms, hi_ms)

    def rollup(self, bucket_ms: int, gap_filled: bool = False) -> DataFrame:
        tier = rollup(self.segments, bucket_ms)
        return gap_fill(tier, bucket_ms) if gap_filled else tier

    def calendar(self, field: str, finest_tier: DataFrame | None = None) -> DataFrame:
        from modelardb_dynamic_spark.operators.rollup import _CALENDAR_FIELDS

        _, finest_ms = _CALENDAR_FIELDS[field]
        tier = finest_tier if finest_tier is not None else rollup(self.segments, finest_ms)
        return calendar_agg(tier, field)

    # -- derived series (virtual, share stored segments) ----------------------

    def register_derived(
        self, name: str, source_metric: str, transform: Column
    ) -> None:
        """Add a derived series: same segments, projected value transform
        (reference derived time series, Storage.scala:130-147). transform
        is a Column over F.col('value')."""
        self._derived[name] = (source_metric, transform)
        self.register_views()
