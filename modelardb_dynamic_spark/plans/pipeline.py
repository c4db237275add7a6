"""The retention-tier pipeline: raw -> series -> segments -> 1m -> 1h -> 1d.

Each stage is computed bucket-chunk by bucket-chunk (series-hash buckets,
consistent across all stages because every table keys on the same sid), and
every bucket commits a lineage manifest once its parquet directory is in
place — so a killed pipeline resumes mid-tier, skipping completed buckets
(plans/checkpoint.py). Chunks keep many buckets per Spark job so the
cluster stays fully parallel while bounding re-work after a crash.

STAGES below is the one place a stage is declared: its event-time column,
purge key, grid, source, and whether it is sid-keyed or an sbucket-merged
sketch. The sketch builds, append's retention floors, purge, retain, and
the routed reads all walk it instead of naming stages themselves.

Tiers (FIXTURES.md §4): tier_1m is rolled up from segments analytically;
tier_1h and tier_1d are pure columnar downsamples of the previous tier.
Retention: drop raw/segment data older than a horizon once the coarser
tiers cover it (here: filter-rewrite per bucket; Iceberg deployment:
overwrite-by-filter / partition drop).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modelardb_dynamic_spark.config import EngineConfig
from modelardb_dynamic_spark.operators.compress import compress
from modelardb_dynamic_spark.operators.rollup import downsample, gap_fill, rollup
from modelardb_dynamic_spark.plans.checkpoint import Lineage, recover_swaps, swap_in
from modelardb_dynamic_spark.sources.catalog import (
    Warehouse,
    file_stats,
    footer_rows,
    footer_stats,
    sid_bucket,
    unannotated,
)
from modelardb_dynamic_spark.sources.timeseries import to_ms, transcript_series

MINUTE_MS = 60_000
HOUR_MS = 3_600_000
DAY_MS = 86_400_000

AKEY_SEP = "\x1f"  # series_arch key: sid AKEY_SEP metric


@dataclass(frozen=True)
class Stage:
    name: str
    ts_col: str  # event time: manifest high-water, retain's filter
    # SQL expression of the conversation id purge() anti-joins on; None for
    # an sbucket-merged sketch, which cannot subtract a member and is
    # rebuilt from the purged raw instead
    key: str | None
    grid: int | None  # bucket width in ms; series: the engine's sampling grid
    source: str | None  # the stage it is built from
    # (operators/sketches.py tier function, value column) over raw turns
    sketch: tuple[str, str] | None = None


# build order; purge keeps it (raw, the other sid-keyed stages, then the
# merged sketches rebuilt from the purged raw)
STAGES = (
    Stage("raw", "ts", "conv_id", None, None),
    Stage("series", "ts_ms", "sid", None, "raw"),
    Stage("segments", "end_ts", "sid", None, "series"),
    Stage("tier_1m", "bucket_ts", "sid", MINUTE_MS, "segments"),
    Stage("tier_1h", "bucket_ts", "sid", HOUR_MS, "tier_1m"),
    Stage("tier_1d", "bucket_ts", "sid", DAY_MS, "tier_1h"),
    Stage("series_arch", "hw_ts", f"substring_index(akey, '{AKEY_SEP}', 1)",
          None, "series"),
    # p50/p90/p99 turn length per conv per hour/day (hist_quantiles)
    Stage("hist_1h", "bucket_ts", "sid", HOUR_MS, "raw", ("hist_tier", "tokens")),
    Stage("hist_1d", "bucket_ts", "sid", DAY_MS, "hist_1h"),
    # distinct turn contents per conv per day (repetition signal)
    Stage("hll_1d", "bucket_ts", "sid", DAY_MS, "raw", ("hll_tier", "text")),
    # The merged sketches summarise the ACTIVE CONVERSATION SET per day,
    # keyed by sbucket: sid_bucket partitions conversations disjointly, so
    # each warehouse bucket holds a valid partial sketch of ITS convs and
    # append() recomputes only touched buckets. cms_1d: Count-Min counters
    # (hot-conversation audit; sum across sbuckets). kmv_1d: bottom-64
    # (day-over-day overlap, which HLL registers cannot express; the
    # re-ranked union across sbuckets IS the global bottom-k). bloom_1d:
    # membership ("was conv X active on day D", no false negatives; a
    # probe consults only its own bucket's filter).
    Stage("cms_1d", "bucket_ts", None, DAY_MS, "raw", ("cms_tier", "sid")),
    Stage("kmv_1d", "bucket_ts", None, DAY_MS, "raw", ("kmv_tier", "sid")),
    Stage("bloom_1d", "bucket_ts", None, DAY_MS, "raw", ("bloom_tier", "sid")),
)
STAGE = {s.name: s for s in STAGES}
TIERS = tuple((s.name, s.grid) for s in STAGES if s.name.startswith("tier_"))


def _scan_stats(df: DataFrame, ts_col: str | None) -> dict[int, tuple[int, int | None]]:
    """{bucket: (rows, high-water ms)} by a Spark count + max-by-sbucket
    scan — fsck's audit, and the fallback for footers without column
    statistics. A timestamp or timestamp_ntz ts_col (NTZ reads in the
    session timezone, pinned UTC) becomes epoch ms; a ts_col the frame
    lacks gives no high-water."""
    aggs = [F.count(F.lit(1)).alias("rows")]
    if ts_col is not None and ts_col in df.columns:
        hw = (
            F.unix_millis(F.col(ts_col).cast("timestamp"))
            if dict(df.dtypes)[ts_col].startswith("timestamp")
            else F.col(ts_col)
        )
        aggs.append(F.max(hw).alias("hw"))
    return {
        int(r["sbucket"]): (
            int(r["rows"]),
            int(r["hw"]) if len(aggs) > 1 and r["hw"] is not None else None,
        )
        for r in df.groupBy("sbucket").agg(*aggs).collect()
    }


# SparkContext application id -> its Python worker warm-up thread
_WARMUPS: dict[str, InheritableThread] = {}


def _no_rows(batches):
    yield from ()


def _start_python_workers(spark: SparkSession) -> None:
    """Start the Python workers on a background thread while the build
    runs JVM-only stages, at most once per SparkContext: a one-row,
    one-task SQL mapInArrow, so the worker daemon it starts is the one
    compress's mapInArrow reuses (an RDD job would start a daemon of its
    own). An InheritableThread carries the caller's job group, so a traced
    build attributes the job to the stage that started it."""
    app = spark.sparkContext.applicationId
    if app in _WARMUPS:
        return
    errors: list[Exception] = []

    def run() -> None:
        try:
            spark.range(0, 1, 1, 1).mapInArrow(_no_rows, "id long").collect()
        except Exception as e:  # noqa: BLE001 -- re-raised at the join
            errors.append(e)

    t = InheritableThread(target=run, daemon=True)
    t.errors = errors
    t.start()
    _WARMUPS[app] = t


def _join_python_workers(spark: SparkSession) -> None:
    """Wait for this SparkContext's warm-up and raise its failure, once:
    a later stage call then runs its own Python job."""
    t = _WARMUPS.get(spark.sparkContext.applicationId)
    if t is not None:
        t.join()
        if t.errors:
            raise RuntimeError("starting the Python workers failed") from t.errors.pop()


class TierPipeline:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: Warehouse,
        cfg: EngineConfig,
        chunk_buckets: int = 16,
        salt_span_points: int | None = 1 << 20,
    ):
        self.spark = spark
        self.wh = warehouse
        self.cfg = cfg
        self.chunk_buckets = chunk_buckets
        self.salt_span_points = salt_span_points

    # -- stage plumbing ------------------------------------------------------

    def _run_stage(
        self,
        stage: str,
        fingerprint: str,
        build: "callable",
        fail_after_chunks: int | None = None,
        only_buckets: list[int] | None = None,
    ) -> None:
        """build(bucket_ids) -> DataFrame carrying an sbucket column.

        Writes each chunk partitioned by sbucket, installs each bucket dir
        in the stage table with the journaled swap_in (a crash at any step
        leaves the bucket whole; _recover finishes an interrupted swap
        before anything is read or rewritten), then commits one manifest per
        bucket. The manifests' rows and high-water marks (of the stage's
        STAGES ts_col) come from the chunk's parquet footers
        (footer_stats), and their bytes and file counts from the part
        files (file_stats), so no Spark job re-reads what was just written;
        only files without column statistics (legacy INT96 timestamps) are
        scanned. fail_after_chunks injects a crash for resume tests.
        only_buckets restricts the stage to a bucket subset (incremental
        append path) — untouched buckets keep their existing data AND
        manifests.
        """
        ts_col = STAGE[stage].ts_col
        root = self.wh.path(stage)
        os.makedirs(root, exist_ok=True)
        self._recover()
        lineage = Lineage(root)
        if only_buckets is not None and not lineage.metrics().get("buckets"):
            # a stage that has never been built has nothing to restrict to:
            # an incremental append on a warehouse predating this stage
            # (e.g. cms_1d added after hist/hll) must BACKFILL all buckets,
            # or untouched-bucket queries would silently answer from
            # missing counters while lineage high-water (a max over
            # existing manifests) still validated the cover
            only_buckets = None
        buckets = (
            sorted(only_buckets)
            if only_buckets is not None
            else list(range(self.wh.n_buckets))
        )
        chunks = [
            buckets[i : i + self.chunk_buckets]
            for i in range(0, len(buckets), self.chunk_buckets)
        ]
        done_chunks = 0
        for chunk in chunks:
            pending = [b for b in chunk if not lineage.is_done(b, fingerprint)]
            if not pending:
                continue
            t0 = time.time()
            df = build(pending)
            tmp = root + "." + uuid.uuid4().hex[:8] + ".tmp"
            (
                unannotated(df).where(F.col("sbucket").isin(pending))
                .write.mode("overwrite")
                .partitionBy("sbucket")
                .parquet(tmp)
            )
            # a chunk that wrote zero rows (retain/purge to empty) has no
            # sbucket dirs: every pending bucket is simply empty
            stats = footer_stats(tmp, ts_col)
            if stats is None:
                stats = _scan_stats(self.spark.read.parquet(tmp), ts_col)
            sizes = file_stats(tmp)
            wall = time.time() - t0
            for b in pending:
                src = os.path.join(tmp, f"sbucket={b}")
                swap_in(
                    src if os.path.exists(src) else None,
                    os.path.join(root, f"sbucket={b}"),
                )
                rows, hw = stats.get(b, (0, None))
                nbytes, files = sizes.get(b, (0, 0))
                lineage.commit(
                    stage, b, rows, hw, fingerprint, wall / len(pending),
                    ts_col=ts_col, nbytes=nbytes, files=files,
                )
            shutil.rmtree(tmp, ignore_errors=True)
            done_chunks += 1
            if fail_after_chunks is not None and done_chunks >= fail_after_chunks:
                raise RuntimeError(f"injected failure after {done_chunks} chunks")

    def _recover(self) -> None:
        """Finish every bucket swap a crash interrupted, in every stage
        table (checkpoint.recover_swaps): a table read mid-swap would miss
        the bucket."""
        for st in STAGES:
            if os.path.isdir(self.wh.path(st.name)):
                recover_swaps(self.wh.path(st.name))

    def _live_buckets(self, table: str, bucket_ids: list[int]) -> list[int]:
        """Buckets that actually hold parquet part files. A fully-retained
        or never-written bucket leaves an empty dir (or none), which holds
        no rows to read, so every reader of a bucket subset filters through
        this first."""
        root = self.wh.path(table)
        out = []
        for b in bucket_ids:
            d = os.path.join(root, f"sbucket={b}")
            if os.path.isdir(d) and any(
                f.endswith(".parquet") for f in os.listdir(d)
            ):
                out.append(b)
        return out

    def _read_buckets(self, table: str, bucket_ids: list[int]) -> DataFrame:
        live = self._live_buckets(table, bucket_ids)
        if live:
            return self.wh.read(self.spark, table, buckets=live)
        # every requested bucket is committed-empty (e.g. a purge or retain
        # emptied it): serve an empty frame with the table's schema, read
        # from any live bucket
        any_live = self._live_buckets(table, list(range(self.wh.n_buckets)))
        if not any_live:
            raise ValueError(f"table {table!r} has no non-empty bucket to read")
        return self.wh.read(self.spark, table, buckets=any_live[:1]).limit(0)

    def _floor(self, raw_horizon: int, stage: str) -> int:
        """The one rounding rule for retention floors: the raw horizon
        rounded UP to the stage's grid. Raw holds every bucket of the stage
        from the floor on completely, so a stage rebuilt from retained raw
        recomputes from the floor and keeps its own rows below it."""
        grid = STAGE[stage].grid or self.cfg.sampling_interval_ms
        return -(-raw_horizon // grid) * grid

    def _keep_below(
        self, new: DataFrame, stage: str, bucket_ids: list[int], floor: int
    ) -> DataFrame:
        """new plus the stage's existing rows below floor in these
        buckets (sbucket kept only if new carries it)."""
        old = self._read_buckets(stage, bucket_ids).where(
            F.col(STAGE[stage].ts_col) < floor
        )
        if "sbucket" not in new.columns:
            old = old.drop("sbucket")
        return new.unionByName(old)

    # -- stages --------------------------------------------------------------

    def ingest_raw(self, transcripts: DataFrame, fingerprint: str = "raw-v1") -> None:
        """Persist the raw tier bucketed by conv_id (per-turn text survives
        byte-identically; verified by tests under ORDER BY conv_id, turn_idx)."""

        def build(bucket_ids: list[int]) -> DataFrame:
            # the Python workers start under this JVM-only stage
            _start_python_workers(self.spark)
            # filter to the chunk, rebalance, and SORT each task by sbucket:
            # with unsorted input every scan task holds an open parquet
            # writer per bucket dir in the chunk simultaneously (writer
            # page buffers x wide text rows x tasks OOMed the 618M-turn
            # rehearsal at a 64 GB heap); sorted input lets the dynamic-
            # partition writer close each bucket's file before opening the
            # next — one open writer per task at full parallelism. The
            # Iceberg deployment states the same requirement as the
            # write.distribution-mode/sort-order table properties.
            par = self.spark.sparkContext.defaultParallelism
            return (
                transcripts.withColumn(
                    "sbucket", sid_bucket(F.col("conv_id"), self.wh.n_buckets)
                )
                .where(F.col("sbucket").isin(bucket_ids))
                .repartition(max(len(bucket_ids), 2 * par))
                .sortWithinPartitions("sbucket")
            )

        self._run_stage("raw", fingerprint, build)

    def build_series(
        self,
        fingerprint: str = "series-v1",
        only_buckets: list[int] | None = None,
        preserve_below: int | None = None,
    ) -> None:
        """preserve_below (append-after-raw-retention path): raw no longer
        holds history below the retention horizon, but the EXISTING series
        stage does — keep its rows with ts_ms < preserve_below (a grid
        boundary >= the horizon, so the straddling grid bucket's old row —
        built when history was complete — survives) and recompute only
        from raw turns at/after it. Exact as long as no new turn lands
        below preserve_below, which append() rejects."""

        def build(bucket_ids: list[int]) -> DataFrame:
            raw = self._read_buckets("raw", bucket_ids)
            if preserve_below is not None:
                raw = raw.where(to_ms("ts") >= preserve_below)
            s = transcript_series(raw, self.cfg.sampling_interval_ms)
            if preserve_below is not None:
                s = self._keep_below(s, "series", bucket_ids, preserve_below)
            return s.withColumn("sbucket", sid_bucket(F.col("sid"), self.wh.n_buckets))

        self._run_stage("series", fingerprint, build, only_buckets=only_buckets)

    def build_segments(
        self,
        fingerprint: str = "segments-v1",
        fail_after_chunks: int | None = None,
        only_buckets: list[int] | None = None,
    ) -> None:
        def build(bucket_ids: list[int]) -> DataFrame:
            _join_python_workers(self.spark)
            series = self._read_buckets("series", bucket_ids)
            segs = compress(series, self.cfg, salt_span_points=self.salt_span_points)
            return segs.withColumn(
                "sbucket", sid_bucket(F.col("sid"), self.wh.n_buckets)
            )

        self._run_stage(
            "segments", fingerprint, build,
            fail_after_chunks=fail_after_chunks, only_buckets=only_buckets,
        )

    def build_tiers(
        self,
        fingerprint: str = "tiers-v1",
        only_buckets: list[int] | None = None,
    ) -> None:
        for tier_name, bucket_ms in TIERS:
            prev = STAGE[tier_name].source

            def build(bucket_ids: list[int], prev=prev, bucket_ms=bucket_ms) -> DataFrame:
                src = self._read_buckets(prev, bucket_ids)
                # segments lie on the sampling grid (transcript_series
                # floors ts to it), so tier_1m rolls up in one pass; src is
                # a storage scan, which needs no checkpoint
                tier = (
                    rollup(
                        src, bucket_ms, materialize=False,
                        grid_ms=self.cfg.sampling_interval_ms,
                    )
                    if prev == "segments"
                    else downsample(src, bucket_ms)
                )
                return tier.withColumn(
                    "sbucket", sid_bucket(F.col("sid"), self.wh.n_buckets)
                )

            self._run_stage(tier_name, fingerprint, build, only_buckets=only_buckets)

    def _sketch_build(self, stage: str, floor: int | None, keep_old: bool):
        """The one builder of a STAGES sketch over raw turns: per sid for a
        sid-keyed stage, per sbucket for a merged one, on the stage's grid.
        With a floor only raw turns at/after it are sketched; keep_old
        keeps the stage's own rows below it (append after raw retention),
        otherwise they are dropped (purge's rebuild of a merged sketch)."""
        from modelardb_dynamic_spark.operators import sketches

        st = STAGE[stage]
        tier_fn, value_col = getattr(sketches, st.sketch[0]), st.sketch[1]
        nb = self.wh.n_buckets

        def build(bucket_ids: list[int]) -> DataFrame:
            src = self._raw_turns(bucket_ids)
            if floor is not None:
                src = src.where(f"ts_ms >= {floor}")
            if st.key is None:
                src = src.withColumn("sbucket", sid_bucket(F.col("sid"), nb))
            t = tier_fn(
                src, [st.key or "sbucket"], value_col,
                f"(ts_ms DIV {st.grid}) * {st.grid}",
            )
            if floor is not None and keep_old:
                t = self._keep_below(t, stage, bucket_ids, floor)
            if st.key is None:
                return t
            return t.withColumn("sbucket", sid_bucket(F.col("sid"), nb))

        return build

    def build_sketch_tiers(
        self,
        fingerprint: str = "sketch-v1",
        only_buckets: list[int] | None = None,
        raw_horizon: int | None = None,
    ) -> None:
        """Mergeable sketch tiers beside the cnt/vsum/vmin/vmax tiers
        (operators/sketches.py), one per STAGES entry with a sketch plus
        hist_1d, the day downsample of hist_1h: HDR histograms of per-turn
        token counts (hist_1h/hist_1d, range_quantiles), HLL distinct turn
        contents (hll_1d, range_distinct), and the per-sbucket Count-Min,
        KMV and Bloom sketches of the active conversation set (cms_1d,
        kmv_1d, bloom_1d: range_heavy, overlap_convs, active_convs).
        Built from the raw stage per bucket chunk like every other stage:
        lineage manifests, resume, and incremental append() all apply.
        raw_horizon (append after raw retention): each stage keeps its rows
        below its floor (_floor) and sketches raw only from there on."""
        from modelardb_dynamic_spark.operators.sketches import hist_downsample

        def build_hist_1d(bucket_ids: list[int]) -> DataFrame:
            t = hist_downsample(
                self._read_buckets("hist_1h", bucket_ids).drop("sbucket"),
                ["sid"], DAY_MS,
            )
            return t.withColumn("sbucket", sid_bucket(F.col("sid"), self.wh.n_buckets))

        for st in STAGES:
            if st.sketch is not None:
                floor = (
                    self._floor(raw_horizon, st.name)
                    if raw_horizon is not None else None
                )
                build = self._sketch_build(st.name, floor, keep_old=True)
            elif st.name == "hist_1d":
                build = build_hist_1d
            else:
                continue
            self._run_stage(st.name, fingerprint, build, only_buckets=only_buckets)

    def run(self, transcripts: DataFrame, sketches: bool = False) -> None:
        self.ingest_raw(transcripts)
        self.build_series()
        self.build_segments()
        self.build_tiers()
        if sketches:
            self.build_sketch_tiers()

    # -- incremental maintenance ----------------------------------------------

    def append(self, new_transcripts: DataFrame, batch_id: str) -> dict:
        """Incrementally maintain every stage for a batch of NEW, LATE, or
        REPLACED turns: upsert into raw on the (conv_id, turn_idx) turn key
        (new rows win), then recompute ONLY the series-hash buckets the
        batch touches — series, segments, and all three tiers. Untouched
        buckets keep their data and lineage manifests byte-for-byte, so
        the cost of an append is (touched buckets / total buckets) of a
        full rebuild regardless of history size; at 10^12 turns a daily
        batch touching k of 4096 buckets re-rolls only those k. This is
        also the repair path for out-of-order arrivals that land INSIDE
        already-rolled-up buckets (which range_agg's high-water routing
        deliberately does not paper over — see range_agg). Idempotent: a
        crashed-and-rerun append re-merges via an anti-join on the turn
        key, so rows never duplicate; per-bucket fingerprints carry the
        batch_id, so completed buckets are skipped on rerun exactly like
        a resumed run. Iceberg deployment: the raw upsert becomes a
        MERGE INTO and the bucket rewrites overwrite-by-filter on the
        bucket partition; the lineage manifest stays the progress record.
        """
        nb = self.wh.n_buckets
        cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        # retention interaction: raw below the horizon is GONE, so stages
        # rebuilt from raw keep their old rows below their own floor
        # (_floor) and new turns may not land below the highest of those
        # floors (a retained TSDB rejects below-horizon inserts), so no
        # straddling bucket ever needs data that only existed pre-retention.
        if self.retention_horizon("series") is not None:
            raise ValueError(
                "append() cannot incrementally maintain a warehouse whose "
                "SERIES stage is retained: the segment cascade needs each "
                "conversation's full series history. Retain raw only (the "
                "coarser stages keep history), or rebuild."
            )
        raw_h = self.retention_horizon("raw")
        rejected = 0
        sketches = os.path.exists(self.wh.path("hist_1h"))
        if raw_h is not None:
            floor_ms = max(
                self._floor(raw_h, st.name) for st in STAGES
                if st.source == "raw" and (sketches or st.sketch is None)
            )
            n0 = new_transcripts.count()
            new_transcripts = new_transcripts.where(to_ms("ts") >= floor_ms)
            rejected = n0 - new_transcripts.count()
        # a batch may itself carry several rows for one turn key (e.g. an
        # availableNow stream collapsing original + correction into one
        # micro-batch): keep exactly one, deterministically — latest ts
        # wins, content hash breaks exact-ts ties
        from pyspark.sql import Window as _W

        dedup_w = _W.partitionBy("conv_id", "turn_idx").orderBy(
            F.desc("ts"), F.desc(F.md5(F.concat_ws("\x1f", "role", "text", "tool")))
        )
        new_transcripts = (
            new_transcripts.withColumn("_rn", F.row_number().over(dedup_w))
            .where("_rn = 1")
            .drop("_rn")
        )
        aff = sorted(
            r["b"]
            for r in new_transcripts.select(
                sid_bucket(F.col("conv_id"), nb).alias("b")
            )
            .distinct()
            .collect()
        )
        if not aff:
            return {
                "affected_buckets": [], "n_buckets": nb,
                "rejected_below_retention": rejected,
            }

        def build(bucket_ids: list[int]) -> DataFrame:
            _start_python_workers(self.spark)
            root = self.wh.path("raw")
            have = [
                b
                for b in bucket_ids
                if os.path.exists(os.path.join(root, f"sbucket={b}"))
            ]
            if have:  # bootstrap: first-ever batch has nothing to merge
                old = self._read_buckets("raw", have).select(cols)
                merged = old.join(
                    new_transcripts.select("conv_id", "turn_idx"),
                    ["conv_id", "turn_idx"],
                    "left_anti",
                ).unionByName(new_transcripts.select(cols))
            else:
                merged = new_transcripts.select(cols)
            return merged.withColumn(
                "sbucket", sid_bucket(F.col("conv_id"), nb)
            )

        self._run_stage("raw", f"raw+{batch_id}", build, only_buckets=aff)
        self.build_series(
            fingerprint=f"series+{batch_id}", only_buckets=aff,
            preserve_below=(
                self._floor(raw_h, "series") if raw_h is not None else None
            ),
        )
        self.build_segments(fingerprint=f"segments+{batch_id}", only_buckets=aff)
        self.build_tiers(fingerprint=f"tiers+{batch_id}", only_buckets=aff)
        if sketches:
            self.build_sketch_tiers(
                fingerprint=f"sketch+{batch_id}", only_buckets=aff,
                raw_horizon=raw_h,
            )
        return {
            "affected_buckets": aff, "n_buckets": nb,
            "rejected_below_retention": rejected,
        }

    # -- right-to-be-forgotten ------------------------------------------------

    def purge(self, conv_ids, batch_id: str) -> dict:
        """Delete EVERY trace of the given conversations from EVERY
        stage — the GDPR/right-to-be-forgotten path, priced like
        append(): only the hash(conv_id) buckets the purge set maps to
        are rewritten, untouched buckets keep data and manifests
        byte-for-byte, so at 10^12 turns deleting k users' conversations
        re-rolls k-ish of 4096 buckets, not the table.

        Mechanics per stage family:
        - sid-keyed tables (raw, series, segments, tier_1m/1h/1d,
          series_arch, hist_1h/1d, hll_1d): a bucket-local broadcast
          anti-join filter rewrite — exact, no kernel recompute, and it
          works BELOW a retention floor too (filtering preserved rows is
          always possible; recomputing them is not).
        - sbucket-MERGED sketches (cms_1d, kmv_1d, bloom_1d): a merged
          sketch cannot subtract a member (the purged conv would still
          answer membership/frequency probes), so affected buckets are
          REBUILT from the post-purge raw. If raw retention already
          dropped sub-floor turns, those sketch rows cannot be rebuilt
          without the purged member — they are conservatively DROPPED
          for affected buckets (compliance outranks sketch coverage)
          and the loss is reported in the metrics.

        Idempotent + resumable like every stage: fingerprints carry
        batch_id, a crashed purge resumes past completed buckets, and
        rows_removed still counts the whole purge (_purge_snapshot).
        Iceberg deployment: the filter rewrites become DELETE FROM ...
        WHERE on the bucket partition; lineage stays the progress record.

        conv_ids: iterable of conv_id strings (the purge list is
        user-supplied and bounded — broadcast-sized by construction).
        Returns {"affected_buckets", "rows_removed": {stage: n}, ...}.
        """
        ids = sorted(set(conv_ids))
        nb = self.wh.n_buckets
        if not ids:
            return {"affected_buckets": [], "rows_removed": {}}
        id_df = self.spark.createDataFrame(
            [(i,) for i in ids], "purge_id string"
        ).localCheckpoint()
        aff = sorted(
            r["b"]
            for r in id_df.select(
                sid_bucket(F.col("purge_id"), nb).alias("b")
            )
            .distinct()
            .collect()
        )
        # the fingerprint carries BOTH the batch id and a digest of the
        # purge set: re-running the same batch_id with a different victim
        # list must force a rewrite, not silently no-op against buckets
        # committed for the earlier set
        pfp = "purge+{}+{}".format(
            batch_id,
            hashlib.sha256(",".join(ids).encode("utf-8")).hexdigest()[:12],
        )
        self._recover()
        before = self._purge_snapshot(pfp, aff)
        removed: dict[str, int] = {}
        for st in STAGES:
            if st.key is None or st.name not in before:
                continue
            # a fully-retained stage leaves empty bucket dirs (no parquet
            # part files): nothing to purge there, and nothing to read
            live = self._live_buckets(st.name, aff)
            if live:

                def build(bucket_ids: list[int], st=st) -> DataFrame:
                    return self._read_buckets(st.name, bucket_ids).join(
                        F.broadcast(id_df),
                        F.expr(st.key) == F.col("purge_id"),
                        "left_anti",
                    )

                self._run_stage(st.name, pfp, build, only_buckets=live)
            removed[st.name] = before[st.name] - self._manifest_rows(st.name, aff)

        # sbucket-merged sketches: rebuild affected buckets from the
        # now-purged raw, dropping their rows below the floor (docstring)
        dropped_below_floor = 0
        raw_h = self.retention_horizon("raw")
        for st in STAGES:
            if st.key is not None or not os.path.exists(self.wh.path(st.name)):
                continue
            floor = self._floor(raw_h, st.name) if raw_h is not None else None
            if floor is not None:
                live = self._live_buckets(st.name, aff)
                if live:
                    dropped_below_floor += (
                        self._read_buckets(st.name, live)
                        .where(F.col(st.ts_col) < floor)
                        .count()
                    )
            self._run_stage(
                st.name, pfp, self._sketch_build(st.name, floor, keep_old=False),
                only_buckets=aff,
            )
        os.remove(self._purge_snapshot_path())
        return {
            "affected_buckets": aff,
            "n_buckets": nb,
            "n_conv_ids": len(ids),
            "rows_removed": removed,
            "sketch_rows_dropped_below_floor": dropped_below_floor,
        }

    def _purge_snapshot_path(self) -> str:
        return os.path.join(self.wh.root, "_purge.json")

    def _purge_snapshot(self, fingerprint: str, buckets: list[int]) -> dict:
        """{sid-keyed stage: rows in buckets} before the purge `fingerprint`
        rewrote anything, from the manifests. Written once per purge and
        removed when it completes, so a crashed-and-resumed purge reports
        the rows the whole purge removed, not only its last invocation's."""
        path = self._purge_snapshot_path()
        if os.path.exists(path):
            with open(path) as f:
                snap = json.load(f)
            if snap["fingerprint"] == fingerprint:
                return snap["rows"]
        rows = {
            st.name: self._manifest_rows(st.name, buckets)
            for st in STAGES
            if st.key is not None and os.path.exists(self.wh.path(st.name))
        }
        with open(path + ".tmp", "w") as f:
            json.dump({"fingerprint": fingerprint, "rows": rows}, f)
        os.replace(path + ".tmp", path)
        return rows

    def _manifest_rows(self, stage: str, buckets: list[int]) -> int:
        """Committed rows of these buckets, from the lineage manifests."""
        lineage = Lineage(self.wh.path(stage))
        return sum(m.rows for m in map(lineage.get, buckets) if m is not None)

    # -- integrity audit ------------------------------------------------------

    def fsck(self, tables: list[str] | None = None) -> dict:
        """Warehouse integrity audit: verify every committed bucket's
        lineage manifest against the parquet that is actually on disk —
        row count per bucket, and the event-time high-water mark. It is the
        independent scan audit of the footer-derived manifests: _run_stage
        takes rows and high-water from parquet footers, fsck recounts them
        from the data with Spark. The filesystem-only status surface
        (warehouse_status) trusts the manifests; this is the deep check an
        operator runs after a suspicious crash, a manual copy, or a
        storage migration.

        Returns {table: {"buckets_checked": n, "rows_manifest": n,
        "rows_actual": n, "mismatches": [{bucket, manifest_rows,
        actual_rows, manifest_hw, actual_hw}]}} — empty mismatch lists
        mean the lineage is an exact description of the data. The
        high-water check uses the `ts_col` each manifest records; legacy
        manifests without it (or buckets whose manifest says 0 rows) are
        verified on row count only. Cost: ONE count+max-by-bucket scan
        per stage, no shuffle of data columns.
        """
        out: dict = {}
        names = tables if tables is not None else sorted(
            n for n in os.listdir(self.wh.root)
            if os.path.isdir(os.path.join(self.wh.path(n), "_lineage"))
        )
        for name in names:
            root = self.wh.path(name)
            lineage = Lineage(root)
            buckets = lineage.completed_buckets()
            if not buckets:
                out[name] = {
                    "buckets_checked": 0, "rows_manifest": 0,
                    "rows_actual": 0, "mismatches": [],
                }
                continue
            manifests = {b: lineage.get(b) for b in buckets}
            # every stage writes one ts_col for all its buckets; take any
            ts_col = next(
                (m.ts_col for m in manifests.values() if m and m.ts_col),
                None,
            )
            live = self._live_buckets(name, buckets)
            scanned = (
                _scan_stats(self._read_buckets(name, live), ts_col) if live else {}
            )
            actual = {b: scanned.get(b, (0, None))[0] for b in buckets}
            actual_hw = {b: scanned.get(b, (0, None))[1] for b in buckets}
            mismatches = []
            rows_m = rows_a = 0
            for b in buckets:
                m = manifests[b]
                rows_m += m.rows
                rows_a += actual.get(b, 0)
                hw_checkable = (
                    ts_col is not None and m.ts_col is not None
                    and actual.get(b, 0) > 0
                )
                hw_bad = hw_checkable and m.high_water_ts != actual_hw.get(b)
                if m.rows != actual.get(b, 0) or hw_bad:
                    mismatches.append(
                        {
                            "bucket": b,
                            "manifest_rows": m.rows,
                            "actual_rows": actual.get(b, 0),
                            "manifest_hw": m.high_water_ts,
                            "actual_hw": actual_hw.get(b),
                        }
                    )
            out[name] = {
                "buckets_checked": len(buckets),
                "rows_manifest": rows_m,
                "rows_actual": rows_a,
                "mismatches": mismatches,
            }
        return out

    # -- retention -----------------------------------------------------------

    def retain(self, table: str, horizon_ms: int) -> None:
        """Drop a stage table's rows older than horizon (coarser tiers
        retain the aggregates). Filter-rewrite per bucket, lineage
        re-committed, and the horizon RECORDED in <table>/_retention.json
        so range_agg routes around the dropped region (low-water) and
        validate_cover can refuse queries nobody can answer anymore.

        Crash-safety + monotonicity: the marker is written BEFORE the
        destructive rewrite (routing around still-present data is exact;
        the reverse — dropped data with no marker — silently undercounts)
        and horizons only ever grow (a second retain with a smaller
        horizon cannot resurrect rows). A full rebuild under a new
        fingerprint DOES resurrect history; the stale marker then makes
        range_agg conservatively refuse sub-horizon queries — delete the
        marker to re-enable them."""
        existing = self.retention_horizon(table)
        horizon_ms = max(horizon_ms, existing or horizon_ms)
        marker = os.path.join(self.wh.path(table), "_retention.json")
        os.makedirs(self.wh.path(table), exist_ok=True)
        with open(marker + ".tmp", "w") as f:
            json.dump({"horizon_ms": horizon_ms}, f)
        os.replace(marker + ".tmp", marker)

        ts_col = STAGE[table].ts_col
        fingerprint = f"{table}-retained-{horizon_ms}"

        def build(bucket_ids: list[int]) -> DataFrame:
            df = self._read_buckets(table, bucket_ids)
            cond = (
                to_ms("ts") >= horizon_ms
                if ts_col == "ts"
                else F.col(ts_col) >= horizon_ms
            )
            return df.where(cond)

        self._run_stage(table, fingerprint, build)

    def retention_horizon(self, table: str) -> int | None:
        marker = os.path.join(self.wh.path(table), "_retention.json")
        if not os.path.exists(marker):
            return None
        with open(marker) as f:
            return int(json.load(f)["horizon_ms"])

    def retain_raw(self, horizon_ms: int) -> None:
        self.retain("raw", horizon_ms)

    # -- cold archive (series tier) -------------------------------------------

    def archive_series(self, horizon_ms: int) -> dict:
        """Retention that DEMOTES instead of deletes: sub-horizon series
        points collapse into one DoD-timestamp + ALP-value blob pair per
        (sid, metric) (operators/rawtier.py compress_points, ~2-6 B/point
        vs 16 B columnar), written as the `series_arch` stage with the
        same lineage/resume machinery as every stage — THEN the series
        tier drops below the horizon (retain). restore_series_archive
        returns the exact original rows, so history stays recoverable
        (e.g. to rebuild segments under a new error bound) at cold-storage
        cost while the hot tiers keep answering queries.

        Ordering is crash-safe: archive FIRST (series still intact), the
        destructive retain LAST; a crash in between resumes — completed
        archive buckets skip via fingerprint, retain re-runs idempotently.

        GROWING the horizon later re-archives: the build unions the
        existing archive's restored points (sub-old-horizon series rows
        are already gone) with the still-present [old, new) series rows;
        the fingerprint carries the horizon so unchanged horizons are
        no-ops. Shrinking is refused like retain()."""
        from modelardb_dynamic_spark.operators.rawtier import (
            compress_points,
            restore_points,
        )

        existing = self.retention_horizon("series")
        if existing is not None and horizon_ms < existing:
            horizon_ms = existing  # monotone, matching retain()
        arch_root = self.wh.path("series_arch")
        have_arch = bool(Lineage(arch_root).metrics().get("buckets")) if (
            os.path.exists(arch_root)
        ) else False
        sep = AKEY_SEP

        def build(bucket_ids: list[int]) -> DataFrame:
            cur = (
                self._read_buckets("series", bucket_ids)
                .where(F.col("ts_ms") < horizon_ms)
                .selectExpr(
                    f"concat(sid, '{sep}', metric) AS akey",
                    "ts_ms",
                    "CAST(value AS DOUBLE) AS value",
                )
            )
            if have_arch:
                old = restore_points(
                    self._read_buckets("series_arch", bucket_ids).drop(
                        "sbucket", "hw_ts"
                    ),
                    "akey",
                    "ts_ms",
                    "value",
                )
                cur = cur.unionByName(old)
            hw = cur.groupBy("akey").agg(F.max("ts_ms").alias("hw_ts"))
            blobs = compress_points(cur, "akey", "ts_ms", "value")
            return blobs.join(hw, ["akey"]).withColumn(
                "sbucket",
                sid_bucket(
                    F.substring_index(F.col("akey"), sep, 1),
                    self.wh.n_buckets,
                ),
            )

        self._run_stage("series_arch", f"series-arch-{horizon_ms}", build)
        self.retain("series", horizon_ms)
        m = Lineage(arch_root).metrics()
        return {"blobs": m.get("rows", 0), "horizon_ms": horizon_ms}

    def restore_series_archive(self) -> DataFrame:
        """Exact (sid, metric, ts_ms, value float) rows back out of the
        cold archive — shuffle-free (each blob pair decodes alone)."""
        from modelardb_dynamic_spark.operators.rawtier import restore_points

        blobs = self.wh.read(self.spark, "series_arch").drop("sbucket", "hw_ts")
        pts = restore_points(blobs, "akey", "ts_ms", "value")
        sep = AKEY_SEP
        return pts.selectExpr(
            f"substring_index(akey, '{sep}', 1) AS sid",
            f"substring_index(akey, '{sep}', -1) AS metric",
            "ts_ms",
            "CAST(value AS FLOAT) AS value",
        )

    # -- maintenance -----------------------------------------------------------

    def compact(self, table: str, target_files: int = 1) -> dict:
        """Small-file compaction for a stage table: rewrite each bucket
        dir holding more than `target_files` parquet files down to
        `target_files`, leaving rows, manifests, and resume state
        untouched. The in-sandbox twin of Iceberg `rewrite_data_files`
        (reference: compaction with crash recovery,
        storage/FileStorage.scala:126-165).

        Crash-safe via the same rename journal as every stage rewrite
        (checkpoint.swap_in; recover_swaps at entry repairs an interrupted
        swap). A row-count check (the rewrite's parquet footers) against
        the bucket's lineage manifest guards the swap: a mismatched
        rewrite is abandoned loudly instead of installed.
        """
        root = self.wh.path(table)
        lineage = Lineage(root)
        recover_swaps(root)
        stats = {"buckets_compacted": 0, "files_before": 0, "files_after": 0,
                 "rows": 0}
        import glob as _glob

        for b in sorted(lineage.completed_buckets()):
            dst = os.path.join(root, f"sbucket={b}")
            files = _glob.glob(os.path.join(dst, "*.parquet"))
            if len(files) <= target_files:
                continue
            m = lineage.get(b)
            df = (
                self.wh.read(self.spark, table, buckets=[b])
                .drop("sbucket")
                .coalesce(target_files)
            )
            tmp = dst + "." + uuid.uuid4().hex[:8] + ".tmp"
            unannotated(df).write.mode("overwrite").parquet(tmp)
            got = footer_rows(tmp)
            if m is not None and got != m.rows:
                shutil.rmtree(tmp, ignore_errors=True)
                raise RuntimeError(
                    f"compaction of {table} bucket {b} produced {got} rows, "
                    f"manifest says {m.rows}; rewrite abandoned"
                )
            swap_in(tmp, dst)
            stats["buckets_compacted"] += 1
            stats["files_before"] += len(files)
            stats["files_after"] += len(
                _glob.glob(os.path.join(dst, "*.parquet"))
            )
            stats["rows"] += got
        return stats

    # -- views ---------------------------------------------------------------

    def range_agg(self, lo_ms: int, hi_ms: int, bucket_ms: int) -> DataFrame:
        """Answer an arbitrary time-range aggregate from the coarsest exact
        tier cover (plans/planner.py), with each tier's completeness bound
        taken from its OWN lineage manifests. The LAST materialized bucket
        of a tier (high_water_ts is its start) is UNSEALED — the build
        consumed data only part-way through it, and time-ordered appends
        can still land inside it — so the trust bound is that bucket's
        START: it and everything after are re-answered from finer tiers /
        the series table (real-time continuous aggregation). Out-of-order
        rows landing in buckets strictly before the high-water need a tier
        rebuild (new fingerprint), not the planner. Only the tiers the
        cover uses are read, and the series table only when some of the
        window falls through to raw rows (range_cover says which). Result
        == aggregating the series table directly, pinned by
        tests/test_pipeline.py and the `tiered_agg` oracle row."""
        from modelardb_dynamic_spark.plans.planner import tiered_agg

        tiers, hw, lw, raw = self._cover(
            [n for n, _ in TIERS], lo_ms, hi_ms, bucket_ms, edge="series"
        )
        return tiered_agg(
            self.wh.read(self.spark, "series") if raw else None,
            tiers, lo_ms, hi_ms, bucket_ms, high_water=hw, low_water=lw,
        )

    def range_cover(self, lo_ms: int, hi_ms: int, bucket_ms: int) -> dict:
        """What range_agg(lo, hi, bucket_ms) reads, from lineage alone:
        {"tiers": [tier tables, coarse -> fine], "raw": whether the series
        table is read too}."""
        names = {w: n for n, w in TIERS}
        _, _, used, raw = self._plan(
            list(names.values()), lo_ms, hi_ms, bucket_ms, "series"
        )
        return {"tiers": [names[w] for w in used], "raw": raw}

    def _plan(
        self, names: list[str], lo_ms: int, hi_ms: int, bucket_ms: int,
        edge: str,
    ) -> tuple[dict[int, int], dict[int, int], list[int], bool]:
        """The routed stages' {grid: high_water} (lineage) and {grid:
        low_water} (retention), once validate_cover has checked that they
        and the `edge` table (the raw rows the routed read falls back to)
        can answer [lo, hi) @ bucket_ms; then planner.cover_plan's grids
        that contribute and whether raw rows do."""
        from modelardb_dynamic_spark.plans.planner import cover_plan, validate_cover

        hw, lw = {}, {}
        for name in names:
            w = STAGE[name].grid
            m = Lineage(self.wh.path(name)).metrics()
            if not m["buckets"]:
                hw[w] = -(1 << 62)  # never built: the raw rows answer
            elif m["high_water_ts"] is not None:
                hw[w] = int(m["high_water_ts"])
            rh = self.retention_horizon(name)
            if rh is not None:
                lw[w] = rh
        grids = [STAGE[n].grid for n in names]
        validate_cover(
            grids, lo_ms, hi_ms, bucket_ms,
            high_water=hw, low_water=lw,
            raw_low_ms=self.retention_horizon(edge),
            grid_ms=self.cfg.sampling_interval_ms,
        )
        return (hw, lw, *cover_plan(grids, lo_ms, hi_ms, bucket_ms, hw, lw))

    def _cover(
        self, names: list[str], lo_ms: int, hi_ms: int, bucket_ms: int,
        edge: str = "raw",
    ) -> tuple[list[tuple[DataFrame | None, int]], dict[int, int],
               dict[int, int], bool]:
        """_plan's marks with the routed stages' [(frame, grid)] — frame
        None for a stage the cover drops, so it is never read — and
        whether the routed read needs the raw rows."""
        hw, lw, used, raw = self._plan(names, lo_ms, hi_ms, bucket_ms, edge)
        tiers = [
            (
                self.wh.read(self.spark, n).drop("sbucket")
                if STAGE[n].grid in used else None,
                STAGE[n].grid,
            )
            for n in names
        ]
        return tiers, hw, lw, raw

    def _sealed_day(self, stage: str, day_ms: int, op: str) -> bool:
        """Whether the day bucket starting at day_ms is sealed in the
        day-grained sketch stage (below its lineage high-water, at or above
        its retention low-water), so op may read it from the stage. An
        unsealed day falls back to raw: raises if retention dropped it."""
        hw = Lineage(self.wh.path(stage)).metrics().get("high_water_ts")
        lw = self.retention_horizon(stage)
        if hw is not None and day_ms < hw and (lw is None or day_ms >= lw):
            return True
        raw_low = self.retention_horizon("raw")
        if raw_low is not None and day_ms < raw_low:
            raise ValueError(
                f"{op}: day {day_ms} is past the {stage} cover "
                f"(high_water={hw}, low_water={lw}) "
                f"and raw is retained away below {raw_low}"
            )
        return False

    def _raw_turns(self, bucket_ids: list[int] | None = None) -> DataFrame:
        """The ONE (sid, ts_ms, tokens, text) projection both the sketch
        tier builds and the range sketch queries use — the routed==direct
        equality depends on these staying byte-identical."""
        if not self._live_buckets("raw", list(range(self.wh.n_buckets))):
            # retention/purge can legitimately empty the whole raw tier;
            # the projection's schema is pinned, so serve it empty
            return self.spark.createDataFrame(
                [], "sid string, ts_ms long, tokens long, text string"
            )
        raw = (
            self.wh.read(self.spark, "raw")
            if bucket_ids is None
            else self._read_buckets("raw", bucket_ids)
        )
        return raw.select(
            F.col("conv_id").alias("sid"),
            to_ms("ts").alias("ts_ms"),
            (1 + F.floor(F.length("text") / 4)).cast("long").alias("tokens"),
            F.col("text"),
        )

    def range_quantiles(
        self, lo_ms: int, hi_ms: int, bucket_ms: int,
        qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    ) -> DataFrame:
        """Per-conversation turn-length quantiles over [lo, hi) per bucket,
        routed through the hist_1h/hist_1d sketch tiers (build them with
        build_sketch_tiers) with lineage high-water + retention low-water,
        raw turns histogrammed on the fly at the edges — range_agg's twin
        for the quantile question."""
        from modelardb_dynamic_spark.operators.sketches import tiered_hist_quantiles

        tiers, hw, lw, raw = self._cover(
            ["hist_1h", "hist_1d"], lo_ms, hi_ms, bucket_ms
        )
        return tiered_hist_quantiles(
            self._raw_turns() if raw else None, ["sid"], "tokens", tiers,
            lo_ms, hi_ms, bucket_ms, high_water=hw, qs=qs, low_water=lw,
        )

    def range_distinct(
        self, lo_ms: int, hi_ms: int, bucket_ms: int
    ) -> DataFrame:
        """Distinct turn contents per conversation over [lo, hi) per
        bucket via the hll_1d sketch tier + raw-edge sketching."""
        from modelardb_dynamic_spark.operators.sketches import tiered_hll_summary

        tiers, hw, lw, raw = self._cover(["hll_1d"], lo_ms, hi_ms, bucket_ms)
        return tiered_hll_summary(
            self._raw_turns() if raw else None, ["sid"], "text", tiers,
            lo_ms, hi_ms, bucket_ms, high_water=hw, low_water=lw,
        )

    def range_heavy(
        self, lo_ms: int, hi_ms: int, bucket_ms: int, probes: list[str]
    ) -> DataFrame:
        """Estimated turn counts of specific conversations over [lo, hi)
        per bucket via the cms_1d counter tier + raw-edge sketching —
        range_distinct's twin for the frequency question (hot-conversation
        audit without touching per-conv rows). CMS counters merge by sum,
        so the per-sbucket partial sketches and the routed cover compose
        in the same groupBy."""
        from modelardb_dynamic_spark.operators.sketches import tiered_cms_estimates

        tiers, hw, lw, raw = self._cover(["cms_1d"], lo_ms, hi_ms, bucket_ms)
        return tiered_cms_estimates(
            self._raw_turns() if raw else None, [], "sid", probes, tiers,
            lo_ms, hi_ms, bucket_ms, high_water=hw, low_water=lw,
        )

    def overlap_convs(self, day_a_ms: int, day_b_ms: int) -> DataFrame:
        """Estimated active-conversation-set OVERLAP between two days via
        the kmv_1d sketch tier — the set-intersection question hll_1d
        cannot answer (HLL registers union but never intersect):
        est_inter ~= |convs active on day A AND day B|, with the union
        estimate and the exact union-sketch state beside it. A sealed
        day reads <= k rows per sbucket from the tier (re-ranked union
        across sbuckets IS the global bottom-k — sid_bucket partitions
        convs disjointly); an unsealed or retained-away day falls back
        to sketching raw, and raises loudly if retention dropped raw too
        (the validate_cover contract)."""
        from modelardb_dynamic_spark.operators.sketches import (
            K_KMV,
            _kmv_bottomk,
            kmv_overlap,
            kmv_tier,
        )

        tier = self.wh.read(self.spark, "kmv_1d")

        def day_sketch(day_ms: int) -> DataFrame:
            day_ms = (day_ms // DAY_MS) * DAY_MS
            if self._sealed_day("kmv_1d", day_ms, "overlap_convs"):
                rows = tier.where(F.col("bucket_ts") == day_ms).select(
                    F.lit(1).alias("g"), "h"
                )
            else:
                src = self._raw_turns().where(
                    f"ts_ms >= {day_ms} AND ts_ms < {day_ms + DAY_MS}"
                )
                rows = kmv_tier(
                    src.withColumn("g", F.lit(1)), ["g"], "sid",
                    "CAST(0 AS BIGINT)",
                ).drop("bucket_ts")
            return _kmv_bottomk(rows, ["g"], K_KMV)

        out = kmv_overlap(day_sketch(day_a_ms), day_sketch(day_b_ms), ["g"])
        return out.select(
            F.lit((day_a_ms // DAY_MS) * DAY_MS).alias("day_a"),
            F.lit((day_b_ms // DAY_MS) * DAY_MS).alias("day_b"),
            "mu", "h_k_u", "n_both", "est_union", "est_inter",
        )

    def active_convs(self, day_ms: int, probes: list[str]) -> DataFrame:
        """Were these conversations active on `day_ms`? Point membership
        probes against the bloom_1d tier: each probe consults ONLY its
        own sbucket's filter (sid_bucket partitions conversations
        disjointly — probing another bucket's filter would even be
        unsound), so a sealed-day probe touches <= 512 tier rows per
        distinct probe bucket. No false negatives; false positives at
        the tier's (set/m)^k rate (bloom_occupancy). An unsealed or
        retained-away day falls back to an EXACT raw-scan semi-join, and
        raises loudly if retention dropped raw too.

        Returns (probe, day_ts, member, exact) — exact=False rows are
        Bloom answers (member=True may rarely be a false positive),
        exact=True rows come from the raw fallback."""
        from modelardb_dynamic_spark.operators.sketches import bloom_membership

        day_ms = (day_ms // DAY_MS) * DAY_MS
        probes = list(dict.fromkeys(probes))
        if self._sealed_day("bloom_1d", day_ms, "active_convs"):
            # probe sbuckets via the same JVM hash the stage used
            # (bounded: one tiny job over len(probes) rows)
            pdf = self.spark.createDataFrame(
                [(p,) for p in probes], "probe string"
            ).withColumn(
                "psb", sid_bucket(F.col("probe"), self.wh.n_buckets)
            )
            pmap = {r["probe"]: r["psb"] for r in pdf.collect()}
            tier = self.wh.read(self.spark, "bloom_1d").where(
                F.col("bucket_ts") == day_ms
            )
            mem = bloom_membership(tier, ["sbucket"], probes)
            # keep only each probe's OWN bucket's verdict; absent row
            # (or a row from a foreign bucket) = non-member
            hits = {
                r["probe"]
                for r in mem.collect()
                if r["member"] and pmap[r["probe"]] == r["sbucket"]
            }
            rows = [(p, day_ms, p in hits, False) for p in probes]
        else:
            active = {
                r["sid"]
                for r in self._raw_turns()
                .where(f"ts_ms >= {day_ms} AND ts_ms < {day_ms + DAY_MS}")
                .join(
                    F.broadcast(
                        self.spark.createDataFrame(
                            [(p,) for p in probes], "sid string"
                        )
                    ),
                    "sid",
                    "leftsemi",
                )
                .select("sid")
                .distinct()
                .collect()
            }
            rows = [(p, day_ms, p in active, True) for p in probes]
        return self.spark.createDataFrame(
            rows, "probe string, day_ts long, member boolean, exact boolean"
        )

    def tier(self, name: str, gap_filled: bool = False) -> DataFrame:
        df = self.wh.read(self.spark, name)
        if gap_filled:
            df = gap_fill(df.drop("sbucket"), STAGE[name].grid)
        return df


def warehouse_status(root: str) -> dict:
    """Operational status of a warehouse from its lineage manifests and
    retention markers ALONE — pure filesystem, no SparkSession, so an
    operator (or the scheduler deciding whether to resume) can inspect a
    10^12-turn warehouse in milliseconds: per table, committed buckets,
    row, part-file byte and file totals (None when a manifest predates
    bytes/files), cumulative build wall time, event-time high water,
    first/last commit wall-clock, stage name, and the retention horizon
    if one is recorded. The north rule's "per-partition lineage +
    metrics" as a queryable surface (CLI: --status).
    """
    tables = {}
    for name in sorted(os.listdir(root)) if os.path.isdir(root) else []:
        tdir = os.path.join(root, name)
        ldir = os.path.join(tdir, "_lineage")
        if not os.path.isdir(ldir):
            continue
        lin = Lineage(tdir)
        ms = [lin.get(b) for b in lin.completed_buckets()]
        ms = [m for m in ms if m]
        entry = dict(lin.metrics())
        entry["stage"] = ms[0].stage if ms else None
        entry["first_commit_utc"] = (
            min(m.committed_utc for m in ms) if ms else None
        )
        entry["last_commit_utc"] = (
            max(m.committed_utc for m in ms) if ms else None
        )
        marker = os.path.join(tdir, "_retention.json")
        if os.path.exists(marker):
            with open(marker) as f:
                entry["retention_horizon_ms"] = int(
                    json.load(f)["horizon_ms"]
                )
        tables[name] = entry
    return {"warehouse": root, "tables": tables}
