"""Seeded benchmark of the tier pipeline and its query surface.

Run from the repository root:

    python3 perfbench/run.py --workload build --seed 1 --seconds 4 --trace 0

Workloads (see perfbench/README.md for sizes and the reasons behind them):
- build: the first full TierPipeline build (ingest_raw, build_series,
  build_segments, build_tiers) of a fresh session, from a staged transcript
  parquet into a fresh warehouse.
- query: whole cycles of the report's three queries and range_agg at
  three widths over a warehouse built in set-up; the traced run also builds
  its sketch tiers and adds range_quantiles and range_distinct.

--trace 0 prints the end-to-end metrics. --trace 1 prints the per-layer
metrics of a run that also traces (spans, Spark job groups, the event log
and the UDF profiler): on build, one traced build between two untraced
ones after the timed build; on query, one cycle of every kind run untraced
and traced in place of the timed window, then a traced append, purge and
retain_raw. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_BASE = os.path.join(ROOT, ".bench_work")

CORES = len(os.sched_getaffinity(0))
# Every session setting the numbers depend on, passed explicitly. The
# shuffle and spill dir stays inside the checkout (the benchmark writes
# nowhere else), so it is on disk, not tmpfs.
DRIVER_MEMORY = "3g"
SHUFFLE_PARTITIONS = 2 * CORES
N_BUCKETS = 4
CHUNK_BUCKETS = 4
ERROR_BOUND = 10.0

# generate_transcripts sizes; the seed adds up to +10% conversations
BUILD_INPUT = {"n_convs": 2000, "turns_base": 1000}  # ~0.09 M turns
QUERY_INPUT = {"n_convs": 8000, "turns_base": 100}  # ~0.04 M turns

MINUTE_MS, HOUR_MS, DAY_MS = 60_000, 3_600_000, 86_400_000
BUILD_STAGES = ("ingest_raw", "build_series", "build_segments", "build_tiers")
MAINTAIN_OPS = ("build_sketch_tiers", "append", "purge", "retain_raw")
PIPELINE_OPS = BUILD_STAGES + MAINTAIN_OPS
TABLES = ("raw", "series", "segments", "tier_1m", "tier_1h", "tier_1d")
QUERY_KINDS = (
    "q1_datapoints_sid", "q2_segment_avg", "q3_datapoints_day",
    "range_agg_1m", "range_agg_1h", "range_agg_1d",
    "range_quantiles", "range_distinct",
)
# need the sketch tiers, whose build would add ~10 s to every run's set-up,
# so they run only in the traced run
SKETCH_KINDS = ("range_quantiles", "range_distinct")
# timed query cycles a run makes at least: the median of three cycle means
# is one cycle, so a stall of the shared host in one cycle does not move it
MIN_CYCLES = 3
QUERY_TYPES = ("datapoints", "segment_avg", "range_agg", "range_quantiles",
               "range_distinct")
KERNEL_SAMPLE_SIDS = 40


def query_type(kind: str) -> str:
    for t in QUERY_TYPES:
        if t in kind:
            return t
    raise ValueError(kind)


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in BENCHMARK.json order."""
    out = []
    for op in PIPELINE_OPS:
        out += [(f"pipeline.{op}.s", "s"), (f"pipeline.{op}.jobs", "count")]
    out += [("pipeline.append.buckets_touched_frac", "ratio"),
            ("pipeline.append.write_amp", "ratio")]
    out += [(f"checkpoint.{op}.manifests_written", "count") for op in PIPELINE_OPS]
    out += [("compress.shuffle_write_bytes_per_turn", "B/turn"),
            ("compress.python_worker_s", "s"),
            ("kernels.compress_series.mpts_per_s", "Mpt/s"),
            ("kernels.segments_per_kpoint", "1/kpt")]
    for t in TABLES:
        out += [(f"catalog.{t}.bytes", "B"), (f"catalog.{t}.files", "count")]
    for op in PIPELINE_OPS:
        out += [(f"spark.{op}.shuffle_write_bytes", "B"),
                (f"spark.{op}.spill_bytes", "B"),
                (f"spark.{op}.task_s_p50", "s"),
                (f"spark.{op}.task_s_max", "s"),
                (f"spark.{op}.tasks_failed", "count")]
    out += [("query.range_agg.plan_s", "s")]
    out += [(f"query.{t}.exec_s", "s") for t in QUERY_TYPES]
    out += [(f"query.{t}.rows_scanned_per_row_out", "ratio") for t in QUERY_TYPES]
    out += [("reconstruct.points_per_s", "1/s"), ("trace.overhead_s", "s"),
            ("trace.span_coverage", "ratio")]
    return out


E2E_UNITS = {"setup_s": "s", "op_mean_s": "s", "peak_rss_mb": "MiB",
             "compression_ratio": "ratio"}


def setup_env(work: str) -> None:
    """Confine the JVM, the Python workers and the C-kernel cache to the
    checkout, and drop the package's env-var switches so only the explicit
    session settings apply."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["XDG_CACHE_HOME"] = os.path.join(WORK_BASE, "cache")
    os.environ["PYTHONPATH"] = ROOT
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    for k in ("SPARK_LOCAL_DIRS", "MDBS_TMPFS_LOCAL_DIR", "SPARK_GRAFT_CPUS",
              "SPARK_DRIVER_MEMORY", "MDBS_NO_CKERNEL", "MDBS_BENCH_MEMO_SEGMENTS"):
        os.environ.pop(k, None)
    sys.path.insert(0, ROOT)


def session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": (
            # a heap fixed at its maximum and touched at start, so peak RSS
            # does not follow the collector's run-to-run sizing decisions
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def host_probe_s() -> float:
    """Wall of a fixed pure-Python loop: a reading of host speed, so host
    drift can be told apart from a change in the program."""
    t = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it, or the maximum when fewer than 21 samples leave that
    percentile below the median."""
    xs = sorted(values)
    n = len(xs)
    if n >= 21:
        return xs[n - 11], 100.0 * (n - 10) / n
    return xs[-1], 100.0


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet part files under path."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


def file_mtimes(path: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.stat(p).st_mtime_ns
    return out


class Bench:
    def __init__(self, args, work: str):
        from modelardb_dynamic_spark.config import EngineConfig
        from modelardb_dynamic_spark.session import build_session

        from tracing import Tracer

        self.probe_start = host_probe_s()
        self.args = args
        self.work = work
        self.rng = random.Random(args.seed)
        self.cfg = EngineConfig(error_bound=ERROR_BOUND)
        self.spark = build_session(
            "perfbench", master=f"local[{CORES}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf=session_conf(work, args.trace),
        )
        self.sc = self.spark.sparkContext
        self.tracer = Tracer(self.sc, False)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer: dict[str, float] = {}
        self.layer_spans: dict[str, list[int]] = {}
        self.phases: dict[str, float] = {}
        self._mark = T0
        self.mark("session")
        self.settings = {
            "master": f"local[{CORES}]",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.shuffle.partitions": SHUFFLE_PARTITIONS,
            "spark.local.dir": "<checkout>/.bench_work/<run>/spark-local (disk)",
            "n_buckets": N_BUCKETS, "chunk_buckets": CHUNK_BUCKETS,
            "error_bound": ERROR_BOUND,
        }

    # -- helpers -------------------------------------------------------------

    def mark(self, phase: str) -> None:
        """Record the wall time since the previous mark under phase."""
        now = time.perf_counter()
        self.phases[phase] = now - self._mark
        self._mark = now

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.fail(what)

    def stage_input(self, size: dict, to_parquet: bool = True):
        """Generate the seeded transcript table once and stage it as
        parquet, or cache it in memory; the package only ever sees the
        staged table. The seed salts conv_id (moving the Zipf head across
        buckets) and adds up to 10% more conversations."""
        from pyspark.sql import functions as F

        from modelardb_dynamic_spark.sources.transcripts import generate_transcripts

        salt = self.rng.randrange(1_000_000)
        n_convs = size["n_convs"] + self.rng.randrange(size["n_convs"] // 10)
        df = generate_transcripts(self.spark, n_convs, size["turns_base"]).withColumn(
            "conv_id", F.concat(F.lit(f"s{salt:06d}-"), "conv_id")
        )
        if to_parquet:
            path = os.path.join(self.work, "input.parquet")
            df.write.parquet(path)
            df = self.spark.read.parquet(path)
        else:
            df = df.cache()
        self.settings["n_convs"] = n_convs
        return df, df.count()

    def pipeline(self, root: str):
        from modelardb_dynamic_spark.plans.pipeline import TierPipeline
        from modelardb_dynamic_spark.sources.catalog import Warehouse

        return TierPipeline(
            self.spark, Warehouse(root, N_BUCKETS), self.cfg,
            chunk_buckets=CHUNK_BUCKETS,
        )

    def pipeline_op(self, p, op: str, *a, **kw):
        """One traced call into TierPipeline; in a traced run also counts
        the lineage manifests it wrote and remembers its span."""
        before = file_mtimes(p.wh.root) if self.tracer.on else None
        with self.tracer.span(f"pipeline.{op}"):
            out = getattr(p, op)(*a, **kw)
        if self.tracer.on:
            self.layer_spans.setdefault(op, []).append(len(self.tracer.spans) - 1)
            after = file_mtimes(p.wh.root)
            self.layer[f"checkpoint.{op}.manifests_written"] = self.layer.get(
                f"checkpoint.{op}.manifests_written", 0
            ) + sum(
                1 for f, m in after.items()
                if "/_lineage/" in f and f.endswith(".json") and before.get(f) != m
            )
        return out

    def build(self, p, inp) -> float:
        """The four build stages; traced, the UDF profiler also times the
        Python workers of build_segments (the compress mapInArrow)."""
        t = time.perf_counter()
        self.pipeline_op(p, "ingest_raw", inp)
        self.pipeline_op(p, "build_series")
        if self.tracer.on:
            self.profile(True)
        self.pipeline_op(p, "build_segments")
        if self.tracer.on:
            self.layer["compress.python_worker_s"] = self.profile(False)
        self.pipeline_op(p, "build_tiers")
        return time.perf_counter() - t

    def catalog_metrics(self, root: str) -> None:
        for t in TABLES:
            b, f = dir_stats(os.path.join(root, t))
            self.layer[f"catalog.{t}.bytes"] = b
            self.layer[f"catalog.{t}.files"] = f

    def compression_stats(self, p):
        from modelardb_dynamic_spark.operators.compress import compression_stats

        return compression_stats(p.wh.read(self.spark, "segments")).first()

    def check_kernel(self, p) -> None:
        """compress_series on seeded sample sids, single core in this
        process, must reproduce their stored segment rows."""
        import numpy as np
        from pyspark.sql import functions as F

        from modelardb_dynamic_spark.models.kernels import compress_series

        # from the 200 longest series, so kernel work outweighs call overhead
        sids = [
            r["sid"] for r in p.wh.read(self.spark, "series").groupBy("sid").count()
            .orderBy(F.desc("count"), "sid").limit(200).collect()
        ]
        pick = self.rng.sample(sids, min(KERNEL_SAMPLE_SIDS, len(sids)))
        series = (
            p.wh.read(self.spark, "series").where(F.col("sid").isin(pick))
            .orderBy("sid", "metric", "ts_ms").toPandas()
        )
        stored = (
            p.wh.read(self.spark, "segments").where(F.col("sid").isin(pick))
            .select("sid", "metric", "start_ts", "end_ts", "mtid", "model", "cnt")
            .orderBy("sid", "metric", "start_ts").toPandas()
        )
        want = {
            key: [(int(r.start_ts), int(r.end_ts), int(r.mtid), bytes(r.model),
                   int(r.cnt)) for r in g.itertuples()]
            for key, g in stored.groupby(["sid", "metric"])
        }
        points = segs = 0
        busy = 0.0
        for key, g in series.groupby(["sid", "metric"]):
            t = np.ascontiguousarray(g["ts_ms"].to_numpy(), dtype=np.int64)
            v = np.ascontiguousarray(g["value"].to_numpy(), dtype=np.float32)
            t0 = time.perf_counter()
            out = compress_series(t, v, self.cfg)
            busy += time.perf_counter() - t0
            points += len(t)
            segs += len(out)
            got = [(s.start_ts, s.end_ts, s.mtid, bytes(s.model), s.cnt) for s in out]
            self.check(got == want.get(key), f"kernel cross-check {key}")
        self.layer["kernels.compress_series.mpts_per_s"] = points / busy / 1e6
        self.layer["kernels.segments_per_kpoint"] = 1000.0 * segs / points

    def check_fsck(self, p, what: str) -> None:
        report = p.fsck()
        bad = {t: r["mismatches"] for t, r in report.items() if r["mismatches"]}
        self.check(not bad, f"{what}: fsck mismatches {bad}")

    # -- workloads -----------------------------------------------------------

    def run_build(self) -> dict:
        """Time the first build of a fresh session: with its JIT, codegen,
        Python-worker and C-kernel start it is what a one-shot ingest pays,
        and one build fills the timed window at this input size."""
        inp, turns = self.stage_input(BUILD_INPUT)
        self.turns = turns
        self.mark("stage_input")
        setup_s = time.perf_counter() - T0
        walls = []
        deadline = time.perf_counter() + self.args.seconds
        while not walls or time.perf_counter() < deadline:
            p = self.pipeline(os.path.join(self.work, f"wh-{len(walls)}"))
            self.attempted += 1
            try:
                walls.append(self.build(p, inp))
            except Exception as e:  # noqa: BLE001 -- counted as a failed op
                self.fail(f"build: {e!r}")
                return {}
        self.mark("timed")
        if self.args.trace:
            # one traced build between two untraced ones, all after the
            # timed cold build, so warming does not count as overhead
            before = self.build(self.pipeline(os.path.join(self.work, "wh-before")), inp)
            p = self.pipeline(os.path.join(self.work, "wh-traced"))
            self.tracer.on = True
            traced = self.build(p, inp)
            self.tracer.on = False
            after = self.build(self.pipeline(os.path.join(self.work, "wh-after")), inp)
            stage_s = sum(sum(self.tracer.seconds(f"pipeline.{op}")) for op in BUILD_STAGES)
            self.layer["trace.overhead_s"] = traced - (before + after) / 2
            self.layer["trace.span_coverage"] = stage_s / traced
            self.mark("traced_build")
        self.check_build(p, turns)
        self.check_kernel(p)
        self.mark("check_kernel")
        return self.finish(p, setup_s, walls, statistics.median(walls))

    def finish(self, p, setup_s: float, walls: list[float], op_s: float) -> dict:
        """Measurements common to both workloads, outside the timed window,
        on the warehouse the workload last used; op_s is the workload's
        timed-operation figure."""
        if not walls:
            return {}
        self.catalog_metrics(p.wh.root)
        ratio = float(self.compression_stats(p)["compression_ratio"])
        self.mark("catalog")
        t, pct = tail(walls)
        print(json.dumps({"info": {
            "turns": self.turns, "ops": len(walls),
            "op_walls_s": [round(w, 3) for w in walls],
            "op_tail_s": t, "op_tail_percentile": pct,
            "phases_s": {k: round(v, 3) for k, v in self.phases.items()},
            "host_probe_s": [round(self.probe_start, 3), round(host_probe_s(), 3)],
            "settings": self.settings, "problems": self.problems[:20],
        }}), flush=True)
        return {
            "setup_s": setup_s,
            "op_mean_s": op_s,
            "peak_rss_mb": self.peak_rss(),
            "compression_ratio": ratio,
        }

    def check_build(self, p, turns: int) -> None:
        from pyspark.sql import functions as F

        raw = p.wh.read(self.spark, "raw").count()
        series = p.wh.read(self.spark, "series").count()
        n_points = self.compression_stats(p)["n_points"]
        tier_cnt = p.wh.read(self.spark, "tier_1d").agg(F.sum("cnt")).first()[0]
        self.check(raw == turns, f"raw rows {raw} != input turns {turns}")
        self.check(n_points == series, f"segment points {n_points} != series rows {series}")
        self.check(tier_cnt == series, f"tier_1d cnt {tier_cnt} != series rows {series}")
        self.mark("check_counts")
        self.check_fsck(p, "build")
        self.mark("check_fsck")

    def peak_rss(self) -> float:
        from tracing import peak_rss_mb

        jvm = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return peak_rss_mb([os.getpid(), jvm])

    def profile(self, on: bool) -> float:
        """Switch the Python UDF profiler on, or off returning the
        Python-worker seconds it collected."""
        from tracing import profiler_seconds

        if on:
            self.spark.profile.clear(type="perf")
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            return 0.0
        self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        return profiler_seconds(self.spark, os.path.join(self.work, "profile"))

    # -- query ---------------------------------------------------------------

    def query_plan(self, lo_ts: int, hi_ts: int, hot: list[str]) -> list[list[tuple]]:
        """Cycles of one query of each kind (the sketch kinds only when
        traced) with seeded parameters. Runs stop only at a cycle boundary,
        so every run times the same mix whatever the host speed."""
        rng = self.rng

        def window(width_ms: int, align_ms: int) -> tuple[int, int]:
            lo = rng.randrange(lo_ts, max(lo_ts + 1, hi_ts - width_ms))
            lo -= lo % align_ms
            return lo, lo + width_ms

        plan = []
        for _ in range(64):
            cycle = []
            plan.append(cycle)
            for kind in QUERY_KINDS:
                if kind == "q1_datapoints_sid":
                    args = (rng.choice(hot),)
                elif kind == "q2_segment_avg":
                    args = ()
                elif kind == "q3_datapoints_day":
                    args = window(DAY_MS, DAY_MS)
                elif kind == "range_agg_1m":
                    args = (*window(2 * HOUR_MS, MINUTE_MS), MINUTE_MS)
                elif kind == "range_agg_1h":
                    args = (*window(DAY_MS, HOUR_MS), HOUR_MS)
                elif kind == "range_agg_1d":
                    args = (*window(7 * DAY_MS, DAY_MS), DAY_MS)
                elif kind == "range_quantiles":
                    args = (*window(DAY_MS, HOUR_MS), HOUR_MS)
                else:
                    args = (*window(3 * DAY_MS, DAY_MS), DAY_MS)
                if self.args.trace or kind not in SKETCH_KINDS:
                    cycle.append((kind, args))
        return plan

    def run_query_op(self, p, eng, kind: str, args: tuple):
        """Execute one query to completion: a point count for the
        datapoints and segment queries, the collected rows otherwise."""
        qt = query_type(kind)
        with self.tracer.span(f"query.{qt}", kind=kind) as rec:
            if kind == "q1_datapoints_sid":
                res = eng.datapoints(sids=[args[0]]).count()
            elif kind == "q2_segment_avg":
                res = eng.sql(
                    "SELECT sid, start_ts, AVG_S(#) FROM Segment GROUP BY sid, start_ts"
                ).count()
            elif kind == "q3_datapoints_day":
                res = eng.datapoints(args[0], args[1] - 1).count()
            elif qt == "range_agg":
                with self.tracer.span("query.range_agg.plan"):
                    df = p.range_agg(*args)
                with self.tracer.span("query.range_agg.exec"):
                    res = df.collect()
            elif qt == "range_quantiles":
                res = p.range_quantiles(*args).collect()
            else:
                res = p.range_distinct(*args).collect()
            if rec is not None:
                rec["rows_out"] = res if isinstance(res, int) else len(res)
        return res

    def run_query(self) -> dict:
        from pyspark.sql import functions as F

        from modelardb_dynamic_spark.engine import ModelarEngine

        # read only in set-up, so cached in memory rather than written out
        inp, turns = self.stage_input(QUERY_INPUT, to_parquet=False)
        self.turns = turns
        self.mark("stage_input")
        p = self.pipeline(os.path.join(self.work, "wh"))
        self.tracer.on = bool(self.args.trace)
        self.build(p, inp)
        if self.args.trace:
            self.pipeline_op(p, "build_sketch_tiers")
        self.tracer.on = False
        self.mark("fixture_build")
        lo_ts, hi_ts = (
            inp.agg(F.min(F.unix_millis("ts")), F.max(F.unix_millis("ts"))).first()
        )
        hot = [
            r["conv_id"] for r in inp.groupBy("conv_id").count()
            .orderBy(F.desc("count"), "conv_id").limit(200).collect()
        ]
        eng = ModelarEngine(self.spark, p.wh.read(self.spark, "segments"), self.cfg)
        eng.register_views()
        plan = self.query_plan(lo_ts, hi_ts, hot)
        # untimed warm-up cycle: the first query of each kind in a session
        # pays codegen and JIT
        for kind, args in plan[0]:
            self.run_query_op(p, eng, kind, args)
        self.mark("warmup_cycle")
        setup_s = time.perf_counter() - T0

        walls, done, cycle_means = [], [], []
        if self.args.trace:
            self.trace_queries(p, eng, plan[1], walls, done)
            cycle_means.append(statistics.fmean(walls or [0.0]))
            self.mark("traced_queries")
        else:
            deadline = time.perf_counter() + self.args.seconds
            for i, cycle in enumerate(plan[1:]):
                if i >= MIN_CYCLES and time.perf_counter() >= deadline:
                    break
                n = len(walls)
                for kind, args in cycle:
                    self.timed_query(p, eng, kind, args, walls, done)
                if len(walls) > n:
                    cycle_means.append(statistics.fmean(walls[n:]))
            self.mark("timed")
        self.check_queries(p, done)
        self.mark("checks")
        # the median over cycles of a cycle's mean query wall: a cycle mixes
        # fast datapoints queries with slower range_agg ones, so the median
        # of single queries would fall in the gap between the two
        e2e = self.finish(p, setup_s, walls, statistics.median(cycle_means or [0.0]))
        if self.args.trace:
            self.trace_maintenance(p, inp, lo_ts, hi_ts)
        return e2e

    def check_queries(self, p, done: list) -> None:
        """Direct answers from the series table, outside the timed window:
        range_agg cnt exact and vsum/vmin/vmax within the error bound;
        datapoints counts equal the series rows they cover."""
        from pyspark.sql import functions as F

        series = p.wh.read(self.spark, "series")
        eb = ERROR_BOUND / 100.0
        for kind, args, res in done:
            if kind == "q1_datapoints_sid":
                want = series.where(F.col("sid") == args[0]).count()
                self.check(res == want, f"{kind}{args}: {res} points, series {want}")
            elif kind == "q3_datapoints_day":
                want = series.where(
                    (F.col("ts_ms") >= args[0]) & (F.col("ts_ms") < args[1])
                ).count()
                self.check(res == want, f"{kind}{args}: {res} points, series {want}")
            elif query_type(kind) == "range_agg":
                lo, hi, w = args
                exact = {
                    (r["sid"], r["metric"], r["b"]): r
                    for r in series.where((F.col("ts_ms") >= lo) & (F.col("ts_ms") < hi))
                    .groupBy("sid", "metric", (F.floor(F.col("ts_ms") / w) * w).alias("b"))
                    .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("vsum"),
                         F.min("value").alias("vmin"), F.max("value").alias("vmax"))
                    .collect()
                }
                got = {(r["sid"], r["metric"], r["bucket_ts"]): r for r in res}
                ok = got.keys() == exact.keys() and all(
                    got[k]["cnt"] == e["cnt"] and all(
                        abs(got[k][c] - e[c]) <= eb * abs(e[c]) + 1e-3
                        for c in ("vsum", "vmin", "vmax")
                    )
                    for k, e in exact.items()
                )
                self.check(ok, f"{kind}{args}: differs from the series table")

    def timed_query(self, p, eng, kind: str, args: tuple, walls: list,
                    done: list) -> float:
        """One query, counted as attempted; its wall and result go to walls
        and done, or it counts as failed. Returns its wall."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            res = self.run_query_op(p, eng, kind, args)
        except Exception as e:  # noqa: BLE001 -- counted as a failed op
            self.fail(f"{kind}{args}: {e!r}")
            return time.perf_counter() - t
        walls.append(time.perf_counter() - t)
        done.append((kind, args, res))
        return walls[-1]

    def trace_queries(self, p, eng, cycle: list, walls: list, done: list) -> None:
        """In place of the timed window: one cycle (one query of each
        kind), each query run once untraced and once traced, in alternating
        order. The untraced runs go to walls and done; the summed traced
        minus untraced wall is the tracing overhead."""
        wall = {False: 0.0, True: 0.0}
        for i, (kind, args) in enumerate(cycle):
            for on in (i % 2 == 1, i % 2 == 0):
                self.tracer.on = on
                if on:
                    t = time.perf_counter()
                    self.run_query_op(p, eng, kind, args)
                    wall[on] += time.perf_counter() - t
                else:
                    wall[on] += self.timed_query(p, eng, kind, args, walls, done)
        self.tracer.on = False
        untraced, traced = wall[False], wall[True]
        queries = [s for s in self.tracer.spans if "kind" in s]
        self.layer["trace.overhead_s"] = traced - untraced
        self.layer["trace.span_coverage"] = (
            sum(s["end"] - s["start"] for s in queries) / traced
        )

    def trace_maintenance(self, p, inp, lo_ts: int, hi_ts: int) -> None:
        """One seeded append (replaced turns of 3 conversations), purge (2
        conversations) and retain_raw at mid-span on the query warehouse,
        traced for the per-layer pipeline metrics, with their checks."""
        from pyspark.sql import functions as F

        convs = sorted(r["conv_id"] for r in inp.select("conv_id").distinct().collect())
        picked = self.rng.sample(convs, 5)
        append_ids, purge_ids = picked[:3], picked[3:]
        batch_path = os.path.join(self.work, "append.parquet")
        (
            inp.where(F.col("conv_id").isin(append_ids))
            .withColumn("text", F.concat("text", F.lit(" replaced")))
            .write.parquet(batch_path)
        )
        batch = self.spark.read.parquet(batch_path)
        n_batch = batch.count()
        before = file_mtimes(p.wh.root)
        self.tracer.on = True
        res = self.pipeline_op(p, "append", batch, "bench-append")
        self.tracer.on = False
        written = sum(
            os.path.getsize(f) for f, m in file_mtimes(p.wh.root).items()
            if f.endswith(".parquet") and before.get(f) != m
        )
        self.layer["pipeline.append.buckets_touched_frac"] = (
            len(res["affected_buckets"]) / res["n_buckets"]
        )
        self.layer["pipeline.append.write_amp"] = written / dir_stats(batch_path)[0]
        raw = p.wh.read(self.spark, "raw").where(F.col("conv_id").isin(append_ids))
        dup = raw.groupBy("conv_id", "turn_idx").count().where("count != 1").count()
        replaced = raw.where(F.col("text").endswith(" replaced")).count()
        self.check(dup == 0 and replaced == n_batch,
                   f"append: {dup} duplicated turns, {replaced}/{n_batch} replaced")

        self.tracer.on = True
        self.pipeline_op(p, "purge", purge_ids, "bench-purge")
        self.pipeline_op(p, "retain_raw", lo_ts + (hi_ts - lo_ts) // 2)
        self.tracer.on = False
        for t in sorted(os.listdir(p.wh.root)):
            if not os.path.isdir(os.path.join(p.wh.path(t), "_lineage")):
                continue
            df = p.wh.read(self.spark, t)
            col = next((c for c in ("conv_id", "sid") if c in df.columns), None)
            if col is not None:
                left = df.where(F.col(col).isin(purge_ids)).count()
                self.check(left == 0, f"purge: {left} rows left in {t}")
        self.check_fsck(p, "maintain")

    # -- per-layer -----------------------------------------------------------

    def per_layer(self) -> dict:
        """Fold the spans and the event log (read after the session has
        stopped) into the per-layer metrics; a layer the workload does not
        exercise reads 0."""
        from tracing import merge_spans, read_event_log

        per_span = read_event_log(os.path.join(self.work, "eventlog"))
        tr = self.tracer

        def events(roots) -> dict:
            return merge_spans(per_span, set().union(*(tr.descendants(r) for r in roots)))

        m = {name: 0.0 for name, _ in per_layer_metrics()}
        m.update(self.layer)
        for op, roots in self.layer_spans.items():
            st = events(roots)
            m[f"pipeline.{op}.s"] = sum(tr.spans[r]["end"] - tr.spans[r]["start"] for r in roots)
            m[f"pipeline.{op}.jobs"] = st["jobs"]
            for k in ("shuffle_write_bytes", "spill_bytes", "task_s_p50",
                      "task_s_max", "tasks_failed"):
                m[f"spark.{op}.{k}"] = st[k]
        segs = self.layer_spans.get("build_segments")
        if segs:  # the last full build: the traced one on `build`
            m["compress.shuffle_write_bytes_per_turn"] = (
                events(segs[-1:])["shuffle_write_bytes"] / self.turns
            )
        queries = [s for s in tr.spans if "kind" in s]
        for qt in QUERY_TYPES:
            spans = [s for s in queries if s["name"] == f"query.{qt}"]
            if not spans:
                continue
            m[f"query.{qt}.exec_s"] = statistics.median(s["end"] - s["start"] for s in spans)
            m[f"query.{qt}.rows_scanned_per_row_out"] = (
                events([s["id"] for s in spans])["records_read"]
                / max(1, sum(s["rows_out"] for s in spans))
            )
        if any(s["name"] == "query.range_agg" for s in queries):
            m["query.range_agg.plan_s"] = statistics.median(tr.seconds("query.range_agg.plan"))
            m["query.range_agg.exec_s"] = statistics.median(tr.seconds("query.range_agg.exec"))
        points = [s for s in queries if s["name"] == "query.datapoints"]
        if points:
            m["reconstruct.points_per_s"] = (
                sum(s["rows_out"] for s in points)
                / sum(s["end"] - s["start"] for s in points)
            )
        return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("build", "query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(WORK_BASE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    setup_env(work)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    try:
        bench = Bench(args, work)
        e2e = bench.run_build() if args.workload == "build" else bench.run_query()
        stop_spark()
        if not e2e:
            print(f"no timed operation completed: {bench.problems[:5]}", file=sys.stderr)
            return 1
        if args.trace:
            metrics, units = bench.per_layer(), dict(per_layer_metrics())
            os.makedirs(os.path.join(WORK_BASE, "traces"), exist_ok=True)
            bench.tracer.write(os.path.join(
                WORK_BASE, "traces", f"{args.workload}-seed{args.seed}.spans.jsonl"
            ))
        else:
            metrics, units = e2e, E2E_UNITS
        print(json.dumps({
            "correct": bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)


def stop_spark() -> None:
    """Stop the session and the py4j gateway JVM, and wait for the JVM to
    exit; a no-op once stopped."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
