#!/usr/bin/env python
"""Headline benchmark. Prints ONE JSON line:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ..., "turns_per_sec": ...}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default os.cpu_count()).

Each timed query is forced end-to-end with a noop-format write (full
computation on executors, no driver collect). The `warehouse` entry times
the one TierPipeline build over the events table that the registry's
segment, datapoint and tier queries read (queries._warehouse). The
`pipeline` entry times the product's ingestion path, TierPipeline.run
(transcripts -> raw -> series -> segments -> 1m/1h/1d tiers) into a fresh
warehouse; its turns/sec is reported separately. Scaling, N vs 4N pinned
cores on the same pipeline, is measured by tools/scaling_bench.py
(BENCH_SCALING.md).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from modelardb_dynamic_spark import queries as Q  # noqa: E402
from modelardb_dynamic_spark.config import EngineConfig  # noqa: E402
from modelardb_dynamic_spark.session import build_session  # noqa: E402

# staged inputs and bench warehouses: RAM-backed where the host has it
_SCRATCH = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()


def _force(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def stage_input(
    spark, n_convs: int, turns_base: int = 5000, input_dir: str | None = None
) -> tuple[str, int]:
    """Write the deterministic synthetic transcripts once, to a size-keyed
    parquet dir (every run and parallelism level reads identical bytes),
    and return (path, turns). turns_base=5000 with the generator's Zipf
    skew yields roughly 50 * n_convs turns with a 15k-turn hot head
    conversation."""
    from modelardb_dynamic_spark.sources.transcripts import generate_transcripts

    path = input_dir or os.path.join(
        _SCRATCH, f"mdbs_bench_input_{n_convs}_{turns_base}"
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # fixed 64-file layout regardless of the generating session's core
        # count: scan parallelism must not be capped by whoever staged the
        # input (8 files would cap the read stage at 8 tasks)
        generate_transcripts(
            spark, n_convs=n_convs, turns_base=turns_base
        ).repartition(64).write.mode("overwrite").parquet(path)
    return path, spark.read.parquet(path).count()


def bench_pipeline(
    spark,
    n_convs: int,
    turns_base: int = 5000,
    input_dir: str | None = None,
) -> tuple[float, int]:
    """The product's ingestion path, timed: TierPipeline.run (raw ->
    series -> segments -> 1m -> 1h -> 1d) with the CLI's defaults, from
    the staged parquet (stage_input, outside the timed window) into a
    fresh warehouse that is removed afterwards — a reused one would resume
    as a lineage no-op. Returns (wall seconds, input turns)."""
    from modelardb_dynamic_spark.operators.compress import compression_stats
    from modelardb_dynamic_spark.plans.pipeline import TierPipeline
    from modelardb_dynamic_spark.sources.catalog import Warehouse

    path, n_turns = stage_input(spark, n_convs, turns_base, input_dir)
    root = tempfile.mkdtemp(prefix="mdbs_bench_wh_", dir=_SCRATCH)
    try:
        wh = Warehouse(root, n_buckets=32)
        t0 = time.time()
        TierPipeline(
            spark, wh, EngineConfig(), chunk_buckets=16, salt_span_points=1 << 20
        ).run(spark.read.parquet(path))
        wall = time.time() - t0
        stats = compression_stats(wh.read(spark, "segments")).collect()[0]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    bench_pipeline.last_stats = {
        "n_segments": stats["n_segments"],
        "n_points": stats["n_points"],
        "compression_ratio": round(stats["compression_ratio"], 2),
    }
    return wall, n_turns


def main() -> None:
    # bench opt-in: tmpfs shuffle dir (the sandbox /tmp is a slow virtual
    # disk; see session.build_session for the safety gate)
    os.environ.setdefault("MDBS_TMPFS_LOCAL_DIR", "1")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    spark = build_session("bench")

    registry = Q.QUERIES
    # warm the JVM/Arrow path once so q1 doesn't pay session startup; this
    # query compresses its own series and does not touch the warehouse
    _force(registry["agg_second"](spark, sf_dir))
    # best-of-2 per query: the sandbox VM has a bursty noisy neighbor
    # (sustained 10-33% CPU-steal windows, measured in BENCH.md) and a
    # single contaminated pass misreports capability by multiple x.
    # Repeats are INTERLEAVED (pass 1 of every query, then pass 2) so a
    # multi-minute steal window cannot contaminate both samples of one
    # query — a full pass over the registry takes longer than the
    # observed windows. A query whose two samples still disagree >1.6x
    # gets one tiebreak rep (bounded extra cost, only where contamination
    # is evident).
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))

    def run_passes(n_passes: int) -> dict[str, float]:
        out: dict[str, float] = {}
        samples: dict[str, list[float]] = {n: [] for n in registry}
        for _ in range(n_passes):
            for name in registry:
                t0 = time.time()
                _force(registry[name](spark, sf_dir))
                samples[name].append(time.time() - t0)
        for name, ss in samples.items():
            if len(ss) >= 2 and max(ss) > 1.6 * min(ss):
                t0 = time.time()
                _force(registry[name](spark, sf_dir))
                ss.append(time.time() - t0)
            out[name] = round(min(ss), 3)
        return out

    # COLD: the registry's one TierPipeline warehouse (queries._warehouse),
    # timed as its own entry, then every query over the whole registry in
    # its order; the segment, datapoint and tier queries read that
    # warehouse. WARM: ONE more pass over the built warehouse, the
    # steady-state per-query cost (the suite already ran 2x by now, so the
    # JVM is hot). With one sample per query the 1.6x tiebreak never
    # fires, so a noise-hit warm query stays noisy.
    t0 = time.time()
    Q._warehouse(spark, sf_dir)
    timings = {"warehouse": round(time.time() - t0, 3), **run_passes(repeats)}
    warm_timings = run_passes(1)

    pipe_best = None
    for _ in range(repeats):
        pipe_wall, n_turns = bench_pipeline(
            spark, n_convs=max(256, int(200_000 * sf))
        )
        if pipe_best is None or pipe_wall < pipe_best[0]:
            pipe_best = (pipe_wall, n_turns)
    pipe_wall, n_turns = pipe_best
    timings["pipeline"] = round(pipe_wall, 3)

    total = round(sum(timings.values()), 3)
    warm_total = round(sum(warm_timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline queries + transcript tier pipeline wall time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_warm": warm_timings,
                "warm_total": warm_total,
                "sf": sf,
                "pipeline_turns": n_turns,
                "turns_per_sec": round(n_turns / pipe_wall, 1),
                # reference yardstick: REDD ungrouped ratio 38.8 at 10%
                # error (ModelarDB-Dynamic_report.pdf Table 4.5); ratios are
                # data-dependent
                **getattr(bench_pipeline, "last_stats", {}),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
