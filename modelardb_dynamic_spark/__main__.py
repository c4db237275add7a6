"""Cluster entry point: `spark-submit --py-files modelardb_dynamic_spark.zip
-m` or `python -m modelardb_dynamic_spark`.

Runs the full tier pipeline (raw -> series -> segments -> 1m -> 1h -> 1d)
against a transcript table, resumable via per-bucket lineage manifests.

    spark-submit --master <cluster> --py-files dist/modelardb_dynamic_spark.zip \
        run_pipeline.py --input <transcripts.parquet|-synth:N> \
        --warehouse /path/wh --buckets 256 --error-bound 10

In local/sandbox mode (no spark-submit) this module builds its own session.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="modelardb_dynamic_spark")
    ap.add_argument("--input", default="-synth:2000",
                    help="parquet path of transcripts, or -synth:N for N "
                         "deterministic synthetic conversations")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--chunk-buckets", type=int, default=16)
    ap.add_argument("--error-bound", type=float, default=10.0)
    ap.add_argument("--sampling-interval-ms", type=int, default=60_000)
    ap.add_argument("--salt-span-points", type=int, default=1 << 20)
    ap.add_argument("--retain-raw-after-ms", type=int, default=None)
    ap.add_argument("--sketches", action="store_true",
                    help="also build the sketch tiers (hist_1h/hist_1d, "
                         "hll_1d, cms_1d, kmv_1d, bloom_1d)")
    ap.add_argument("--retain", action="append", default=[],
                    metavar="TABLE:HORIZON_MS",
                    help="drop TABLE rows older than HORIZON_MS after the "
                         "build (repeatable); horizon recorded for "
                         "retention-aware range_agg routing")
    ap.add_argument("--archive-series", type=int, default=None,
                    metavar="HORIZON_MS",
                    help="cold-archive series points below HORIZON_MS "
                         "into DoD+ALP blob pairs (series_arch stage, "
                         "exact restore), then retain the hot tier")
    ap.add_argument("--append-input", default=None,
                    help="incremental maintenance instead of a full run: "
                         "upsert this transcript batch (parquet path or "
                         "-synth:N) into an EXISTING warehouse, recompute "
                         "only touched buckets")
    ap.add_argument("--batch-id", default=None,
                    help="idempotency key for --append-input (required "
                         "with it; reruns with the same id are no-ops)")
    ap.add_argument("--range-agg", default=None, metavar="LO:HI:BUCKET_MS",
                    help="after the build, answer a range aggregate via "
                         "the tier-selection planner and print the rows "
                         "and its cover (the tiers read, whether raw is)")
    ap.add_argument("--range-heavy", default=None,
                    metavar="LO:HI:BUCKET_MS:CONV[,CONV...]",
                    help="after a --sketches build, estimate the probe "
                         "conversations' turn counts per bucket from the "
                         "cms_1d counter tier (hot-conversation audit)")
    ap.add_argument("--compact", default=None, metavar="TABLE[:N]",
                    help="after the build, compact TABLE's bucket dirs "
                         "down to N files each (default 1); crash-safe, "
                         "rows and lineage unchanged")
    ap.add_argument("--overlap-days", default=None, metavar="DAY_A:DAY_B",
                    help="after a --sketches build, estimate the "
                         "active-conversation-set overlap between two "
                         "days (ms epochs) from the kmv_1d sketch tier")
    ap.add_argument("--status", action="store_true",
                    help="print the warehouse's lineage/retention status "
                         "as JSON and exit — pure filesystem inspection, "
                         "no Spark session, no job run")
    ap.add_argument("--active-convs", default=None,
                    metavar="DAY_MS:CONV,CONV,...",
                    help="after a --sketches build, probe whether each "
                         "conversation was active on the day (Bloom "
                         "membership from the bloom_1d tier; exact raw "
                         "fallback for unsealed days)")
    ap.add_argument("--fsck", action="store_true",
                    help="after the build (or resume no-op), verify "
                         "every committed bucket's lineage manifest "
                         "against the parquet actually on disk")
    ap.add_argument("--purge", default=None, metavar="CONV,CONV,...",
                    help="right-to-be-forgotten: delete the listed "
                         "conversations from EVERY stage of an existing "
                         "warehouse (bucket-local rewrites, idempotent "
                         "under --batch-id; skips the build)")
    args = ap.parse_args(argv)

    if args.status:
        from modelardb_dynamic_spark.plans.pipeline import warehouse_status

        print(json.dumps(warehouse_status(args.warehouse)))
        return

    from modelardb_dynamic_spark.config import EngineConfig
    from modelardb_dynamic_spark.plans.pipeline import TierPipeline, warehouse_status
    from modelardb_dynamic_spark.sources.catalog import Warehouse

    active = SparkSession.getActiveSession()
    if active is not None:
        spark = active
    else:
        from modelardb_dynamic_spark.session import build_session

        spark = build_session("modelardb_dynamic_spark-pipeline")

    if args.input.startswith("-synth:"):
        from modelardb_dynamic_spark.sources.transcripts import generate_transcripts

        transcripts = generate_transcripts(
            spark, n_convs=int(args.input.split(":", 1)[1]), turns_base=96
        )
    else:
        transcripts = spark.read.parquet(args.input)

    cfg = EngineConfig(
        error_bound=args.error_bound,
        sampling_interval_ms=args.sampling_interval_ms,
    )
    wh = Warehouse(args.warehouse, n_buckets=args.buckets)
    pipe = TierPipeline(
        spark, wh, cfg,
        chunk_buckets=args.chunk_buckets,
        salt_span_points=args.salt_span_points,
    )
    t0 = time.time()
    out: dict = {}
    if args.append_input is not None:
        if not args.batch_id:
            ap.error("--append-input requires --batch-id")
        if args.append_input.startswith("-synth:"):
            from modelardb_dynamic_spark.sources.transcripts import (
                generate_transcripts as _gen,
            )

            batch = _gen(
                spark, n_convs=int(args.append_input.split(":", 1)[1]),
                turns_base=96,
            )
        else:
            batch = spark.read.parquet(args.append_input)
        out["append"] = pipe.append(batch, batch_id=args.batch_id)
    elif args.purge is not None:
        if not args.batch_id:
            ap.error("--purge requires --batch-id")
        out["purge"] = pipe.purge(
            args.purge.split(","), batch_id=args.batch_id
        )
    else:
        pipe.run(transcripts, sketches=args.sketches)
    if args.retain_raw_after_ms is not None:
        pipe.retain_raw(args.retain_raw_after_ms)
    for spec in args.retain:
        table, horizon = spec.rsplit(":", 1)
        pipe.retain(table, int(horizon))
    if args.archive_series is not None:
        out["archive_series"] = pipe.archive_series(args.archive_series)
    if args.compact:
        table, _, n = args.compact.partition(":")
        out["compact"] = pipe.compact(table, target_files=int(n) if n else 1)
    if args.fsck:
        out["fsck"] = pipe.fsck()
    out.update({
        "wall_s": round(time.time() - t0, 3),
        "stages": warehouse_status(wh.root)["tables"],
    })
    if args.range_agg:
        lo, hi, w = (int(x) for x in args.range_agg.split(":"))
        rows = pipe.range_agg(lo, hi, w).collect()
        out["range_agg"] = {
            "n_rows": len(rows),
            "sample": [r.asDict() for r in rows[:5]],
            "cover": pipe.range_cover(lo, hi, w),
        }
    if args.range_heavy:
        lo, hi, w, probes_csv = args.range_heavy.split(":", 3)
        rows = pipe.range_heavy(
            int(lo), int(hi), int(w), probes_csv.split(",")
        ).collect()
        out["range_heavy"] = {
            "n_rows": len(rows),
            "sample": [r.asDict() for r in rows[:5]],
        }
    if args.overlap_days:
        da, db = (int(x) for x in args.overlap_days.split(":", 1))
        out["overlap_days"] = pipe.overlap_convs(da, db).collect()[0].asDict()
    if args.active_convs:
        day_s, convs_csv = args.active_convs.split(":", 1)
        rows = pipe.active_convs(int(day_s), convs_csv.split(",")).collect()
        out["active_convs"] = [r.asDict() for r in rows]
    print(json.dumps(out))


if __name__ == "__main__":
    main()
