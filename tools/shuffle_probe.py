#!/usr/bin/env python
"""Deterministic shuffle-byte accounting for the tier pipeline.

Runs bench.bench_pipeline once with the Spark UI's REST API enabled and
sums per-stage shuffle read/write bytes — the BENCH.md "shuffle bytes per
turn" evidence. Byte counts are
deterministic (same plan, same data, zstd), unlike wall time on this
noisy-neighbor box, so ONE pass per configuration is a valid measurement.

    python tools/shuffle_probe.py --convs 265000 --turns-base 26000 --cpus 16
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ.setdefault("MDBS_TMPFS_LOCAL_DIR", "1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--convs", type=int, default=265_000)
    ap.add_argument("--turns-base", type=int, default=26_000)
    ap.add_argument("--cpus", type=int, default=16)
    args = ap.parse_args()

    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    from bench import bench_pipeline
    from modelardb_dynamic_spark.session import build_session

    spark = build_session(
        "shuffle-probe",
        master=f"local[{args.cpus}]",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4951"},
    )
    wall, n_turns = bench_pipeline(
        spark, n_convs=args.convs, turns_base=args.turns_base
    )
    app_id = spark.sparkContext.applicationId
    url = f"http://localhost:4951/api/v1/applications/{app_id}/stages"
    stages = json.load(urllib.request.urlopen(url))
    done = [s for s in stages if s["status"] == "COMPLETE"]
    write_b = sum(s["shuffleWriteBytes"] for s in done)
    read_b = sum(s["shuffleReadBytes"] for s in done)
    top = sorted(done, key=lambda s: -s["shuffleWriteBytes"])[:5]
    print(json.dumps({
        "n_turns": n_turns,
        "wall_s": round(wall, 2),
        "shuffle_write_bytes": write_b,
        "shuffle_read_bytes": read_b,
        "shuffle_write_bytes_per_turn": round(write_b / n_turns, 2),
        "top_stages": [
            {
                "stage": s["stageId"],
                "name": s["name"].split("\n")[0][:60],
                "write_mb": round(s["shuffleWriteBytes"] / 1e6, 1),
            }
            for s in top if s["shuffleWriteBytes"]
        ],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
