#!/usr/bin/env python
"""Pipeline throughput and N -> 4N scaling of TierPipeline.run, the
product's ingestion path (bench.bench_pipeline), every run pinned to its
cores.

Child mode (--cpus N): one session on N cores (the first N the process
may use; the orchestrator's taskset picks which) and --passes calls of
bench_pipeline, one JSON line per pass: wall_s, turns_per_sec and the
steal fraction of its cores from /proc/stat. --passes 0 only stages the
input.

Orchestrator mode (no --cpus): N = max(1, nproc // 4). Each pass runs
three measurements, in reverse order on odd passes so host drift hits
all three alike:

    alone  one local[N] child on the first N-core slice, the rest idle
    quad   four local[N] children at once on four disjoint N-core slices:
           four Spark clusters that share nothing but the box, so their
           summed throughput is the hardware ceiling with 4N cores busy
    wide   one local[4N] child on all 4N cores

plus a numpy triad bandwidth probe at N and 4N single-core processes.

    E_total = wide / (4 * alone)   the one-box paired efficiency
    E_hw    = quad / (4 * alone)   the hardware ceiling, no engine in it
    E_spark = wide / quad          the engine's own N -> 4N scaling
    E_total = E_hw * E_spark

On a real N -> 4N cluster every node brings its own memory bus (E_hw ~ 1),
so E_spark is the number that carries over. Each child keeps the best of
two in-session builds (cold, then warm). The alone and quad children get
a quarter of the driver-memory rule's heap and wide gets all of it, so
heap per core is about equal. Writes BENCH_SCALING.md and SCALING_DECOMP.json.

Shuffle bytes per turn of the same pipeline come from
`python3 perfbench/run.py --workload build --trace 1`
(compress.shuffle_write_bytes_per_turn, spark.<stage>.shuffle_write_bytes).

    python tools/scaling_bench.py [--passes 2] [--convs 128] [--turns-base 1000]
    python tools/scaling_bench.py --cpus 4 --passes 3 --convs 100000
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from modelardb_dynamic_spark.session import half_ram  # noqa: E402

TRIAD = (
    "import numpy as np, time\n"
    "n = 128 * 1024 * 1024 // 8\n"
    "b = np.ones(n); c = np.ones(n); a = np.empty(n); best = 0.0\n"
    "for _ in range(3):\n"
    "    t0 = time.time(); np.add(b, 2.0 * c, out=a)\n"
    "    best = max(best, 3 * n * 8 / (time.time() - t0))\n"
    "print(best)\n"
)


def plan(cores: list[int], ram_bytes: int) -> dict:
    """N, the four disjoint N-core slices, the 4N cores, and the heap of a
    quarter-host child (alone, quad) and of the whole-host child (wide)."""
    n = max(1, len(cores) // 4)
    return {
        "n": n,
        "slices": [cores[i * n:(i + 1) * n] for i in range(4)],
        "wide": cores[:4 * n],
        "heap": half_ram(ram_bytes, 4),
        "wide_heap": half_ram(ram_bytes),
    }


def _steal_ticks(cores: set[int]) -> int:
    with open("/proc/stat") as f:
        names = {f"cpu{c}" for c in cores}
        return sum(int(ln.split()[8]) for ln in f if ln.split()[0] in names)


def child(cpus: int, passes: int, convs: int, turns_base: int) -> None:
    cores = set(sorted(os.sched_getaffinity(0))[:cpus])
    os.sched_setaffinity(0, cores)  # the JVM and its workers inherit it
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from bench import bench_pipeline, stage_input
    from modelardb_dynamic_spark.session import build_session

    spark = build_session(f"scaling-{cpus}-{os.getpid()}", master=f"local[{cpus}]")
    stage_input(spark, convs, turns_base)
    for p in range(passes):
        s0, t0 = _steal_ticks(cores), time.time()
        wall, n_turns = bench_pipeline(spark, convs, turns_base)
        ticks = os.sysconf("SC_CLK_TCK") * cpus * (time.time() - t0)
        print(json.dumps({
            "pass": p, "cpus": cpus, "n_turns": n_turns,
            "wall_s": round(wall, 2),
            "turns_per_sec": round(n_turns / wall, 1),
            "steal_frac": round((_steal_ticks(cores) - s0) / ticks, 3),
        }), flush=True)
    spark.stop()


def _spawn(cores: list[int], heap: str, *args: str) -> subprocess.Popen:
    return subprocess.Popen(
        ["taskset", "-c", ",".join(map(str, cores)), sys.executable, *args],
        stdout=subprocess.PIPE, text=True, cwd=REPO,
        env={**os.environ, "SPARK_DRIVER_MEMORY": heap},
    )


def _child(cores: list[int], heap: str, passes: int, convs: int,
           turns_base: int) -> subprocess.Popen:
    return _spawn(cores, heap, os.path.abspath(__file__), "--cpus",
                  str(len(cores)), "--passes", str(passes), "--convs",
                  str(convs), "--turns-base", str(turns_base))


def _rows(p: subprocess.Popen) -> list[dict]:
    out, _ = p.communicate()
    if p.returncode != 0:
        raise RuntimeError(f"{p.args} failed rc={p.returncode}")
    return [json.loads(ln) for ln in out.splitlines() if ln.startswith("{")]


def _run(pl: dict, what: str, convs: int, turns_base: int) -> list[dict]:
    """One measurement: its children at once, each child's best pass."""
    jobs = {
        "alone": [(pl["slices"][0], pl["heap"])],
        "quad": [(s, pl["heap"]) for s in pl["slices"]],
        "wide": [(pl["wide"], pl["wide_heap"])],
    }[what]
    procs = [_child(c, heap, 2, convs, turns_base) for c, heap in jobs]
    return [max(_rows(p), key=lambda r: r["turns_per_sec"]) for p in procs]


def _triad_gbs(cores: list[int]) -> float:
    procs = [_spawn([c], "1g", "-c", TRIAD) for c in cores]
    return round(sum(float(p.communicate()[0]) for p in procs) / 1e9, 2)


def orchestrate(passes: int, convs: int, turns_base: int) -> None:
    cores = sorted(os.sched_getaffinity(0))
    if len(cores) < 4:
        sys.exit("the N -> 4N comparison needs at least 4 cores")
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    pl = plan(cores, ram)
    # stage the shared input once: concurrent children would race on it
    _rows(_child(pl["wide"], pl["wide_heap"], 0, convs, turns_base))
    recs = []
    for p in range(passes):
        order = ("alone", "quad", "wide")[:: 1 if p % 2 == 0 else -1]
        rec: dict = {"pass": p, "order": list(order)}
        rec["bw_gbs_n"] = _triad_gbs(pl["slices"][0])
        rec["bw_gbs_4n"] = _triad_gbs(pl["wide"])
        rec["bw_scale"] = round(rec["bw_gbs_4n"] / (4 * rec["bw_gbs_n"]), 3)
        for what in order:
            runs = _run(pl, what, convs, turns_base)
            rec[what] = round(sum(r["turns_per_sec"] for r in runs), 1)
            rec[f"{what}_runs"] = runs
        rec["E_total"] = round(rec["wide"] / (4 * rec["alone"]), 3)
        rec["E_hw"] = round(rec["quad"] / (4 * rec["alone"]), 3)
        rec["E_spark"] = round(rec["wide"] / rec["quad"], 3)
        recs.append(rec)
        print(json.dumps(rec), flush=True)
    write_reports({
        "host": f"{os.cpu_count()} cores, {ram / (1 << 30):.1f} GiB RAM",
        "n": pl["n"], "convs": convs, "turns_base": turns_base,
        "input_turns": recs[0]["wide_runs"][0]["n_turns"],
        "heaps": {"alone_quad": pl["heap"], "wide": pl["wide_heap"]},
        "passes": recs,
        "median": {k: round(statistics.median(r[k] for r in recs), 3)
                   for k in ("E_total", "E_hw", "E_spark")},
    })


def write_reports(report: dict) -> None:
    """SCALING_DECOMP.json (everything) and BENCH_SCALING.md (the table)."""
    with open(os.path.join(REPO, "SCALING_DECOMP.json"), "w") as f:
        json.dump(report, f, indent=1)
    med = report["median"]
    rows = "".join(
        f"| {r['pass']} | {','.join(r['order'])} | {r['alone']:.0f} "
        f"| {r['quad']:.0f} | {r['wide']:.0f} | **{r['E_total']}** "
        f"| {r['E_hw']} | {r['E_spark']} | {r['bw_scale']} |\n"
        for r in report["passes"]
    )
    with open(os.path.join(REPO, "BENCH_SCALING.md"), "w") as f:
        f.write(
            "# BENCH_SCALING — latest N -> 4N scaling run\n\n"
            "Written by `tools/scaling_bench.py` (method in its docstring). "
            "It times `TierPipeline.run` (raw -> series -> segments -> "
            "1m/1h/1d tiers, CLI defaults, a fresh 32-bucket warehouse per "
            "build) on one staged input at N and 4N taskset-pinned cores; "
            "each child keeps the best of two in-session builds.\n\n"
            f"Host: {report['host']}. N = {report['n']}. Input: "
            f"{report['input_turns']} turns ({report['convs']} conversations, "
            f"turns_base {report['turns_base']}). Heaps: "
            f"{report['heaps']['alone_quad']} per alone/quad child, "
            f"{report['heaps']['wide']} for wide.\n\n"
            "| pass | order | alone turns/s | quad turns/s (sum of 4) "
            "| wide turns/s | E_total | E_hw | E_spark | triad bw_scale |\n"
            "|---|---|---|---|---|---|---|---|---|\n" + rows +
            f"\nMedian over passes: **E_total {med['E_total']}** (paired: "
            f"wide / (4 * alone) within one pass), E_hw {med['E_hw']}, "
            f"E_spark {med['E_spark']}. Per-run walls and steal fractions "
            "are in SCALING_DECOMP.json.\n"
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=None,
                    help="child mode: one session on this many cores")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--convs", type=int, default=128)
    ap.add_argument("--turns-base", type=int, default=1000)
    args = ap.parse_args()
    # shuffle files on tmpfs, as bench.py (session.build_session gates it)
    os.environ.setdefault("MDBS_TMPFS_LOCAL_DIR", "1")
    if args.cpus is not None:
        child(args.cpus, args.passes, args.convs, args.turns_base)
    else:
        orchestrate(args.passes, args.convs, args.turns_base)


if __name__ == "__main__":
    main()
