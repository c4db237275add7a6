"""The pipeline benchmark harness stays runnable: bench.bench_pipeline
builds TierPipeline into a fresh warehouse on every call, and
tools/scaling_bench.py plans its N -> 4N runs from the host's cores and
RAM."""

from __future__ import annotations

import importlib.util
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def test_bench_pipeline_builds_fresh_each_call(spark, tmp_path, monkeypatch):
    import bench
    from modelardb_dynamic_spark.plans.pipeline import TierPipeline

    builds = []
    run = TierPipeline.run

    def audited_run(self, transcripts, sketches=False):
        assert not os.listdir(self.wh.root), "the warehouse must start empty"
        run(self, transcripts, sketches)
        report = self.fsck()
        assert report and all(not t["mismatches"] for t in report.values()), report
        builds.append((self.wh.root, report["raw"]["rows_actual"]))

    monkeypatch.setattr(TierPipeline, "run", audited_run)
    inp = str(tmp_path / "input")
    first = bench.bench_pipeline(spark, 64, 200, input_dir=inp)
    second = bench.bench_pipeline(spark, 64, 200, input_dir=inp)
    n_turns = spark.read.parquet(inp).count()
    assert first[1] == second[1] == n_turns
    assert first[0] > 0 and second[0] > 0
    # two builds, each of every staged turn, neither a resume
    assert [rows for _, rows in builds] == [n_turns, n_turns]
    assert builds[0][0] != builds[1][0]
    assert not any(os.path.exists(root) for root, _ in builds)
    assert bench.bench_pipeline.last_stats["n_points"] > 0


def _scaling_bench():
    path = os.path.join(REPO, "tools", "scaling_bench.py")
    spec = importlib.util.spec_from_file_location("scaling_bench", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_scaling_plan_fits_the_host():
    plan = _scaling_bench().plan
    small = plan(list(range(4)), 15 << 30)
    assert small == {
        "n": 1, "slices": [[0], [1], [2], [3]], "wide": [0, 1, 2, 3],
        "heap": "1g", "wide_heap": "7g",
    }
    big = plan(list(range(16)), 64 << 30)
    assert big["n"] == 4
    assert big["slices"] == [list(range(i, i + 4)) for i in (0, 4, 8, 12)]
    assert big["wide"] == list(range(16))
    assert (big["heap"], big["wide_heap"]) == ("8g", "24g")
