"""The build's Python workers: build_session's workers fork from the
package's daemon with the kernel modules already imported, and a build
starts them once per SparkContext, from ingest_raw, on the daemon that
compress's mapInArrow then reuses.

Spark keeps one worker daemon per set of worker environment variables, so
a test that adds a fresh variable to sc.environment gets a daemon, and
workers, of its own."""

from __future__ import annotations

import os
import sys
import uuid

import pyarrow as pa
import pytest

from modelardb_dynamic_spark.config import EngineConfig
from modelardb_dynamic_spark.plans import pipeline as pl
from modelardb_dynamic_spark.sources.catalog import Warehouse
from modelardb_dynamic_spark.sources.transcripts import generate_transcripts

DAEMON = "modelardb_dynamic_spark.daemon"


@pytest.fixture
def fresh_daemon(spark):
    """Route this test's Python UDFs to a daemon no earlier test used."""
    env = spark.sparkContext.environment
    key = "MDBS_TEST_DAEMON"
    env[key] = uuid.uuid4().hex
    yield
    del env[key]


def _daemons(spark) -> set[int]:
    """Pids of the package worker daemons this session's JVM runs."""
    jvm = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    out = set()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{name}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if ppid == jvm and DAEMON.encode() in argv:
            out.add(int(name))
    return out


def _probe(spark, n: int) -> list:
    def entry(batches):
        mods = dict(sys.modules)  # as the worker entered the UDF
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "ppid": [os.getppid()],
            "kernels": ["modelardb_dynamic_spark.operators.compress" in mods
                        and "modelardb_dynamic_spark.operators.rollup" in mods],
            "pandas": ["pandas" in mods],
        })

    return spark.range(0, n, 1, n).mapInArrow(
        entry, "ppid long, kernels boolean, pandas boolean"
    ).collect()


def test_fresh_worker_has_kernels_imported(spark, fresh_daemon):
    before = _daemons(spark)
    rows = _probe(spark, 2)
    new = _daemons(spark) - before
    assert len(new) == 1
    assert {r["ppid"] for r in rows} == new
    assert all(r["kernels"] and r["pandas"] for r in rows), rows


STAGES = ["ingest_raw", "build_series", "build_segments", "build_tiers"]


def _stage_jobs(spark, root: str, inp) -> dict[str, int]:
    """Spark jobs of each stage of one TierPipeline build (one chunk) into a
    new warehouse. Counted after the build: the warm-up job that
    ingest_raw starts in its job group may be submitted after it returns."""
    sc = spark.sparkContext
    p = pl.TierPipeline(
        spark, Warehouse(root, n_buckets=2),
        EngineConfig(error_bound=10.0, sampling_interval_ms=60_000),
    )
    groups = {}
    for stage in STAGES:
        groups[stage] = uuid.uuid4().hex
        sc.setJobGroup(groups[stage], stage)
        try:
            getattr(p, stage)(*([inp] if stage == "ingest_raw" else []))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    return {s: len(sc.statusTracker().getJobIdsForGroup(g)) for s, g in groups.items()}


def _staged_input(spark, tmp_path):
    path = str(tmp_path / "in")
    generate_transcripts(spark, n_convs=8, turns_base=24).write.parquet(path)
    return spark.read.parquet(path)


def test_build_starts_workers_once(spark, fresh_daemon, monkeypatch, tmp_path):
    """The first build of a SparkContext runs one warm-up job more than a
    second build, in ingest_raw, and starts exactly one daemon: the
    warm-up's is the one compress and a later mapInArrow use."""
    inp = _staged_input(spark, tmp_path)
    monkeypatch.setattr(pl, "_WARMUPS", {})
    before = _daemons(spark)
    first = _stage_jobs(spark, str(tmp_path / "a"), inp)
    new = _daemons(spark) - before
    assert len(new) == 1
    assert list(pl._WARMUPS) == [spark.sparkContext.applicationId]
    second = _stage_jobs(spark, str(tmp_path / "b"), inp)
    assert first == {**second, "ingest_raw": second["ingest_raw"] + 1}, (first, second)
    assert {r["ppid"] for r in _probe(spark, 1)} == new


def test_build_stage_job_counts(spark, tmp_path):
    """Spark jobs per build stage, pinned once the workers are warm: a
    layout step that re-runs compress, or a job that re-reads what a
    stage wrote, adds jobs here."""
    pl._start_python_workers(spark)
    pl._join_python_workers(spark)
    jobs = _stage_jobs(spark, str(tmp_path / "wh"), _staged_input(spark, tmp_path))
    assert jobs == {
        "ingest_raw": 2, "build_series": 2, "build_segments": 2, "build_tiers": 5,
    }


def test_warm_up_failure_surfaces_once_at_the_join(spark, monkeypatch):
    def boom(batches):
        raise ValueError("warm-up failed on purpose")
        yield

    monkeypatch.setattr(pl, "_WARMUPS", {})
    monkeypatch.setattr(pl, "_no_rows", boom)
    pl._start_python_workers(spark)
    with pytest.raises(RuntimeError, match="starting the Python workers failed"):
        pl._join_python_workers(spark)
    pl._join_python_workers(spark)
