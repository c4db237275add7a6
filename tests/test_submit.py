"""tools/submit.sh end to end: the package runs from its --py-files zip,
started from a directory outside the repository. The worker daemon
(session.build_session) and the C kernel's source (models/ckernel.py)
must both load from the zip."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(
    shutil.which("spark-submit") is None or shutil.which("zip") is None,
    reason="needs spark-submit and zip",
)
def test_submit_builds_from_the_zip(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", XDG_CACHE_HOME=str(tmp_path / "cache"))
    out = subprocess.run(
        ["bash", os.path.join(REPO, "tools", "submit.sh"),
         "--warehouse", "W", "--input=-synth:20", "--buckets", "2"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    stages = json.loads(out.stdout.strip().splitlines()[-1])["stages"]
    for t in ("raw", "series", "segments", "tier_1m", "tier_1h", "tier_1d"):
        assert stages[t]["buckets"] == 2 and stages[t]["rows"] > 0, (t, stages[t])
    assert stages["tier_1d"]["bytes"] > 0 and stages["tier_1d"]["files"] >= 1
    # the kernel was compiled from the source inside the zip
    assert glob.glob(str(tmp_path / "cache" / "mdbs_ckernel" / "ckernel-*.so"))
