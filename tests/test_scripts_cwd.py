"""The scripts under scripts/ must run from any working directory.

Spark's Python workers import the package too, and they inherit the
environment, not the launching process's sys.path; an entry whose
pandas UDF is pickled by reference to the package (phash_neardup) is
the one that shows it.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_check_correctness_runs_outside_repo_root(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "scripts", "check_correctness.py"),
            "/root/testdata/sf0.001",
            "phash_neardup",
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "ModuleNotFoundError" not in proc.stderr + proc.stdout
    assert proc.returncode == 0, proc.stdout[-2000:]
    assert "1/1 OK" in proc.stdout
