"""``tools/verify_oracle.py`` reports the queries it ran, and refuses a
filter that names an unregistered query."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

TOOL = Path(__file__).resolve().parent.parent / "tools" / "verify_oracle.py"


def _run(*args: str) -> subprocess.CompletedProcess:
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    return subprocess.run(
        [sys.executable, str(TOOL), *args],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_filtered_run_counts_only_selected_queries(sf_dir):
    run = _run(sf_dir, "c5_radius_fixed_centers")
    assert run.returncode == 0, run.stderr[-4000:]
    verdict = run.stdout.strip().splitlines()[-1]
    assert verdict.startswith("1/1 queries pass"), verdict


def test_unregistered_filter_name_fails():
    run = _run("/nonexistent", "no_such_query")
    assert run.returncode != 0
    assert "no_such_query" in run.stderr
