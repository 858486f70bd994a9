"""Driver-contract smoke tests: entry() and queries()/oracle_sql() shape."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

import __spark_entry__ as entrymod

REPO = Path(__file__).resolve().parent.parent

# Imports the engine through sys.path alone, from a directory outside
# the repo, and prints the sorted survivor ids of a query whose pandas
# UDFs the Python workers must import from the package.
_SYS_PATH_ONLY = """
import json, sys
sys.path.insert(0, sys.argv[1])
from big_data_computing__spark.session import get_session
import __spark_entry__ as entrymod
spark = get_session()
rows = entrymod.queries()["x_semdedup_survivors"](spark, sys.argv[2]).collect()
print(json.dumps(sorted(r["vec_id"] for r in rows)))
spark.stop()
"""


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert set(df.columns) == {"sure_outliers", "uncertain_points"}


def test_queries_oracle_keys_align(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 30
    # every oracle key must have a query
    assert set(oracles) <= set(qs)
    # r6 retired the LAST unoracled row: a14 is re-registered over the
    # corrected deterministic HLL (linear-counting small range), so
    # every registered query now carries a DuckDB value oracle
    unoracled = set(qs) - set(oracles)
    assert unoracled == set()


def test_all_queries_run_sf0001(spark, sf_dir):
    """Every callable returns a DataFrame with a stable schema at the
    smoke scale factor."""
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        assert df.columns, name
        df.limit(5).collect()


def test_workers_import_package_found_only_on_sys_path(
    spark, sf_dir, tmp_path
):
    """A caller that puts the repo on ``sys.path`` (not PYTHONPATH, not
    the working directory) still runs Python-UDF queries: the session
    hands the package's directory to the workers. A broken copy of the
    package in the working directory does not shadow it in the workers
    (Spark starts their daemon with ``python -m``)."""
    script = tmp_path / "sys_path_only.py"
    script.write_text(_SYS_PATH_ONLY)
    shadowed = tmp_path / "shadowed"
    (shadowed / "big_data_computing__spark").mkdir(parents=True)
    (shadowed / "big_data_computing__spark" / "__init__.py").write_text(
        'raise ImportError("package copy in the working directory")\n'
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    want = sorted(
        r["vec_id"]
        for r in entrymod.queries()["x_semdedup_survivors"](
            spark, sf_dir
        ).collect()
    )
    assert want
    for cwd in (tmp_path, shadowed):
        run = subprocess.run(
            [sys.executable, str(script), str(REPO), sf_dir],
            cwd=cwd,
            env=env,
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert run.returncode == 0, (cwd, run.stderr[-4000:])
        got = json.loads(run.stdout.strip().splitlines()[-1])
        assert got == want, cwd
