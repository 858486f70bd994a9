from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from big_data_computing__spark.session import get_session
from timeouts import pytest_configure, pytest_runtest_call  # noqa: F401

SF_DIR = "/root/testdata/sf0.001"


# JVM-heap watermark across the suite: the r6 full run saw ONE
# unexplained JVM death in the final minutes with no hs_err trace.
# Track the peak used heap (and the test that set it) after every
# test, so a dead JVM leaves a diagnosable last-known state instead of
# forcing a blind re-run. Cost: one py4j Runtime call per test (~ms).
_WATERMARK = {"used_mib": 0.0, "max_mib": 0.0, "test": None, "n": 0}


@pytest.fixture(autouse=True)
def _jvm_heap_watermark(request):
    yield
    spark_fixture = request.node.funcargs.get("spark")
    if spark_fixture is None:
        return
    try:
        rt = spark_fixture._jvm.java.lang.Runtime.getRuntime()
        used = (rt.totalMemory() - rt.freeMemory()) / (1 << 20)
        _WATERMARK["n"] += 1
        _WATERMARK["max_mib"] = rt.maxMemory() / (1 << 20)
        if used > _WATERMARK["used_mib"]:
            _WATERMARK["used_mib"] = used
            _WATERMARK["test"] = request.node.nodeid
    except Exception:  # noqa: BLE001 — a dying JVM must not mask the test
        pass


def pytest_sessionfinish(session, exitstatus):
    if not _WATERMARK["n"]:
        return
    import resource

    rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    print(
        f"\n[mem-watermark] peak JVM used heap "
        f"{_WATERMARK['used_mib']:.0f} MiB of "
        f"{_WATERMARK['max_mib']:.0f} MiB (set by {_WATERMARK['test']}); "
        f"python maxrss {rss:.0f} MiB; sampled after "
        f"{_WATERMARK['n']} tests"
    )


@pytest.fixture(scope="session")
def spark():
    spark = get_session(app_name="bdc_tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
