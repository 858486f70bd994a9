"""``@pytest.mark.timeout`` bounds a test without a timeout plugin
(``tests/timeouts.py``). No Spark session is needed."""

from __future__ import annotations

import time

pytest_plugins = ("pytester",)


def test_timeout_marker_fails_a_test_that_runs_past_it(pytester):
    pytester.makepyfile(
        """
        import time
        import pytest

        @pytest.mark.timeout(1)
        def test_sleeps():
            time.sleep(5)
        """
    )
    t0 = time.monotonic()
    result = pytester.runpytest_inprocess("-p", "timeouts")
    elapsed = time.monotonic() - t0
    result.assert_outcomes(failed=1)
    result.stdout.fnmatch_lines(["*ran past its 1 s timeout*"])
    assert elapsed < 3.0
