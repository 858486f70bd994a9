"""The ``timeout`` marker: ``@pytest.mark.timeout(seconds)`` fails a
test whose call phase runs longer than ``seconds``.

No timeout plugin is installed, so ``conftest.py`` loads these hooks.
The bound is a SIGALRM from ``signal.setitimer``; Python runs signal
handlers only in the main thread, so a test run outside it is left
unbounded. The handler raises inside whatever Python frame the test is
executing, including a blocking socket or sleep call.
"""

from __future__ import annotations

import signal
import threading

import pytest


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "timeout(seconds): fail the test when its call phase runs longer "
        "than this many seconds",
    )


@pytest.hookimpl(wrapper=True)
def pytest_runtest_call(item):
    marker = item.get_closest_marker("timeout")
    if (
        marker is None
        or item.config.pluginmanager.hasplugin("timeout")
        or threading.current_thread() is not threading.main_thread()
    ):
        return (yield)
    seconds = float(marker.args[0] if marker.args else marker.kwargs["seconds"])

    def expire(signum, frame):
        pytest.fail(f"test ran past its {seconds:g} s timeout", pytrace=False)

    previous = signal.signal(signal.SIGALRM, expire)
    signal.setitimer(signal.ITIMER_REAL, seconds)
    try:
        return (yield)
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, previous)
