"""Spark session for the benchmark's own tests.

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The status store keeps this many stages; the tests outgrow it on purpose.
RETAINED_STAGES = 30


@pytest.fixture(scope="session")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from rdfrules_spark.session import get_spark

    s = get_spark(
        "perfbench-tests",
        master="local[2]",
        extra_conf={"spark.ui.retainedStages": str(RETAINED_STAGES)},
    )
    yield s
    s.stop()
