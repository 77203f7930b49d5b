"""Fixtures for the benchmark's self-tests: ``python3 -m pytest kgbench -q``
from the repository root."""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
os.environ.setdefault("NOUS_SPARK_DRIVER_MEM", "2g")


@pytest.fixture(scope="session")
def spark():
    from nous_spark.session import get_spark

    s = get_spark(app_name="kgbench-tests", cores=2, extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()
