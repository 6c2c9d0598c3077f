from __future__ import annotations

import gc
import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_collection_modifyitems(config, items):
    """Default-skip the slow tier (r12, VERDICT r11 item 2): the
    driver's time-boxed ``pytest tests/ -x -q`` must finish; the
    hypothesis sweeps / stress protocols / brute-force twins listed in
    tests/slow_tier.py run with ``RUN_SLOW=1`` (the round-closing
    protocol). See slow_tier.py's docstring for the measured budget."""
    if os.environ.get("RUN_SLOW"):
        return
    from slow_tier import SLOW_TESTS  # tests/ is the rootdir on sys.path

    skip = pytest.mark.skip(
        reason="slow tier (>=3 s measured) — set RUN_SLOW=1 to include"
    )
    here = os.path.dirname(os.path.abspath(__file__))
    for item in items:
        rel = os.path.relpath(str(item.fspath), here)
        if f"{rel}::{item.name}" in SLOW_TESTS:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from prosnet_prefect_pipelines_spark.session import get_spark

    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@contextmanager
def py4j_calls():
    """Count Py4J commands Python sends to the JVM inside the block.

    Yields a one-key dict whose ``"n"`` grows with each ``send_command``
    on either py4j connection class (classic gateway or pinned-thread
    client/server). Cyclic GC is paused inside the block: a collection
    there would add object-release commands for garbage made earlier.
    """
    from py4j import clientserver, java_gateway

    counter = {"n": 0}
    patched = []
    for cls in (java_gateway.GatewayConnection, clientserver.ClientServerConnection):
        orig = cls.send_command

        def counting(self, command, _orig=orig):
            counter["n"] += 1
            return _orig(self, command)

        cls.send_command = counting
        patched.append((cls, orig))
    gc.collect()
    gc.disable()
    try:
        yield counter
    finally:
        gc.enable()
        for cls, orig in patched:
            cls.send_command = orig
