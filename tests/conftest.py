from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

from quill_agent_dashboard_pbi_etl_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


BROADCAST_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
# connected_components lanes: "driver" under the session's broadcast budget
# (every test graph fits it), "loop" with the budget disabled.
CC_LANES = ("driver", "loop")


@contextmanager
def cc_lane(spark, lane):
    """Run the body with ``connected_components`` forced onto ``lane``; the
    session's broadcast threshold is restored afterwards, even on failure."""
    old = spark.conf.get(BROADCAST_THRESHOLD)
    if lane == "loop":
        spark.conf.set(BROADCAST_THRESHOLD, "-1")
    try:
        yield
    finally:
        spark.conf.set(BROADCAST_THRESHOLD, old)
