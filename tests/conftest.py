from __future__ import annotations

import os

import pytest

from traffic_accidents_airflow_kafka_spark.session import get_spark

#: Default local gate runs at sf0.001 for speed; the driver judges at
#: sf0.01 — set SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01 (or run
#: scripts/verify_oracle.py) before shipping query changes.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    spark = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


#: Skip reason of the golden-file pins in test_pipeline.py, which need the
#: reference repository's committed data on disk.
GOLDEN_SKIP_REASON = "reference golden file not available"


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Name every golden-file pin that skipped because the reference data
    is absent, so the coverage gap shows in the summary instead of being
    folded into a bare skip count."""
    skipped = [
        rep.nodeid
        for rep in terminalreporter.stats.get("skipped", [])
        if isinstance(rep.longrepr, tuple) and GOLDEN_SKIP_REASON in rep.longrepr[2]
    ]
    if skipped:
        terminalreporter.section("golden-file pins NOT run (reference data absent)")
        for nodeid in skipped:
            terminalreporter.line(nodeid)
