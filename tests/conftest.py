from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REFERENCE = "/root/reference"
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


def reference_path(*parts: str) -> str:
    return os.path.join(REFERENCE, *parts)


def has_reference() -> bool:
    return os.path.isdir(REFERENCE)


@pytest.fixture(scope="session")
def spark():
    from topicrawler_spark.session import get_spark

    s = get_spark(
        app_name="topicrawler-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "512"},
    )
    yield s
    s.stop()


REFERENCE_SKIP_REASON = "reference fixtures unavailable"
BYTE_IDENTICAL_GATE = "test_reference_html_fixtures_byte_identical"


def pytest_terminal_summary(terminalreporter):
    """Say how many tests skipped for want of the reference checkout, so a
    green run without it does not pass for a run of every gate."""
    skipped = [
        r for r in terminalreporter.stats.get("skipped", [])
        if REFERENCE_SKIP_REASON in str(r.longrepr)
    ]
    if not skipped:
        return
    terminalreporter.write_sep(
        "-", f"{len(skipped)} skipped because {REFERENCE} is absent"
    )
    for r in skipped:
        if BYTE_IDENTICAL_GATE in r.nodeid:
            terminalreporter.write_line(
                f"among them the byte-identical extraction gate: {r.nodeid}"
            )
