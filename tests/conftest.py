from __future__ import annotations

import pytest

from redshift_etl_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Say so when the default ``-m "not slow"`` run left the slow tier
    out, and how to run everything."""
    slow = [
        item
        for item in terminalreporter.stats.get("deselected", [])
        if item.get_closest_marker("slow")
    ]
    if slow:
        terminalreporter.write_line(
            f"{len(slow)} slow-tier tests deselected; run the full suite "
            'with: python -m pytest tests/ -q -m ""'
        )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="redshift_etl_spark_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'"
        )
    yield con
    con.close()
