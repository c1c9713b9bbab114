from __future__ import annotations

import contextlib
import os
import sys
from unittest import mock

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tomixpanel_spark.session import session_builder  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("TOMIX_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = (
        session_builder("tomixpanel_tests", master="local[4]", shuffle_partitions=4)
        .config("spark.driver.memory", "4g")
        .config("spark.sql.warehouse.dir", "/tmp/tomix_test_warehouse")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


ASOF_PLANS = ("broadcast", "window")


@contextlib.contextmanager
def asof_plan(plan: str):
    """Set the as-of gate for ``plan``: unset for the broadcast plan (test
    right sides fit), 0 for the window plan. A context manager rather than
    a monkeypatch so Hypothesis tests can switch plans inside one example."""
    with mock.patch.dict(os.environ):
        os.environ.pop("TOMIX_ASOF_BCAST_ROWS", None)
        if plan == "window":
            os.environ["TOMIX_ASOF_BCAST_ROWS"] = "0"
        yield


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'"
        )
    yield con
    con.close()


# Test tiers (round-14 verdict #8): the full suite is a ~20 min wall;
# `pytest -m fast` is the pre-commit signal (<5 min) and the full run
# stays the per-round gate. Module-level assignment, documented in
# GATES.md §Test tiers and CI-enforced by
# tests/test_plans.py::test_slow_tier_doc_matches_conftest. A module is
# slow when its tests are end-to-end machines (the 120-query oracle
# parity sweep, real Structured Streaming engines, persistent-store
# merge paths) rather than operator/plan checks.
SLOW_MODULES = {
    "test_advanced",
    "test_oracle_parity",
    "test_streaming_dedup",
    "test_windowed",
    "test_cagg",
    "test_dedup_index",
    "test_scale_guards",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        mod = item.module.__name__.rsplit(".", 1)[-1]
        if mod in SLOW_MODULES or item.get_closest_marker("slow"):
            item.add_marker(pytest.mark.slow)
        else:
            item.add_marker(pytest.mark.fast)
