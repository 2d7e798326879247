"""Shared pytest fixtures: reference-module import helper + SparkSession."""

from __future__ import annotations

import os
import sys

import pytest

REFERENCE_PATH = "/root/reference"


def import_reference(name: str):
    """Import a module from the read-only reference repo for parity checks.

    Used ONLY to compute expected values in tests (the reference's geometry
    functions are importable pure functions; network mains are guarded by
    __main__). Engine code never imports from the reference.

    Without the reference tree the calling test fails with one message
    ("reference tree absent") instead of a ModuleNotFoundError.
    """
    if not os.path.isdir(REFERENCE_PATH):
        pytest.fail(
            f"reference tree absent: {REFERENCE_PATH} is needed to import "
            f"'{name}' for this parity check",
            pytrace=False,
        )
    if REFERENCE_PATH not in sys.path:
        sys.path.insert(0, REFERENCE_PATH)
    import importlib

    return importlib.import_module(name)


@pytest.fixture(scope="session")
def spark():
    from building2osm_spark.session import get_spark

    s = get_spark(app="tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def final_plan():
    """Executed-plan string, final plan only (AQE prints '== Initial
    Plan ==' after it; assertions must not match the initial one)."""

    def _fp(df) -> str:
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.split("== Initial Plan ==")[0]

    return _fp
