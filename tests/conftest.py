from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mrs_mapreduce_spark.oracle import CompareResult, check_queries  # noqa: E402
from mrs_mapreduce_spark.registry import load_all  # noqa: E402
from mrs_mapreduce_spark.session import get_session  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_session("mrs-tests", master="local[8]")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


class RegistryPass(dict):
    """``name -> CompareResult`` of the one build of every declared query."""

    def built(self, name: str) -> CompareResult:
        """The query's build; re-raises what its builder raised."""
        result = self[name]
        if result.error is not None:
            raise result.error
        return result


@pytest.fixture(scope="session")
def registry_pass(spark, sf_dir):
    """Every declared query built, planned and collected once at ``sf_dir``
    and checked against its oracle. The oracle, schema, plan-shape and
    row-property tests all read this one pass instead of building again."""
    results = RegistryPass(
        (r.name, r) for r in check_queries(spark, sf_dir)
    )
    assert set(results) == set(load_all())
    return results
