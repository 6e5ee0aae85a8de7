"""Plan invariants over every headline bench query: no cartesian
product and no row-at-a-time Python UDF in the executed plan.

This reports the ``plan`` check of ``tests/oracle_util.catalog_checks``,
so it reads the same build as ``test_oracle_match`` and rebuilds nothing.
"""

from __future__ import annotations

import pytest

import bench
from gofast_spark.plans.catalog import QUERIES
from tests.oracle_util import assert_passed, catalog_checks


@pytest.mark.parametrize("name", [n for n in bench.HEADLINE if n in QUERIES])
def test_headline_no_cartesian_no_row_udfs(spark, sf_small, name):
    assert_passed(catalog_checks(spark, name, sf_small), "plan")
