"""Engine-vs-oracle type parity for every catalog entry: each Spark
column's type class must match the DuckDB oracle's Arrow schema
(decimal-vs-float is the one accepted skew).  The value gate cannot see
a skew such as DuckDB's ``sum(BIGINT)`` (HUGEINT) against Spark's
``bigint``, but the driver's hash can.

This reports the ``types`` check of ``tests/oracle_util.catalog_checks``,
so it reads the same build as ``test_oracle_match`` and rebuilds nothing.
"""

from __future__ import annotations

import pytest

from gofast_spark.plans.catalog import ORACLE_SQL
from tests.oracle_util import assert_passed, catalog_checks


@pytest.mark.parametrize("name", sorted(ORACLE_SQL))
def test_type_parity(spark, sf_small, name):
    assert_passed(catalog_checks(spark, name, sf_small), "types")
