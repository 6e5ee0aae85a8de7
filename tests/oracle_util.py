"""Differential-check helper: run a catalog query on Spark and its oracle
SQL on DuckDB over the same parquet, then check the one collected frame
three ways — row count + order-insensitive values (the driver's t2 gate,
approximated locally), column type classes against DuckDB's Arrow schema,
and the executed plan's invariants (no cartesian product, no row-at-a-time
Python UDF)."""

from __future__ import annotations

import math
import os
from collections import Counter

import duckdb
import pyarrow as pa
from pyspark.sql import types as T

from gofast_spark.plans.audit import audit_plan

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def duck_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Preserve the IEEE sign bit on zero: the driver's hash distinguishes
        # -0.0 from +0.0 (r2 cyclical_month_orders failure) — the local gate
        # must be at least as strict so local green predicts driver green.
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "-0"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        # Full-precision repr (r8 verdict ask #3): the driver hashes raw
        # values, so a 6-sig-digit local gate let sub-1e-6 engine/oracle
        # divergences (funnel_latencies_events's fractional-epoch oracle)
        # pass locally and fail the driver.  Strict local gate = local
        # green predicts driver green.
        return repr(v)
    if isinstance(v, int):
        return str(v)
    return str(v)


def normalize_rows(columns, rows):
    """Sort columns by name, stringify cells, sort rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = ["|".join(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out), [columns[i] for i in order]


# The value gate cannot see type skews (Decimal(0) == 0), but the
# driver's hash renders integers and Decimals differently: DuckDB's
# sum(BIGINT) is HUGEINT, i.e. Arrow decimal128(38,0) against Spark's
# bigint.  decimal-vs-float is the one driver-compatible skew (float
# coercion hashes Decimal('87.5') and 87.5 equal); every other pair
# must match.
_COMPATIBLE = {frozenset({"decimal", "float"})}


def spark_type_class(dt: T.DataType) -> str:
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "date"
    # NTZ-vs-instant timestamps hash identically through the driver's
    # tz-naive rendering; both map to one class (the VALUE gate still
    # catches any actual instant shift).
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.ArrayType):
        return f"array<{spark_type_class(dt.elementType)}>"
    return dt.typeName()


def arrow_type_class(dt: pa.DataType) -> str:
    if pa.types.is_integer(dt):
        return "int"
    if pa.types.is_floating(dt):
        return "float"
    if pa.types.is_decimal(dt):
        return "decimal"
    if pa.types.is_string(dt) or pa.types.is_large_string(dt):
        return "string"
    if pa.types.is_boolean(dt):
        return "bool"
    if pa.types.is_date(dt):
        return "date"
    if pa.types.is_timestamp(dt):
        return "timestamp"
    if pa.types.is_list(dt) or pa.types.is_large_list(dt):
        return f"array<{arrow_type_class(dt.value_type)}>"
    return str(dt)


def oracle_arrow_schema(con, sql: str) -> pa.Schema:
    """DuckDB Arrow schema of an oracle; LIMIT-0 wrap keeps it cheap,
    full execution is the fallback for any non-wrappable statement."""
    try:
        return con.execute(f"SELECT * FROM (\n{sql}\n) __tp LIMIT 0").arrow().schema
    except Exception:  # pragma: no cover - non-wrappable statement
        return con.execute(sql).arrow().schema


def row_difference(s_norm, d_norm, shown: int = 5) -> str:
    """The multiset difference of two normalized row lists: how many
    rows each side has that the other lacks, and up to ``shown`` of
    each."""
    s_only = list((Counter(s_norm) - Counter(d_norm)).elements())
    d_only = list((Counter(d_norm) - Counter(s_norm)).elements())
    return (f"{len(s_only)} rows only in spark {s_only[:shown]!r}; "
            f"{len(d_only)} rows only in duck {d_only[:shown]!r}")


def checks(spark, name, sf_dir, query_fn, sql) -> dict[str, str | None]:
    """Build and collect the entry once; return each check's failure
    message (``None`` when it passes) under ``values``, ``types`` and
    ``plan``."""
    sdf = query_fn(spark, sf_dir)
    s_rows = sdf.collect()
    s_cols = sdf.columns
    con = duck_conn(sf_dir)
    res = con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    a_schema = oracle_arrow_schema(con, sql)
    con.close()

    s_norm, s_colnames = normalize_rows(s_cols, [tuple(r) for r in s_rows])
    d_norm, d_colnames = normalize_rows(d_cols, d_rows)
    values = None
    if s_colnames != d_colnames:
        values = f"{name}: column mismatch spark={s_colnames} duck={d_colnames}"
    elif len(s_norm) != len(d_norm):
        values = (f"{name}: row count mismatch spark={len(s_norm)} "
                  f"duck={len(d_norm)}; {row_difference(s_norm, d_norm)}")
    elif s_norm != d_norm:
        values = f"{name}: {row_difference(s_norm, d_norm)} cols={s_colnames}"

    s_types = {f.name: spark_type_class(f.dataType) for f in sdf.schema.fields}
    d_types = {f.name: arrow_type_class(f.type) for f in a_schema}
    types = None
    if sorted(s_types) != sorted(d_types):
        types = (f"{name}: column name mismatch spark={sorted(s_types)} "
                 f"duck={sorted(d_types)}")
    else:
        skews = {
            c: (s_types[c], d_types[c])
            for c in s_types
            if s_types[c] != d_types[c]
            and frozenset({s_types[c], d_types[c]}) not in _COMPATIBLE
        }
        if skews:
            types = (f"{name}: engine-vs-oracle type-class skew (driver hash "
                     f"will diverge even when values agree): {skews}")

    # collect() ran this frame's own QueryExecution, so the audit reads
    # the final adaptive plan
    a = audit_plan(sdf)
    plan = "; ".join(
        msg for bad, msg in (
            (a["cartesian_joins"], f"{name} plans a cartesian product"),
            (a["python_row_udfs"], f"{name} uses a row-at-a-time UDF"),
        ) if bad
    ) or None
    return {"values": values, "types": types, "plan": plan}


def assert_passed(result: dict[str, str | None], *keys: str) -> None:
    """Fail with every message of ``result`` (only ``keys`` if given)."""
    failed = [result[k] for k in keys or result if result[k]]
    assert not failed, "\n".join(failed)


def compare(spark, name, sf_dir, query_fn, sql):
    assert_passed(checks(spark, name, sf_dir, query_fn, sql))


_CATALOG_CHECKS: dict[tuple[str, str], dict | Exception] = {}


def catalog_checks(spark, name, sf_dir) -> dict[str, str | None]:
    """``checks`` of catalog entry ``name``, kept for the session: the
    value, type and plan tests of one entry read one build."""
    from gofast_spark.plans.catalog import ORACLE_SQL, QUERIES

    key = (name, sf_dir)
    if key not in _CATALOG_CHECKS:
        try:
            _CATALOG_CHECKS[key] = checks(
                spark, name, sf_dir, QUERIES[name], ORACLE_SQL[name])
        except Exception as e:
            _CATALOG_CHECKS[key] = e
    got = _CATALOG_CHECKS[key]
    if isinstance(got, Exception):
        raise got
    return got
