"""Regression: the shared events loader (plans/catalog._t) must tolerate
every physical ``ts`` encoding the driver's testdata generator has
produced so far — TIMESTAMP(NANOS) (read as long via the legacy conf),
timestamp[us] isAdjustedToUTC=0 (read as TIMESTAMP_NTZ), and a plain
UTC-adjusted timestamp — instead of crashing all events-based catalog
entries when the testdata is regenerated (round-4 failure mode)."""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gofast_spark.plans.catalog import _t

_ROWS = {
    "event_id": [0, 1, 2],
    "user_id": [10, 20, 30],
    "event_type": ["click", "view", "error"],
    "value": [1.5, 2.5, 3.5],
    "props": ["{}", "{}", "{}"],
}
_TS = [
    datetime.datetime(2024, 1, 1, 0, 0, 7),
    datetime.datetime(2024, 1, 1, 0, 3, 52),
    datetime.datetime(2024, 1, 2, 12, 0, 0),
]


def _write_events(tmp_path, ts_array: pa.Array) -> str:
    sf_dir = str(tmp_path)
    tbl = pa.table(
        {
            "event_id": pa.array(_ROWS["event_id"], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array(_ROWS["user_id"], pa.int64()),
            "event_type": pa.array(_ROWS["event_type"], pa.string()),
            "value": pa.array(_ROWS["value"], pa.float64()),
            "props": pa.array(_ROWS["props"], pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(sf_dir, "events.parquet"))
    return sf_dir


def _assert_loaded(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    rows = df.orderBy("event_id").select("ts").collect()
    assert [r.ts.replace(tzinfo=None) for r in rows] == _TS
    # downstream catalog idiom must resolve (the r4 crash was here)
    assert df.selectExpr("date_trunc('day', ts) AS d").count() == 3


@pytest.mark.parametrize(
    "pa_type",
    [pa.timestamp("us"), pa.timestamp("ns"), pa.timestamp("us", tz="UTC")],
    ids=["us_ntz", "nanos", "us_utc"],
)
def test_events_ts_encodings(spark, tmp_path, pa_type):
    sf_dir = _write_events(tmp_path, pa.array(_TS, pa_type))
    _assert_loaded(spark, sf_dir)


def test_driver_testdata_loads(spark):
    """Whatever encoding the live driver testdata currently uses, the
    loader must produce a proper timestamp column."""
    df = _t(spark, "/root/testdata/sf0.001", "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    assert df.count() > 0


def test_rewritten_table_serves_new_schema(spark, tmp_path):
    """A parquet file rewritten with a different schema within one
    process: ``_t``'s schema memo is keyed on the file's stamp, so the
    second read infers the new schema instead of replaying the old one
    (which would read the new column as missing)."""
    path = os.path.join(str(tmp_path), "orders.parquet")
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64())}), path)
    assert _t(spark, str(tmp_path), "orders").columns == ["k"]
    pq.write_table(
        pa.table(
            {
                "k": pa.array([1, 2, 3], pa.int64()),
                "v": pa.array(["a", "b", "c"], pa.string()),
            }
        ),
        path,
    )
    df = _t(spark, str(tmp_path), "orders")
    assert df.columns == ["k", "v"]
    assert sorted(map(tuple, df.collect())) == [(1, "a"), (2, "b"), (3, "c")]
