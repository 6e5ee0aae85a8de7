"""Degenerate survival fits report NULL where the estimate is undefined,
and the ungrouped fit keeps the same guard as its grouped sibling."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_cox_one_arm_holds_beta_and_reports_null_se(spark):
    """Every subject in arm 0: the information is 0 at every event time,
    so beta stays at its start and the standard error is undefined."""
    from gofast_spark.stats.survival import (
        cox_ph_binary,
        cox_ph_binary_grouped,
    )

    df = spark.createDataFrame(
        [(t, 1, 0) for t in (1, 2, 3, 4)], "dur bigint, ev int, grp int"
    )
    solo = cox_ph_binary(df, "dur", "ev", "grp").collect()
    assert len(solo) == 1
    r = solo[0]
    assert (r["beta"], r["hazard_ratio"], r["se"]) == (0.0, 1.0, None)
    assert (r["n_0"], r["n_1"], r["n_events"]) == (4, 0, 4)
    grouped = cox_ph_binary_grouped(
        df.withColumn("seg", F.lit("s")), "dur", "ev", "grp", "seg"
    ).collect()
    assert [(g["segment"], g["beta"], g["se"]) for g in grouped] == [
        ("s", 0.0, None)
    ]


def test_weibull_one_point_is_null(spark):
    """One usable KM point (one event time, then censoring) leaves the
    regression undefined: shape and scale are NULL, n_points is 1."""
    from gofast_spark.stats.survival import weibull_fit

    df = spark.createDataFrame(
        [(5, 1)] * 3 + [(9, 0)] * 3, "dur bigint, ev int"
    )
    r = weibull_fit(df, "dur", "ev").collect()
    assert [(x["shape"], x["scale"], x["n_points"]) for x in r] == [
        (None, None, 1)
    ]
