"""Stats operators on empty tables: each either matches its DuckDB oracle
(values, types and plan) or raises its documented ``ValueError``."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from tests.oracle_util import TABLES, assert_passed, catalog_checks


@pytest.fixture(scope="module")
def sf_empty(tmp_path_factory, sf_small):
    """Every sf_small table with its schema and no rows."""
    d = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        src = os.path.join(sf_small, f"{t}.parquet")
        if os.path.exists(src):
            pq.write_table(pq.read_schema(src).empty_table(),
                           str(d / f"{t}.parquet"))
    return str(d)


@pytest.mark.parametrize(
    "name",
    [
        "cvm_normal_acctbal",
        "mood_median_events",
        "friedman_events",
        "haar_energy_daily",
        "funnel_events_vcp",
        "funnel_windowed_events",
        "outliers_iqr_clip_acctbal",
        "linkage_matrix_nation",
        "dca_segment_status_orders",
        "dataset_card_documents",
        "kaplan_meier_events",
        "nelson_aalen_events",
        "logrank_test_events",
        "gehan_wilcoxon_events",
        "weibull_fit_events",
        "rmst_events",
        "aalen_johansen_events",
        "weibull_by_segment_events",
        "rmst_by_segment_events",
        "km_median_by_segment_events",
        "cox_ph_events",
        "cox_ph_by_segment_events",
        "cusum_daily_events",
        "cusum_by_type_events",
        "stream_cusum_daily_events",
        "gini_acctbal",
        "gini_by_segment_customer",
        "boosted_stumps_orders",
        "boosted_stumps_2f_orders",
    ],
)
def test_empty_tables_match_oracle(spark, sf_empty, name):
    assert_passed(catalog_checks(spark, name, sf_empty))


def test_dagostino_k2_rejects_empty(spark, sf_empty):
    """The oracle fails too (square root of a negative number)."""
    from gofast_spark.plans.catalog import QUERIES

    with pytest.raises(ValueError, match="at least 8 non-null values"):
        QUERIES["dagostino_k2_acctbal"](spark, sf_empty)


@pytest.mark.parametrize(
    "name, match",
    [
        ("ivf_kmeans_fullprobe_topk", "no non-null vectors"),
        ("kpca_landmark_identity", "no landmark rows"),
    ],
)
def test_driver_fitted_entries_reject_empty(spark, sf_empty, name, match):
    """Centroids and landmark kernels are fitted on the driver from a
    sample; an empty table has none to fit, so the build raises."""
    from gofast_spark.plans.catalog import QUERIES

    with pytest.raises(ValueError, match=match):
        QUERIES[name](spark, sf_empty)


@pytest.mark.parametrize("method", ["iqr", "zscore", "winsorize"])
def test_outlier_clip_of_empty_frame(spark, method):
    """No value, no bound: clipping an empty frame returns it unchanged."""
    from gofast_spark.quality.outliers import handle_outliers_in

    df = spark.createDataFrame([], "x double")
    out = handle_outliers_in(df, ["x"], method=method, action="clip")
    assert out.schema == df.schema
    assert out.collect() == []
