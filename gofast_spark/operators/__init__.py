"""Relational operator core (SURVEY §2.2–2.7)."""

from gofast_spark.operators.composite import (
    ColumnSelector,
    DataFrameSelector,
    assess_outlier_impact,
    format_long_column_names,
    sanitize,
    speed_rowwise_process,
)
from gofast_spark.operators.asof import asof_join
from gofast_spark.operators.bloom import bloom_build, bloom_might_contain, bloom_semi_join
from gofast_spark.operators.merge_upsert import merge_upsert, source_col, target_col
from gofast_spark.operators.range_join import range_join
from gofast_spark.operators.scd import scd2_as_of, scd2_init, scd2_merge
from gofast_spark.operators.maintenance import compact_files
from gofast_spark.operators.sessionize import session_stats, sessionize
from gofast_spark.operators.linkage import blocked_levenshtein_pairs
from gofast_spark.operators.mixture import (
    mixture_rates,
    mixture_sample,
    temperature_mixture_rates,
    uniform_hash,
    uniform_hash_sql,
)
from gofast_spark.operators.packing import (
    pack_sequences,
    sequence_fill_stats,
    shuffled_token_shards,
)
from gofast_spark.operators.prefix import (
    distributed_cumsum,
    token_budget_shards,
)
from gofast_spark.operators.checks import (
    compute_coverage,
    cube_aggregate,
    data_extractor,
    exist_features,
    features_in,
    filter_position,
    get_confidence_ratio,
    is_in_if,
    soft_bin_stat,
)

from gofast_spark.operators.filters import (
    filter_by_isin,
    filter_by_period,
    filter_df,
    group_and_filter,
    mask_by_reference,
    pop_labels_in,
    select_features,
)
from gofast_spark.operators.joins import (
    merge_datasets,
    merge_frames,
    merge_frames_on_index,
    dual_merge,
    interpolate_grid,
    nearest_join,
    nearest_join_2d,
    truncate_data,
    pair_data,
)
from gofast_spark.operators.aggregations import (
    binning_statistic,
    category_count,
    check_unique_values,
    cumulative_ops,
    group_and_aggregate,
    smart_group,
)
from gofast_spark.operators.windows import (
    adaptive_moving_average,
    drop_consecutive_duplicates,
    interpolate_data,
    rolling_slope,
    smooth1d,
    create_lag_features,
    differencing,
    fill_forward,
    moving_average,
    rank_data,
)
from gofast_spark.operators.reshape import (
    compare_frames,
    concat_frames,
    find_intersection,
    find_unique_elements,
    to_long,
    to_wide,
)
from gofast_spark.operators.sampling import (
    neyman_sample,
    random_sampling,
    split_train_test_by_id,
)
from gofast_spark.operators.skew import salted_group_agg, salted_join, skew_report

__all__ = [
    "neyman_sample",
    "salted_group_agg",
    "salted_join",
    "filter_df",
    "filter_position",
    "data_extractor",
    "exist_features",
    "features_in",
    "is_in_if",
    "get_confidence_ratio",
    "compute_coverage",
    "soft_bin_stat",
    "cube_aggregate",
    "sanitize",
    "format_long_column_names",
    "ColumnSelector",
    "DataFrameSelector",
    "speed_rowwise_process",
    "assess_outlier_impact",
    "group_and_filter",
    "filter_by_isin",
    "mask_by_reference",
    "filter_by_period",
    "pop_labels_in",
    "select_features",
    "merge_frames",
    "merge_frames_on_index",
    "merge_datasets",
    "pair_data",
    "nearest_join",
    "nearest_join_2d",
    "dual_merge",
    "interpolate_grid",
    "truncate_data",
    "group_and_aggregate",
    "smart_group",
    "binning_statistic",
    "category_count",
    "check_unique_values",
    "cumulative_ops",
    "create_lag_features",
    "interpolate_data",
    "adaptive_moving_average",
    "drop_consecutive_duplicates",
    "rolling_slope",
    "smooth1d",
    "moving_average",
    "differencing",
    "rank_data",
    "fill_forward",
    "to_wide",
    "to_long",
    "concat_frames",
    "compare_frames",
    "find_intersection",
    "find_unique_elements",
    "random_sampling",
    "split_train_test_by_id",
    "distributed_cumsum",
    "token_budget_shards",
    "pack_sequences",
    "blocked_levenshtein_pairs",
    "mixture_rates",
    "temperature_mixture_rates",
    "mixture_sample",
    "uniform_hash",
    "uniform_hash_sql",
    "sequence_fill_stats",
    "shuffled_token_shards",
    "asof_join",
    "bloom_build",
    "bloom_might_contain",
    "bloom_semi_join",
    "merge_upsert",
    "source_col",
    "target_col",
    "range_join",
    "skew_report",
    "scd2_init",
    "scd2_merge",
    "scd2_as_of",
    "sessionize",
    "session_stats",
    "compact_files",
]
