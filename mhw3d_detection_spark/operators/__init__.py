from mhw3d_detection_spark.operators.climatology import (  # noqa: F401
    densify_doy,
    interp_feb29,
    pooled_climatology,
    simple_climatology,
    smooth_doy_circular,
)
from mhw3d_detection_spark.operators.severity import calculate_severity  # noqa: F401
from mhw3d_detection_spark.operators.detection import (  # noqa: F401
    detect_events,
    detect_partials,
    enrich_series,
    exceedance,
    fused_detect_metrics,
    merge_detect_partials,
    rle_runs,
)
from mhw3d_detection_spark.operators.analysis import (  # noqa: F401
    annual_event_stats,
    block_average,
    block_temp_stats,
    category_days_per_block,
    detrend_linear,
    mean_trend_ols,
    pad_interpolate,
    rank_return_periods,
)
