from mhw3d_detection_spark.streaming.sessionize import (  # noqa: F401
    streaming_area_stats,
    streaming_bm25_gate,
    streaming_cardinality,
    srp_gate_sigs,
    streaming_curriculum_gate,
    streaming_decontaminate_gate,
    streaming_srp_decontaminate_gate,
    streaming_dedup,
    streaming_despike_gate,
    streaming_detect_partials,
    streaming_feature_hash,
    streaming_frequency,
    streaming_histogram,
    streaming_lsh_dedup,
    streaming_dsir_gate,
    streaming_outlier_gate,
    streaming_quality_gate,
    streaming_severity,
    streaming_similarity,
    streaming_windowed_stats,
    streaming_winnow_dedup,
)
from mhw3d_detection_spark.streaming.stateful import (  # noqa: F401
    streaming_cusum_alarms,
    streaming_current_state,
    streaming_drift_gate,
    streaming_ewma,
)
from mhw3d_detection_spark.streaming.sessionize import (  # noqa: F401,E402
    streaming_readability_gate,
)
from mhw3d_detection_spark.streaming.sessionize import (  # noqa: F401,E402
    streaming_sentence_dedup_gate,
)
from mhw3d_detection_spark.streaming.sessionize import (  # noqa: F401,E402
    streaming_attribution_join,
)
