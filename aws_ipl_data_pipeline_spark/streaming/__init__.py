from aws_ipl_data_pipeline_spark.streaming.joins import (  # noqa: F401
    attribute_purchases,
    enrich_stream_with_dim,
)
from aws_ipl_data_pipeline_spark.streaming.pipeline import (  # noqa: F401
    run_incremental_pipeline,
)
from aws_ipl_data_pipeline_spark.streaming.stateful import (  # noqa: F401
    cusum_monitor_stateful,
    running_totals_stateful,
    running_totals_tws,
)
from aws_ipl_data_pipeline_spark.streaming.windows import (  # noqa: F401
    dedup_within_watermark,
    sessionized_event_rollup,
    windowed_event_counts,
)
