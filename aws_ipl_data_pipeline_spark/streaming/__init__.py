from aws_ipl_data_pipeline_spark.streaming.pipeline import (  # noqa: F401
    run_incremental_pipeline,
)
