from aws_ipl_data_pipeline_spark.sources.readers import (  # noqa: F401
    read_csv,
    read_json_object,
    read_jsonl,
    read_table,
)
from aws_ipl_data_pipeline_spark.sources.writers import (  # noqa: F401
    HAVE_DELTA,
    write_partitioned,
)
