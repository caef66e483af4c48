from distributed_mobility_data_pipeline_spark.sources.readers import (
    load_testdata,
    read_csv,
    read_json_log,
    read_parquet,
)
from distributed_mobility_data_pipeline_spark.sources.writers import (
    merge_upsert,
    write_append,
    write_overwrite,
)

__all__ = [
    "load_testdata",
    "read_csv",
    "read_json_log",
    "read_parquet",
    "merge_upsert",
    "write_append",
    "write_overwrite",
]
