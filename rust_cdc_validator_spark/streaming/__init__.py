from rust_cdc_validator_spark.streaming.incremental import (  # noqa: F401
    incremental_replay,
    start_incremental_replay,
)
