from rust_cdc_validator_spark.operators.replay import (  # noqa: F401
    net_effect,
    replay_snapshot,
    with_sequence,
)
from rust_cdc_validator_spark.operators.diff import diff_tables, DiffReport  # noqa: F401
from rust_cdc_validator_spark.operators.state import (  # noqa: F401
    bucket_id,
    merge_into_state,
    merge_into_state_touched,
    save_state_bucketed,
)
