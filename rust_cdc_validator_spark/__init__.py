"""rust_cdc_validator_spark — a PySpark-native engine with the query and
data-processing capabilities of `nikoshet/rust-cdc-validator` (the
`dms-cdc-operator` crate), re-architected Spark-first.

The reference (read-only at /root/reference) replays AWS DMS change-data-capture
Parquet output into a target database and validates the result against the
source (see SURVEY.md). This package expresses the same capability surface —
plus large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, multimodal plumbing) — as declarative PySpark DataFrame plans
so Catalyst/Tungsten pick the physical strategy and the whole thing scales to
a real cluster.

Layout:
    sources/    file-manifest discovery (DMS S3 layout), catalog/DDL bridge, JDBC,
                corpus IO
    operators/  CDC replay, table diff (validator), bucketed state store, dedup,
                similarity, corpus, multimodal
    functions/  text analysis, hashing (minhash/simhash), vector math
    plans/      plan-inspection helpers (pushdown / join-strategy assertions)
    streaming/  incremental CDC replay via Structured Streaming
    queries.py  the query catalog with its DuckDB oracle SQL
"""

from rust_cdc_validator_spark.api import CdcValidator  # noqa: F401

__version__ = "0.1.0"
