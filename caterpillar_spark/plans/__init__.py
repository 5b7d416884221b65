from caterpillar_spark.plans.explain import (  # noqa: F401
    explain_str,
    has_partial_aggregate,
    input_partitions,
    pushed_filters,
    read_schema_columns,
    size_estimate,
)
