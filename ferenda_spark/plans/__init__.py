from ferenda_spark.plans.audit import (  # noqa: F401
    executed_plan_str,
    executed_plans,
    explain_str,
    has_broadcast_hash_join,
    has_pushed_filter,
    partition_filters,
    read_schema_columns,
    shuffle_exchange_count,
    wholestage_codegen_count,
)
