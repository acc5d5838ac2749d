from drill_spark.plans.checks import (
    exchange_payload_columns,
    explain_report,
    explain_str,
    has_broadcast_hash_join,
    has_partial_aggregate,
    has_python_eval,
    has_take_ordered,
    pushed_filters,
    python_rdd_scans,
    read_schema_columns,
    wholestage_codegen_spans,
)

__all__ = [
    "exchange_payload_columns",
    "explain_report",
    "explain_str",
    "pushed_filters",
    "python_rdd_scans",
    "read_schema_columns",
    "has_broadcast_hash_join",
    "has_partial_aggregate",
    "has_python_eval",
    "has_take_ordered",
    "wholestage_codegen_spans",
]
