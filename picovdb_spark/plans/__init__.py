from picovdb_spark.plans.inspect import (
    explain_str,
    job_tasks,
    optimized_plan_str,
    pushed_filters,
    read_schemas,
    scan_columns,
)

__all__ = [
    "explain_str",
    "job_tasks",
    "optimized_plan_str",
    "pushed_filters",
    "read_schemas",
    "scan_columns",
]
