"""Plan-inspection helpers (SURVEY.md §4): assert that Catalyst produced
the physical plan we designed for — pushdown reached the scan, small dims
went broadcast, codegen spans cover the hot path. Used by tests/test_plans.py
to keep 100 TB-scale properties from regressing.
"""

from kenshin_backup_spark.plans.inspect import (
    explain_str,
    has_broadcast_join,
    pushed_filters,
    scan_read_schema,
    spark_jobs,
    unpartitioned_windows,
    wholestage_codegen_spans,
    without_aqe,
)

__all__ = [
    "explain_str",
    "has_broadcast_join",
    "pushed_filters",
    "scan_read_schema",
    "spark_jobs",
    "unpartitioned_windows",
    "wholestage_codegen_spans",
    "without_aqe",
]
