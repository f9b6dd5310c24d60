from .introspect import (  # noqa: F401
    operators_in_plan,
    plan_string,
    pushed_filters,
    scan_table,
    scans_under_broadcast,
    skew_split_joins,
    walk_plan,
)
