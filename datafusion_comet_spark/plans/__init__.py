from .introspect import (  # noqa: F401
    broadcast_join_count,
    operators_in_plan,
    plan_string,
    pushed_filters,
    scan_table,
    scans_under_broadcast,
    shuffle_count,
    skew_split_joins,
    walk_plan,
)
