from .dedup import dedup_keep_first  # noqa: F401
from .deltas import lag_deltas  # noqa: F401
from .first_last import first_last_by_order  # noqa: F401
from .having import restrict_to_groups_with_min_count  # noqa: F401
from .rolling import centered_rolling_mean  # noqa: F401
from .spine import join_spine  # noqa: F401
from .topk import top_k_per_group  # noqa: F401
from .asof import asof_join_last, asof_join_next  # noqa: F401
from .rangejoin import bucketed_range_join  # noqa: F401
from .equidepth import (  # noqa: F401
    bucket_by_cuts,
    equi_depth_cut_points,
    grouped_value_counts_cum,
    grouped_values_at_ranks,
    sql_cuts_ctes,
    value_counts_cum,
    values_at_ranks,
)
