from .cleaning import (  # noqa: F401
    blank_to_null,
    coerce_numeric,
    coerce_timestamp,
    not_null_or_empty,
)
from .binning import (  # noqa: F401
    bin_left_closed_label,
    bin_left_closed_start,
    bin_right_closed_center,
    minute_of_day,
)
from .aggregates import davg, dsum, nano_comoment, nsum  # noqa: F401
from .scalars import (  # noqa: F401
    age_group,
    categorize_by_contains,
    clip_at_zero,
    contains_ci,
    hhmm_label,
    rate_per_hour,
)
