from .quality import missing_census, normalize_sentinels  # noqa: F401
from .impute import (  # noqa: F401
    impute_with_group_median,
    proximity_impute_fixed_schedule,
    seasonal_median_impute,
    zero_impute,
)
from .windows import (  # noqa: F401
    calendar_range_avg,
    lag_delta,
    lead_labels,
    ranked,
    sliding_frame_avg,
)
from .relational import mode_top1, top_k  # noqa: F401
from .profile import profile_categorical, profile_numeric  # noqa: F401
from .quantiles import scalable_exact_median  # noqa: F401
from .skew import salted_join, skew_profile  # noqa: F401
from .grouped_map import apply_per_group, group_zscore  # noqa: F401
from .temporal import asof_join, range_join_within  # noqa: F401
