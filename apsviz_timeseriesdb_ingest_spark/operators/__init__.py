from .asof import asof_join  # noqa: F401
from .rangejoin import overlap_join  # noqa: F401
from .dedup import keep_latest  # noqa: F401
from .pivot import crosstab_timeseries, kv_pivot  # noqa: F401
from .itercheckpoint import LineageCutter  # noqa: F401
