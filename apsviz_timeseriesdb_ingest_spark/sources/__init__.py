from .catalog import (  # noqa: F401
    Catalog,
    DynamicOverwriteMerge,
    MergeStrategy,
)
from .harvest_csv import read_harvest_csv, read_station_csv  # noqa: F401
from .skipping import (  # noqa: F401
    build_skipping,
    read_between,
    refresh_skipping,
)
