from .readers import (  # noqa: F401
    TABLE_NAMES,
    daily_bars,
    load_table,
    with_event_time,
)
from .wide_csv import read_wide_csv  # noqa: F401
