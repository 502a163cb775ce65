from .json_source import (  # noqa: F401
    assert_min_success,
    parse_chart_payloads,
    read_chart_payloads,
)
from .readers import (  # noqa: F401
    TABLE_NAMES,
    daily_bars,
    load_table,
    with_event_time,
)
from .wide_csv import read_wide_csv, string_null  # noqa: F401
