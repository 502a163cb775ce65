from .scalars import (  # noqa: F401
    cents,
    date_parts,
    date_to_unix,
    regression_line,
)
