from .lake import read_range, read_range_by_symbol, read_day, LAYOUT_PARTITIONS  # noqa: F401
from .writer import upsert_candles, write_levels  # noqa: F401
from .synth import make_m1  # noqa: F401
from .acid import (  # noqa: F401
    acid_changes,
    acid_compact,
    acid_history,
    acid_read,
    acid_rollback,
    acid_upsert,
    acid_vacuum,
    acid_write,
)
