from nyxus_spark.operators.asof_join import asof_join  # noqa: F401
from nyxus_spark.operators.packing import pack_sequences  # noqa: F401
from nyxus_spark.operators.selection import greedy_set_cover  # noqa: F401
from nyxus_spark.operators.windows import (  # noqa: F401
    sessionize,
    with_lags,
    with_locf,
    with_decayed_counter,
    with_rolling,
    with_rolling_median,
    with_nocb,
    with_time_interp,
    scd2_intervals,
)
