from nyxus_spark.streaming.join import interval_join_stream  # noqa: F401
from nyxus_spark.streaming.neardup import neardup_stream  # noqa: F401
from nyxus_spark.streaming.pack import pack_stream  # noqa: F401
from nyxus_spark.streaming.stateful import asof_join_stream  # noqa: F401
from nyxus_spark.streaming.stream import (  # noqa: F401
    dedup_stream,
    sessionize_stream,
)
