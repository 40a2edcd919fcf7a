"""Structured Streaming surface.

The reference is batch-only; its "online" mode is out-of-core incremental
accumulation (/root/reference/src/nyx/feature_method.h:28-32, phase3.cpp),
not event-time streaming (SURVEY.md §2.7). These are the drop-in streaming
equivalents of the batch operators:

* sessionize_stream — event-time gap sessionization via
  `session_window(ts, gap)` + watermark (batch analog: operators.sessionize);
* dedup_stream — first-arrival exact deduplication.

Streaming feature extraction is `NyxusSpark.featurize_stream` (api.py).

Late data policy: rows later than the watermark are dropped by Spark before
the session aggregation — the batch job over the Iceberg snapshot remains the
source of truth (lambda-style backfill). Measured nuance (Spark 4.1,
tests/test_streaming_late_data.py): the late-row filter evaluates against
the watermark COMMITTED at the previous batch boundary — one batch behind
the value the progress report shows — so a late row is guaranteed dropped
once it arrives ≥ 2 micro-batches after the data that established the
covering watermark; a late row in the very next batch may still be
aggregated. Downstream consumers needing a hard bound must filter on
event time explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def sessionize_stream(
    events: DataFrame,
    gap_seconds: float,
    key_col: str = "doc_id",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-key session aggregation over an event-time stream.

    Returns one row per closed session: key, session start/end, n_events.
    """
    gap = f"{int(gap_seconds)} seconds"
    ev = events.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withWatermark(
        ts_col, watermark
    )
    return (
        ev.groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(
    df: DataFrame,
    key_cols: tuple | list = ("doc_id",),
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming exact deduplication — the first arrival of each key wins
    (streaming twin of the batch hash-dedup, operators/dedup.py).

    With ``watermark`` (requires ``ts_col``), uses
    ``dropDuplicatesWithinWatermark``: the state store holds only keys seen
    within the watermark horizon and evicts the rest — the ONLY shape that
    survives an unbounded 100 TB stream — at the price that a duplicate is
    guaranteed dropped only when it arrives within the delay of the first
    copy (a re-crawl months later re-enters; the batch dedup over the
    snapshot remains the source of truth, same lambda split as the late-data
    policy above).

    Without a watermark, plain streaming ``dropDuplicates`` keeps EVERY key
    in state forever: exact at any arrival distance, memory grows with
    |distinct keys| — for bounded replays / keyspaces only.
    """
    if watermark is not None:
        if ts_col is None:
            raise ValueError("watermark requires ts_col")
        s = df.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withWatermark(
            ts_col, watermark
        )
        return s.dropDuplicatesWithinWatermark(list(key_cols))
    return df.dropDuplicates(list(key_cols))


def run_availablenow(stream_df: DataFrame, out_table: str, output_mode: str = "complete") -> None:
    """Drain the stream into an in-memory sink (tests / smoke checks).

    Default output mode is `complete`: with availableNow the watermark never
    advances past the final sessions, so `append` would hold them in state
    forever and emit nothing. A production job on a live stream uses `append`
    (sessions emit once the watermark passes their end).
    """
    q = (
        stream_df.writeStream.format("memory")
        .queryName(out_table)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
