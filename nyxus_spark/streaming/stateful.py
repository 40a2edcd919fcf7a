"""Stateful streaming as-of join — `applyInPandasWithState`.

The batch engine's flagship operator (operators/asof_join.py, the streaming
analog of nyxus's 2.5-D per-z state carry, /root/reference/src/nyx/
phase1.cpp:130-242) recast as a custom stateful streaming operator: a single
tagged stream of version rows and probe rows, grouped by `doc_id`; per-key
GroupState holds the LATEST version seen so far; each micro-batch runs the
vectorized `pandas.merge_asof` sorted-merge (the batch plan's backward
semantics) against (state seed + this batch's versions), emits matched probes, and
compacts state back to one row.

State holds a BOUNDED history of the most recent HISTORY_DEPTH versions per
key (not just the latest), so the state store stays O(H) per key at
10^12-sequence scale while tolerating cross-batch disorder: a probe may
arrive in a LATER micro-batch than versions that follow it in event time and
still match its correct older version, as long as no more than HISTORY_DEPTH
newer versions arrived in between. The residual ordering contract is
therefore: per key, a probe must not be preceded (across earlier or same
micro-batches) by more than HISTORY_DEPTH versions newer than its own event
time (file-replay and per-key-ordered Kafka trivially satisfy this with any
depth ≥ 1; the parity test drives time-split files through
maxFilesPerTrigger=1 to prove the cross-batch carry, and a dedicated test
delivers a probe a full batch after a newer version).

Timestamps travel as epoch-microsecond longs end-to-end — the state schema
stays engine-neutral and the output compares exactly against the batch
operator and the DuckDB ASOF JOIN oracle.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# input contract for the tagged stream
TAGGED_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("ts_us", LongType()),
    StructField("is_version", LongType()),   # 1 = version, 0 = probe
    StructField("n_tok", LongType()),        # payload (versions only)
    StructField("event_id", LongType()),     # probe id (probes only)
])

# bounded per-key version history (ADVICE r1: latest-only state silently
# NULL-matched probes that arrived a batch after a newer version)
HISTORY_DEPTH = 64

ASOF_STATE_SCHEMA = StructType([
    StructField("ts_hist", ArrayType(LongType())),
    StructField("n_tok_hist", ArrayType(LongType())),
])

ASOF_OUT_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("event_id", LongType()),
    StructField("ts_us", LongType()),
    StructField("matched_ts_us", LongType()),
    StructField("n_tok", LongType()),
])


def _asof_state_fn(
    key: Tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    batch = pd.concat(list(pdfs), ignore_index=True)

    versions = batch[batch["is_version"] == 1][["ts_us", "n_tok"]]
    if state.exists:
        ts_hist, n_hist = state.get
        seed = pd.DataFrame({"ts_us": list(ts_hist), "n_tok": list(n_hist)})
        versions = pd.concat([seed, versions], ignore_index=True)
    versions = versions.sort_values("ts_us", kind="mergesort")

    probes = batch[batch["is_version"] == 0][["ts_us", "event_id"]].sort_values(
        "ts_us", kind="mergesort"
    )

    if len(probes):
        if len(versions):
            # batch asof_join's backward semantics: latest version with
            # v.ts <= p.ts (inclusive)
            m = pd.merge_asof(
                probes,
                versions.rename(columns={"ts_us": "matched_ts_us"}),
                left_on="ts_us",
                right_on="matched_ts_us",
                direction="backward",
            )
        else:
            m = probes.assign(matched_ts_us=pd.NA, n_tok=pd.NA)
        m.insert(0, "doc_id", key[0])
        yield m[["doc_id", "event_id", "ts_us", "matched_ts_us", "n_tok"]].astype(
            {"event_id": "int64", "ts_us": "int64",
             "matched_ts_us": "Int64", "n_tok": "Int64"}
        )

    if len(versions):
        # retain the newest HISTORY_DEPTH versions (sorted ascending) so late
        # probes in future batches can still match an older version
        keep = versions.iloc[-HISTORY_DEPTH:]
        state.update((
            [int(x) for x in keep["ts_us"]],
            [int(x) for x in keep["n_tok"]],
        ))


def asof_join_stream(tagged: DataFrame) -> DataFrame:
    """Streaming as-of join over a tagged union stream (TAGGED_SCHEMA).

    Returns one output row per probe: (doc_id, event_id, ts_us,
    matched_ts_us, n_tok) — the same shape the batch `asof_join` plans
    and the DuckDB `ASOF LEFT JOIN` oracle produce.
    """
    return (
        tagged.groupBy("doc_id")
        .applyInPandasWithState(
            _asof_state_fn,
            outputStructType=ASOF_OUT_SCHEMA,
            stateStructType=ASOF_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
