"""Gap-based sessionization — built-in ``session_window`` for batch, a
custom ``applyInPandasWithState`` operator for the stream.

The reference has no streaming surface (SURVEY.md §2.8); a continuously
crawled pages/events feed at 100 TB needs one. Two implementations of the
same semantics (a session = maximal run of a user's events where
consecutive gaps are < ``gap``):

- :func:`sessionize_batch` — ``F.session_window`` groupBy: JVM-side,
  whole-stage-codegen, shuffles once on ``user_id``. DuckDB oracle =
  lag + cumulative boundary-flag sum (the classic SQL islands idiom).
- :func:`sessionize_stateful` — ``applyInPandasWithState`` keeping one
  open session per user in state, emitting a session row the moment an
  event beyond the gap closes it. This is the pattern for stateful logic
  built-ins can't express (the session payload can carry arbitrary
  Python-side aggregates); state size = O(active users), bounded by the
  processing-time timeout.

Scale: both paths shuffle once on ``user_id``; the stateful path's state
store is per-key and partitioned the same way, so a 1000-executor run
holds ``active_users / 1000`` sessions per executor.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from .per_batch import read_stream

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_s", LongType()),
        StructField("session_end_s", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

# state: (session_start_us, last_ts_us, n_events, sum_value_cents)
_STATE_SCHEMA = "start_us LONG, last_us LONG, n LONG, cents LONG"


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Per-user gap sessions via the built-in ``session_window``.

    Returns (user_id, session_start_s, session_end_s, n_events,
    sum_value): epoch-second bounds (floor — portable across engines),
    decimal-exact value sum.
    """
    gap = f"{gap_minutes} minutes"
    return (
        events.groupBy(
            F.session_window(F.col("ts"), gap).alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.floor(F.unix_micros(F.col("first_ts").cast("timestamp")) / 1_000_000)
            .cast("long")
            .alias("session_start_s"),
            F.floor(F.unix_micros(F.col("last_ts").cast("timestamp")) / 1_000_000)
            .cast("long")
            .alias("session_end_s"),
            "n_events",
            "sum_value",
        )
    )


def sessionize_batch_oracle_sql(gap_minutes: int = 30) -> str:
    """DuckDB oracle: lag-gap boundary flags + running sum (islands)."""
    gap_us = gap_minutes * 60 * 1_000_000
    return f"""
WITH o AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)) >= {gap_us}
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS boundary
  FROM events),
s AS (
  SELECT user_id, event_id, ts, value,
         SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_no
  FROM o)
SELECT user_id,
       CAST(floor(epoch_us(MIN(ts)) / 1000000) AS BIGINT) AS session_start_s,
       CAST(floor(epoch_us(MAX(ts)) / 1000000) AS BIGINT) AS session_end_s,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM s GROUP BY user_id, sess_no"""


def _sessionize_group(
    key: Tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    gap_us: int,
) -> Iterator[pd.DataFrame]:
    """Stateful kernel: fold this batch's events (sorted by event time)
    into the user's open session; emit every session that closes. Value
    sums are held as integer cents so batch/stream results are bit-equal
    to the decimal-exact batch aggregate."""
    (user_id,) = key
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
    ts_us = rows["ts"].astype("datetime64[us]").astype("int64").to_numpy()
    cents = (rows["value"].round(2) * 100).round().astype("int64").to_numpy()

    if state.exists:
        start_us, last_us, n, c = state.get
    else:
        start_us = last_us = n = c = None

    closed = []
    for i in range(len(ts_us)):
        t = int(ts_us[i])
        if start_us is None:
            start_us, last_us, n, c = t, t, 1, int(cents[i])
        elif t - last_us >= gap_us:
            closed.append((user_id, start_us, last_us, n, c))
            start_us, last_us, n, c = t, t, 1, int(cents[i])
        else:
            last_us, n, c = t, n + 1, c + int(cents[i])
    state.update((start_us, last_us, n, c))

    if closed:
        yield pd.DataFrame(
            {
                "user_id": [r[0] for r in closed],
                "session_start_s": [r[1] // 1_000_000 for r in closed],
                "session_end_s": [r[2] // 1_000_000 for r in closed],
                "n_events": [r[3] for r in closed],
                "sum_value": [r[4] / 100.0 for r in closed],
            }
        )


def sessionize_stateful(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Streaming sessionizer: one open session per ``user_id`` in the state
    store; a session row is emitted when a later event closes it. Apply to
    a ``readStream`` DataFrame; the per-user last session stays open at
    end-of-input (a production job would close it via state timeout —
    ``GroupStateTimeout.ProcessingTimeTimeout`` — on idle).
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def kernel(key, pdfs, state):
        return _sessionize_group(key, pdfs, state, gap_us)

    return (
        events.select("event_id", "ts", "user_id", "value")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy("user_id")
        .applyInPandasWithState(
            kernel,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_sessionize_stream(
    spark, src_dir: str, schema, gap_minutes: int = 30, out_table: str = "sessions_out"
) -> None:
    """Drive the stateful sessionizer over existing parquet files with
    ``maxFilesPerTrigger=1`` (forces multi-batch → state actually crosses
    micro-batch boundaries) to an in-memory sink. Waits with no timeout:
    availableNow ends on its own, and a timed wait would hand back a
    partial table."""
    (
        sessionize_stateful(read_stream(spark, src_dir, schema, 1), gap_minutes)
        .writeStream.format("memory")
        .queryName(out_table)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
