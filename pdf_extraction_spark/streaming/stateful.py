"""Stateful operators: session windows and custom per-key streaming state.

- :func:`session_stats` — native ``session_window`` aggregation (gap-
  based sessions), works identically in batch and streaming; the batch
  twin is oracle-checked against a gaps-and-islands SQL formulation.
- :func:`running_user_counts` — custom stateful streaming operator via
  ``applyInPandasWithState``: per-user running event count + last-seen
  timestamp maintained across micro-batches with an idle timeout
  (the GroupState pattern for operators Spark's built-ins can't express).
"""

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP = "30 minutes"


def session_stats(
    events: DataFrame,
    gap: str = SESSION_GAP,
    ts_col: str = "ts",
    key_col: str = "user_id",
    watermark: str | None = None,
) -> DataFrame:
    """Per-(user, session) stats; a session closes after ``gap`` of
    inactivity. Streaming callers must pass a watermark."""
    ev = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if watermark:
        ev = ev.withWatermark(ts_col, watermark)
    return (
        ev.groupBy(F.session_window(ts_col, gap).alias("sw"), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col(key_col),
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def sql_session_stats(gap_minutes: int = 30) -> str:
    """DuckDB oracle twin: gaps-and-islands — a new session starts when
    the gap to the previous event of the same user exceeds the gap;
    session_window's end = last_ts + gap (exclusive bound)."""
    return (
        "WITH o AS (SELECT user_id, ts, value, "
        "CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) "
        f"> INTERVAL '{gap_minutes}' MINUTE OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL "
        # session_window drops NULL-timestamp rows in Spark; mirror it
        "THEN 1 ELSE 0 END AS new_s FROM events WHERE ts IS NOT NULL), "
        "s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts "
        "ROWS UNBOUNDED PRECEDING) AS sid FROM o) "
        "SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start, "
        f"strftime(max(ts) + INTERVAL '{gap_minutes}' MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end, "
        "count(*) AS n_events, round(sum(value), 2) AS total_value "
        "FROM s GROUP BY user_id, sid"
    )


RUNNING_STATE_SCHEMA = "n_events long, last_ts string"
RUNNING_OUTPUT_SCHEMA = "user_id long, n_events long, last_ts string"


def _update_running(key, pdfs, state: GroupState):
    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        return
    n, last = state.get if state.exists else (0, "")
    for pdf in pdfs:
        n += len(pdf)
        batch_max = pdf["ts"].astype(str).max()
        if batch_max > last:
            last = batch_max
    state.update((n, last))
    state.setTimeoutDuration(3600 * 1000)
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "last_ts": [last]})


def running_user_counts(events_stream: DataFrame) -> DataFrame:
    """Custom stateful streaming op: per-user running count + last-seen,
    state kept across micro-batches, evicted after 1 h idle (processing-
    time timeout).

    The timeout makes every trigger schedule another batch to check for
    expired state, so an ``availableNow`` query over this frame never
    terminates (nor does ``processAllAvailable()`` return): wait for the
    batches you need, then ``stop()`` the query."""
    return (
        events_stream.groupBy("user_id")
        .applyInPandasWithState(
            _update_running,
            outputStructType=RUNNING_OUTPUT_SCHEMA,
            stateStructType=RUNNING_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
