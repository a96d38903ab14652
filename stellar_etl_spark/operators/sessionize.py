"""Event sessionization — gap-based session assignment, the standard
event-stream operator a training-data/analytics pipeline needs next to the
reference's 64-ledger batching (which is fixed-width; sessions are
data-driven widths).

Shape: one shuffle on the user key; per-user windows are bounded (a user's
events), so the lag + running-sum pattern scales to any corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DEFAULT_GAP_US = 30 * 60 * 1_000_000  # 30 minutes


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_us_col: str = "ts_us",
    order_col: str = "event_id",
    gap_us: int = DEFAULT_GAP_US,
) -> DataFrame:
    """Assign ``session_idx`` (1-based per user) by time gaps: a new session
    starts when the previous event is more than ``gap_us`` earlier."""
    w = Window.partitionBy(user_col).orderBy(ts_us_col, order_col)
    prev = F.lag(F.col(ts_us_col)).over(w)
    new_sess = F.when(
        prev.isNull() | ((F.col(ts_us_col) - prev) > gap_us), 1
    ).otherwise(0)
    run = Window.partitionBy(user_col).orderBy(ts_us_col, order_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return events.withColumn("session_idx", F.sum(new_sess).over(run))


def session_stats(
    events: DataFrame,
    user_col: str = "user_id",
    ts_us_col: str = "ts_us",
    order_col: str = "event_id",
    gap_us: int = DEFAULT_GAP_US,
) -> DataFrame:
    """One row per session: bounds, length, event count."""
    s = sessionize(events, user_col, ts_us_col, order_col, gap_us)
    return s.groupBy(user_col, "session_idx").agg(
        F.min(ts_us_col).alias("session_start_us"),
        F.max(ts_us_col).alias("session_end_us"),
        (F.max(ts_us_col) - F.min(ts_us_col)).alias("duration_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


DEFAULT_BUCKET_US = 24 * 3600 * 1_000_000  # 1 day


def session_stats_two_phase(
    events: DataFrame,
    user_col: str = "user_id",
    ts_us_col: str = "ts_us",
    order_col: str = "event_id",
    gap_us: int = DEFAULT_GAP_US,
    bucket_us: int = DEFAULT_BUCKET_US,
) -> DataFrame:
    """Skew-safe sessionization: identical output to ``session_stats``, but
    no task ever holds more than one (user, time-bucket) of events.

    The single-pass window partitions by user alone — correct, but a hot
    key (one user with 10^9 events) serializes into one task.  Two phases
    bound it:

      1. sessionize within (user, ``bucket_us`` time bucket) — local
         sessions, task size capped by per-user-per-bucket volume;
      2. merge adjacent local sessions whose boundary gap ≤ ``gap_us`` —
         a window over SESSION-grain rows (≤ bucket_span/gap per bucket,
         time-bounded rather than event-bounded), then re-aggregate.

    Requires ``gap_us < bucket_us`` (a session can only continue into the
    immediately adjacent bucket chain, which the cumulative merge handles).
    """
    if gap_us >= bucket_us:
        raise ValueError("bucket_us must exceed gap_us")
    bucket = (F.col(ts_us_col) - (F.col(ts_us_col) % bucket_us)).alias("_bkt")
    w = Window.partitionBy(user_col, "_bkt").orderBy(ts_us_col, order_col)
    prev = F.lag(F.col(ts_us_col)).over(w)
    new_local = F.when(
        prev.isNull() | ((F.col(ts_us_col) - prev) > gap_us), 1
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = (
        events.withColumn("_bkt", bucket)
        .withColumn("_lidx", F.sum(new_local).over(run))
        .groupBy(user_col, "_bkt", "_lidx")
        .agg(
            F.min(ts_us_col).alias("_start"),
            F.max(ts_us_col).alias("_end"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    mw = Window.partitionBy(user_col).orderBy("_start", "_bkt", "_lidx")
    prev_end = F.lag(F.col("_end")).over(mw)
    new_global = F.when(
        prev_end.isNull() | ((F.col("_start") - prev_end) > gap_us), 1
    ).otherwise(0)
    mrun = mw.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    merged = local.withColumn("session_idx", F.sum(new_global).over(mrun))
    return merged.groupBy(user_col, "session_idx").agg(
        F.min("_start").alias("session_start_us"),
        F.max("_end").alias("session_end_us"),
        (F.max("_end") - F.min("_start")).alias("duration_us"),
        F.sum("_n").alias("n_events"),
    )
