"""Sessionization — gap-based session assignment over an event stream.

Classic two-window rewrite, fully JVM-side:
  1. lag(ts) per user → gap to previous event;
  2. session-start flag = gap IS NULL or gap > timeout;
  3. running sum of flags per user → session index;
both windows share the same (user, ts) partitioning/ordering, so Spark
plans ONE shuffle and one sort for the whole operator.

This is batch sessionization (the reference's dashboards are batch-
recomputed 8×/day, reference README.md:513); the streaming equivalent
is ``session_window`` in streaming.pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Append a per-user ``session_id`` (1-based) where a gap longer
    than ``gap_minutes`` starts a new session."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap_s = F.col(ts_col).cast("long") - F.lag(F.col(ts_col).cast("long")).over(w)
    is_new = F.when(gap_s.isNull() | (gap_s > gap_minutes * 60), 1).otherwise(0)
    return df.withColumn("__new", is_new).withColumn(
        "session_id", F.sum("__new").over(w).cast("bigint")
    ).drop("__new")
