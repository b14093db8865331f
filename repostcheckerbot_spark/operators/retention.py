"""Retention / late-data gates.

Reference parity:
- ingest gate: incoming records older than the per-location retention window
  are skipped (/root/reference/database.py:312-323);
- daily sweep: stored rows beyond the window are deleted
  (database.py:255-285).

Batch rendering: one filter each; the streaming rendering is a watermark
(``withWatermark('ts', ...)``) — see streaming/.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from repostcheckerbot_spark.functions.timeutil import age_days


def within_retention(ts_col: Column, retention_days: int | None, now: Column | None = None) -> Column:
    """True iff the record survives the age gate (database.py:312-323:
    skip when age-in-days strictly exceeds the limit)."""
    if retention_days is None:
        return F.lit(True)
    now = now if now is not None else F.current_timestamp()
    return age_days(ts_col, now) <= F.lit(retention_days)


def apply_ingest_gate(df: DataFrame, retention_days: int | None, ts_col: str = "ts", now: Column | None = None) -> DataFrame:
    return df.where(within_retention(F.col(ts_col), retention_days, now))

