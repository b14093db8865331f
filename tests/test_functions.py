"""Unit tests on scalar functions (SURVEY.md §5.2 item 1)."""

from __future__ import annotations

from datetime import date, datetime

from pyspark.sql import functions as F

from repostcheckerbot_spark.functions.partitioning import spread_to_parallelism
from repostcheckerbot_spark.functions.text import PLACEHOLDER_TEXTS, doc_sha, is_placeholder, normalize_ws
from repostcheckerbot_spark.functions.timeutil import age_days, month_delta, time_ago


def test_normalize_ws_strips_all_whitespace(spark):
    # parity with reference `canonical` (database.py:45-46): every isspace char removed
    df = spark.createDataFrame([(" a\tb\nc\r d ",), ("nospace",)], ["s"])
    got = [r[0] for r in df.select(normalize_ws("s")).collect()]
    assert got == ["abc​d".replace("​", ""), "nospace"] or got == ["abcd", "nospace"]
    assert got[0] == "abcd"


def test_placeholder_set_matches_reference(spark):
    # database.py:364: '&#x200B;', '', '[removed]', '[deleted]'
    vals = [*PLACEHOLDER_TEXTS, None, "real text"]
    df = spark.createDataFrame([(v,) for v in vals], ["text"])
    got = [r[0] for r in df.select(is_placeholder("text")).collect()]
    assert got == [True, True, True, True, True, False]


def test_doc_sha_whitespace_invariant(spark):
    df = spark.createDataFrame([("a b  c",), ("abc",), ("a\nb\tc",), ("abd",)], ["s"])
    shas = [r[0] for r in df.select(doc_sha("s")).collect()]
    assert shas[0] == shas[1] == shas[2]
    assert shas[3] != shas[0]


def test_month_delta_calendar_semantics(spark):
    rows = [
        (date(2024, 1, 15), date(2024, 2, 15), 1),
        (date(2024, 1, 15), date(2024, 2, 14), 0),
        (date(2024, 1, 15), date(2025, 1, 15), 12),
        (date(2024, 1, 31), date(2024, 2, 28), 0),
        (date(2024, 3, 1), date(2024, 3, 30), 0),
        (date(2024, 1, 1), date(2024, 12, 31), 11),
    ]
    df = spark.createDataFrame([(a, b) for a, b, _ in rows], ["d1", "d2"])
    got = [r[0] for r in df.select(month_delta(F.col("d1"), F.col("d2"))).collect()]
    assert got == [e for _, _, e in rows]


def test_age_days_matches_timedelta_floor(spark):
    # (now - then).days semantics (database.py:314)
    now = datetime(2024, 6, 1, 12, 0, 0)
    rows = [
        datetime(2024, 6, 1, 0, 0, 0),  # 0 days
        datetime(2024, 5, 31, 13, 0, 0),  # 0 days (23h)
        datetime(2024, 5, 31, 11, 0, 0),  # 1 day
        datetime(2024, 1, 1, 12, 0, 0),  # 152
    ]
    expected = [(now - t).days for t in rows]
    df = spark.createDataFrame([(t,) for t in rows], ["ts"])
    got = [r[0] for r in df.select(age_days(F.col("ts"), F.lit(now))).collect()]
    assert got == expected


def test_time_ago_cascade(spark):
    now = datetime(2024, 6, 1, 12, 0, 0)
    rows = [
        (datetime(2024, 3, 1, 12, 0, 0), "3 months ago"),
        (datetime(2024, 5, 25, 12, 0, 0), "7 days ago"),
        (datetime(2024, 6, 1, 7, 0, 0), "5 hours ago"),
        (datetime(2024, 6, 1, 11, 58, 0), "2 minutes ago"),
        (datetime(2024, 6, 1, 11, 59, 45), "15 seconds ago"),
        # reference pluralizes 1 as well ("1 months ago", database.py:681)
        (datetime(2024, 4, 20, 12, 0, 0), "1 months ago"),
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], ["ts"])
    got = [r[0] for r in df.select(time_ago(F.col("ts"), F.lit(now))).collect()]
    assert got == [e for _, e in rows]


def test_spread_to_parallelism_spreads_only_under_split_frames(spark):
    """A frame already at defaultParallelism partitions passes through
    unchanged; a 1-split frame is repartitioned to defaultParallelism.
    Checked on plans, so no Spark job runs."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 100, numPartitions=par)
    assert spread_to_parallelism(wide) is wide
    spread = spread_to_parallelism(spark.range(0, 100, numPartitions=1))
    assert spread._jdf.queryExecution().logical().numPartitions() == par
    assert set(tracker.getJobIdsForGroup()) == before
