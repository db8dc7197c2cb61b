"""Unit tests for the trigger grammar and date/time scalar surface.

The trigger truth table mirrors the reference parser
(`modules/handlers/__init__.py:10-52`): ALL, OR-chains, negation, and the
unparseable→never-fires fallthrough. Time ops mirror `utils/timeutil.py`.
"""

from __future__ import annotations

import datetime

import pytest

from mee_spark.timeops import parse_delta
from mee_spark.triggers import OPS, parse_trigger


@pytest.mark.parametrize("expr,want", [
    ("ALL", ("INSERT", "UPDATE", "DELETE")),
    ("all", ("INSERT", "UPDATE", "DELETE")),
    ("  ALL  ", ("INSERT", "UPDATE", "DELETE")),
    ("INSERT", ("INSERT",)),
    ("insert", ("INSERT",)),
    ("INSERT|UPDATE", ("INSERT", "UPDATE")),
    ("update | insert", ("INSERT", "UPDATE")),  # canonical order, deduped
    ("INSERT|INSERT", ("INSERT",)),
    ("INSERT|UPDATE|DELETE", ("INSERT", "UPDATE", "DELETE")),
    ("~DELETE", ("INSERT", "UPDATE")),
    ("~ insert ", ("UPDATE", "DELETE")),
    ("~UPDATE", ("INSERT", "DELETE")),
    # the reference returns bitmask 0 for anything else
    ("", ()),
    ("bogus", ()),
    ("~INSERT|UPDATE", ()),      # negation only matches a single op
    ("INSERT&UPDATE", ()),
    ("ALL|INSERT", ()),
])
def test_parse_trigger_truth_table(expr, want):
    assert parse_trigger(expr) == want


def test_default_trigger_is_insert_update():
    # the reference's default handler trigger fires on writes, not deletes
    ops = parse_trigger("INSERT|UPDATE")
    assert ops == ("INSERT", "UPDATE")
    assert set(ops) < set(OPS)


@pytest.mark.parametrize("expr,want", [
    ("now", (0, "day")),
    ("+1 week", (1, "week")),
    ("-1 month", (-1, "month")),
    ("+3 days", (3, "day")),
    ("2 hours", (2, "hour")),
    ("-10 seconds", (-10, "second")),
    ("tomorrow", None),
    ("+1 fortnight", None),
])
def test_parse_delta(expr, want):
    assert parse_delta(expr) == want


def test_trigger_filter_constant_false_for_unparseable(spark):
    from pyspark.sql import functions as F

    from mee_spark.triggers import trigger_filter

    df = spark.createDataFrame([("INSERT",), ("DELETE",)], "op string")
    assert df.filter(trigger_filter(F.col("op"), "bogus")).count() == 0
    assert df.filter(trigger_filter(F.col("op"), "ALL")).count() == 2
    assert df.filter(trigger_filter(F.col("op"), "~DELETE")).count() == 1


def test_delta_col_calendar_arithmetic(spark):
    from pyspark.sql import functions as F

    from mee_spark.timeops import delta_col, range_period_col, yesterday_col

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.createDataFrame(
        [(datetime.datetime(2024, 3, 31, 12, 0, 0),)], "ts timestamp")
    row = df.select(
        delta_col(F.col("ts"), "-1 month").alias("m"),      # clamps to Feb 29
        delta_col(F.col("ts"), "+1 week").alias("w"),
        delta_col(F.col("ts"), "now").alias("n"),
        yesterday_col(F.col("ts")).alias("y"),
    ).collect()[0]
    assert row["m"] == datetime.datetime(2024, 2, 29, 12, 0, 0)
    assert row["w"] == datetime.datetime(2024, 4, 7, 12, 0, 0)
    assert row["n"] == datetime.datetime(2024, 3, 31, 12, 0, 0)
    assert row["y"] == datetime.date(2024, 3, 30)
    with pytest.raises(ValueError):
        df.select(delta_col(F.col("ts"), "someday"))

    # rangePeriod: inclusive, endpoint-order-normalized
    span = spark.createDataFrame(
        [(datetime.date(2024, 1, 3), datetime.date(2024, 1, 1))], "a date, b date")
    days = span.select(range_period_col(F.col("a"), F.col("b")).alias("d")).collect()[0]["d"]
    assert days == [datetime.date(2024, 1, 1), datetime.date(2024, 1, 2),
                    datetime.date(2024, 1, 3)]


def test_sessionize_gap_boundaries(spark):
    """Lag-gap sessionization pinned on a crafted timeline: a gap of
    exactly gap_minutes does NOT start a new session (strict >); the
    first event always does; users are independent."""
    import datetime as dt

    from mee_spark.relational import sessionize

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: start, +29m59s (same), +30m exactly (same: gap == 1800
        # is not > 1800), +30m01s (new), +1s (same)
        (1, 1, t0),
        (2, 1, t0 + dt.timedelta(minutes=29, seconds=59)),
        (3, 1, t0 + dt.timedelta(minutes=59, seconds=59)),
        (4, 1, t0 + dt.timedelta(minutes=90, seconds=0)),
        (5, 1, t0 + dt.timedelta(minutes=90, seconds=1)),
        # user 2: lone event -> session 1
        (6, 2, t0 + dt.timedelta(hours=5)),
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {r["event_id"]: r["session_id"]
           for r in sessionize(ev, gap_minutes=30).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 2, 5: 2, 6: 1}


def test_rolling_stats_frames(spark):
    """ROWS-frame rolling mean/max: frame_n ramps 1..n_preceding+1, the
    mean is over exactly the frame rows, and ties order by event_id."""
    import datetime as dt

    from mee_spark.relational import rolling_stats

    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, 1, t0 + dt.timedelta(minutes=i), float(v))
            for i, v in enumerate([10.0, 20.0, 60.0, 20.0])]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double")
    got = {r["event_id"]: r for r in rolling_stats(ev, n_preceding=2).collect()}
    assert [got[i]["frame_n"] for i in range(4)] == [1, 2, 3, 3]
    assert got[2]["moving_avg"] == 30.0 and got[2]["running_max"] == 60.0
    assert round(got[3]["moving_avg"], 6) == round(100.0 / 3, 6)
    assert got[3]["running_max"] == 60.0
