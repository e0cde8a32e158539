"""local_rows: Arrow-built literal frames are LocalRelations that mean
exactly what spark.createDataFrame(rows, schema) means."""

from __future__ import annotations

import datetime
import os
import time

import pytest
from pyspark.sql import functions as F

from lawlm_spark.localdata import local_rows

# every column type the engine's callers pass, with nulls
SCHEMA = "id long, n int, s string, x double, ts timestamp, v array<double>"
ROWS = [
    (1, 7, "a", 0.5, datetime.datetime(2024, 3, 10, 2, 30, 0, 123456), [1.0, -2.5]),
    (2, None, None, None, None, None),
    (-3, -1, "", -0.0, datetime.datetime(1969, 12, 31, 23, 59, 59), []),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().logical().nodeName()


def _assert_same_as_create(spark, rows, schema):
    got = local_rows(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert _plan(got) == "LocalRelation"
    assert got.schema == want.schema
    assert got.collect() == want.collect()


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "zero_rows"])
def test_local_rows_matches_create_dataframe(spark, rows):
    _assert_same_as_create(spark, rows, SCHEMA)


def test_local_rows_on_bare_session(spark):
    """Arrow for pandas conversion off: the path does not depend on it."""
    bare = spark.newSession()
    bare.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    _assert_same_as_create(bare, ROWS, SCHEMA)
    _assert_same_as_create(bare, [], SCHEMA)


def test_local_rows_needs_no_job(spark):
    sc = spark.sparkContext
    sc.setJobGroup("local_rows_no_job", "local_rows")
    try:
        local_rows(spark, ROWS, SCHEMA).select("id", "ts").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("local_rows_no_job")) == []


def test_local_rows_raises_instead_of_rdd_fallback(spark):
    small = spark.newSession()
    small.conf.set("spark.sql.execution.arrow.localRelationThreshold", "0")
    with pytest.raises(ValueError, match="not a LocalRelation"):
        local_rows(small, ROWS, SCHEMA)


def test_naive_datetime_is_process_local_time(spark):
    """A naive datetime is the Python process's local time, as on the
    pickled createDataFrame path — not the session time zone."""
    saved = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        dt = datetime.datetime(2024, 7, 1, 12, 0, 0)
        want_us = int(time.mktime(dt.timetuple())) * 1_000_000
        assert want_us == int(
            datetime.datetime(2024, 7, 1, 16, tzinfo=datetime.timezone.utc).timestamp()
        ) * 1_000_000  # EDT is UTC-4: the zone really is in effect
        got = local_rows(spark, [(dt,)], "ts timestamp")
        want = spark.createDataFrame([(dt,)], "ts timestamp")
        us = F.unix_micros("ts").alias("us")
        assert got.select(us).first()["us"] == want.select(us).first()["us"] == want_us
        assert got.collect() == want.collect()
    finally:
        if saved is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = saved
        time.tzset()
