"""Row-transform operators (P8-P12) and cleaning functions (P4-P5, P11)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from group_2_shopware_enterprise_data_engineering_project_spark.functions.cleanfn import (
    anon_id,
    blank_to_null,
    range_to_null,
)
from group_2_shopware_enterprise_data_engineering_project_spark.functions.timefn import (
    epoch_to_timestamp,
    hour_partition_cols,
)
from group_2_shopware_enterprise_data_engineering_project_spark.operators.transform import (
    enforce_schema,
    extra_columns,
    normalize_epoch,
    stamp_ingestion_time,
)


def test_epoch_autodetect_seconds_vs_millis(spark):
    # 1.7e9 is seconds; 1.7e12 (> 1e11 threshold) is milliseconds —
    # both denote the same instant (reference transformation.py:37-49).
    df = spark.createDataFrame([(1.7e9,), (1.7e12,)], ["ts"])
    out = df.select(epoch_to_timestamp("ts").alias("t")).collect()
    assert out[0].t == out[1].t == dt.datetime(2023, 11, 14, 22, 13, 20)


def test_epoch_truncate_to_second(spark):
    df = spark.createDataFrame([(1.7e9 + 0.999,)], ["ts"])
    out = df.select(epoch_to_timestamp("ts", truncate_to_second=True).alias("t")).collect()
    assert out[0].t.microsecond == 0


def test_normalize_epoch_derives_date(spark):
    df = spark.createDataFrame([(1.7e9,)], ["ts"])
    out = normalize_epoch(df, "ts", ts_col="event_time", date_col="date").collect()[0]
    assert out.date == dt.date(2023, 11, 14)


def test_enforce_schema_drops_extras_nulls_missing(spark):
    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
        ]
    )
    df = spark.createDataFrame([("1", "x", "junk")], ["a", "extra", "b2"])
    out = enforce_schema(df.withColumnRenamed("b2", "c"), schema)
    assert out.columns == ["a", "b"]
    row = out.collect()[0]
    assert row.a == 1 and row.b is None
    assert extra_columns(df, schema) == ["extra", "b2"]


def test_enforce_schema_strict_raises(spark):
    schema = T.StructType([T.StructField("missing", T.LongType())])
    df = spark.createDataFrame([(1,)], ["a"])
    try:
        enforce_schema(df, schema, strict=True)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_blank_to_null_and_trim(spark):
    df = spark.createDataFrame([("  x  ",), ("   ",), (None,)], ["s"])
    vals = [r.v for r in df.select(blank_to_null("s").alias("v")).collect()]
    assert vals == ["x", None, None]


def test_range_to_null_rating(spark):
    df = spark.createDataFrame([(1,), (5,), (0,), (6,)], ["rating"])
    vals = [r.v for r in df.select(range_to_null("rating", 1, 5).alias("v")).collect()]
    assert vals == [1, 5, None, None]


def test_anon_id_deterministic(spark):
    df = spark.createDataFrame([("s1", "u1"), ("s1", "u1"), ("s2", "u2")], ["s", "u"])
    vals = [r.v for r in df.select(anon_id("s", "u").alias("v")).collect()]
    assert vals[0] == vals[1] != vals[2]
    assert vals[0].startswith("anon") and len(vals[0]) == 4 + 8


def test_stamp_ingestion_time_fixed(spark):
    df = spark.createDataFrame([(1,)], ["a"])
    r = stamp_ingestion_time(df, fixed="2025-01-01 00:00:00").collect()[0]
    assert r.ingestion_time == dt.datetime(2025, 1, 1)


def test_hour_partition_cols_zero_padded(spark):
    df = spark.createDataFrame([(dt.datetime(2025, 7, 3, 4, 5),)], ["t"])
    cols = hour_partition_cols("t")
    r = df.select(*[v.alias(k) for k, v in cols.items()]).collect()[0]
    assert (r.year, r.month, r.day, r.hour) == ("2025", "07", "03", "04")


def test_funnel_strict_order_semantics(spark):
    """Funnel steps count only strictly after the FIRST completion of
    the previous step: a click before any view is ignored, and a
    purchase between view and click does not count."""
    import datetime

    from group_2_shopware_enterprise_data_engineering_project_spark.operators.analytics import (
        funnel,
    )

    t0 = datetime.datetime(2025, 1, 1)

    def ts(s):
        return t0 + datetime.timedelta(seconds=s)

    rows = [
        # user 1: full ordered funnel
        (1, ts(0), 1, "view"), (1, ts(1), 2, "click"), (1, ts(2), 3, "purchase"),
        # user 2: click BEFORE view -> click/purchase never reached
        (2, ts(0), 4, "click"), (2, ts(1), 5, "view"),
        # user 3: purchase before click -> stops at click step unreached;
        # then a later click counts, but no purchase after it
        (3, ts(0), 6, "view"), (3, ts(1), 7, "purchase"), (3, ts(2), 8, "click"),
        # user 4: non-funnel event types only
        (4, ts(0), 9, "error"), (4, ts(1), 10, "signup"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = {r.step_name: r.n_users for r in funnel(df).collect()}
    assert out == {"view": 3, "click": 2, "purchase": 1}


def test_cohort_retention_matrix(spark):
    """Known retention triangle: cohort = first-activity week; offsets
    count distinct active users, multiple events in a week count once."""
    import datetime

    from group_2_shopware_enterprise_data_engineering_project_spark.operators.analytics import (
        cohort_retention,
    )

    mon = datetime.datetime(2025, 1, 6)  # a Monday

    def ts(week, dow=0):
        return mon + datetime.timedelta(weeks=week, days=dow)

    rows = [
        # cohort week 0: users 1, 2; user 1 returns weeks 1 and 2,
        # user 2 only week 0 (3 events same week -> one active cell)
        (1, ts(0)), (1, ts(1)), (1, ts(2)),
        (2, ts(0)), (2, ts(0, 2)), (2, ts(0, 4)),
        # cohort week 1: user 3, returns week 2
        (3, ts(1, 3)), (3, ts(2)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        (r.cohort_week.isoformat(), r.week_offset): r.n_users
        for r in cohort_retention(df).collect()
    }
    assert out == {
        ("2025-01-06", 0): 2,
        ("2025-01-06", 1): 1,
        ("2025-01-06", 2): 1,
        ("2025-01-13", 0): 1,
        ("2025-01-13", 1): 1,
    }
