"""Validation framework: split / summary / batch gate (P3-P7, K6-K8)."""

from __future__ import annotations

from group_2_shopware_enterprise_data_engineering_project_spark.operators import validate as V


def _df(spark):
    # (id, stock, threshold) with planted violations.
    rows = [
        (1, 10, 5),      # valid
        (2, -1, 5),      # stock negative
        (None, 10, 5),   # id missing
        (3, 10, None),   # valid (threshold nullable)
        (4, 10, -2),     # threshold negative (non-null)
    ]
    return spark.createDataFrame(rows, "id long, stock long, threshold long")


def _rules():
    return (
        V.required(["id"])
        + V.non_negative(["stock"])
        + V.non_negative_or_null(["threshold"])
    )


def test_split_counts_and_reasons(spark):
    valid, invalid = V.split(_df(spark), _rules())
    assert valid.count() == 2
    inv = {tuple(r.violations) for r in invalid.collect()}
    assert ("stock_non_negative",) in inv
    assert ("id_required",) in inv
    assert ("threshold_non_negative_or_null",) in inv
    # invalid side keeps the violations column; valid side drops it
    assert "violations" not in valid.columns


def test_row_counts_observed_by_the_first_action(spark, monkeypatch):
    """The first action on either side of an observed split counts both
    sides; a split that never ran is counted by the fallback aggregate
    once the bounded wait for its observation ends."""
    counts = V.RowCounts()
    _valid, invalid = V.split(_df(spark), _rules(), counts)
    assert invalid.count() == 3
    assert counts.get() == (2, 3)
    assert counts._observed() is not None

    monkeypatch.setattr(V, "_OBSERVED_WAIT_S", 0.05)
    never_ran = V.RowCounts()
    V.split(_df(spark), _rules(), never_ran)
    assert never_ran._observed() is None
    assert never_ran.get() == (2, 3)


def test_summary_single_row(spark):
    row = V.summary(_df(spark), _rules()).collect()[0]
    assert row.total_rows == 5
    assert row.valid_rows == 2
    assert row.invalid_rows == 3
    assert row.viol_id_required == 1
    assert row.viol_stock_non_negative == 1


def test_batch_gate(spark):
    """The file-level gate (reference inventory_validate.py:244-247
    rejects the whole file if ANY row fails) is the K8 summary's
    invalid_rows == 0."""
    df = _df(spark)
    assert V.summary(df, _rules()).first().invalid_rows > 0
    clean = df.filter("id IS NOT NULL AND stock >= 0 AND (threshold IS NULL OR threshold >= 0)")
    assert V.summary(clean, _rules()).first().invalid_rows == 0


def test_not_future_rule(spark):
    df = spark.createDataFrame(
        [("2025-01-01 00:00:00",), ("2025-01-03 00:00:00",)], ["ts"]
    ).selectExpr("CAST(ts AS timestamp) AS ts")
    rule = V.not_future("ts", horizon="24 hours", now="2025-01-01 12:00:00")
    valid, invalid = V.split(df, [rule])
    assert valid.count() == 1 and invalid.count() == 1


def test_positive_key_rule(spark):
    df = spark.createDataFrame([(1,), (0,), (-3,)], ["customer_id"])
    valid, invalid = V.split(df, [V.positive_key("customer_id")])
    assert valid.count() == 1 and invalid.count() == 2


def test_quarantine_split_writes_both_sides(spark, tmp_path):
    vp, rp = str(tmp_path / "valid"), str(tmp_path / "rejected")
    valid, invalid = V.split(_df(spark), _rules())
    valid.write.parquet(vp)
    V.write_rejected(invalid, rp, "overwrite")
    assert spark.read.parquet(vp).count() == 2
    rej = spark.read.parquet(rp)
    assert rej.count() == 3
    # violations serialized as JSON string for the quarantine zone
    assert dict(rej.dtypes)["violations"] == "string"

