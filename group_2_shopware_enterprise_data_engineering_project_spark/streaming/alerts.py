"""ST5 — hourly tumbling-window alerting (A5 as a stream).

Reference behavior: an hourly EventBridge-triggered lambda counts CRM
interactions with rating <= 2 in the previous hour-aligned window and
alerts when the count reaches 10 (reference
src/streaming/CRM/services/alerting_system/alerting_lambda.py:24-25,47-93).

Spark-first form: a windowed aggregation. As a stream it runs
continuously with a watermark bounding state (ST4: the reference keeps
no late-data state at all — a 0-delay watermark matches it; we default
to 10 minutes of lateness tolerance, strictly more correct). The same
function works on a batch DataFrame for the scheduled-query form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ALERT_THRESHOLD = 10  # reference alerting_lambda.py:24
NEGATIVE_RATING_MAX = 2  # reference alerting_lambda.py:47-57


def negative_interaction_counts(
    interactions: DataFrame,
    ts_col: str = "ingestion_time",
    rating_col: str = "rating",
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Hour-aligned negative-interaction counts. Streaming iff the
    input is streaming; watermark applies only then."""
    df = interactions
    if df.isStreaming and watermark:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.filter(F.col(rating_col) <= NEGATIVE_RATING_MAX)
        .groupBy(F.window(F.col(ts_col), "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("negative_count"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "negative_count",
        )
    )


def alerts(
    interactions: DataFrame,
    ts_col: str = "ingestion_time",
    rating_col: str = "rating",
) -> DataFrame:
    """Windows whose negative count crosses ALERT_THRESHOLD (reference
    fires SNS; here the alert rows ARE the output — any sink can
    deliver them)."""
    return negative_interaction_counts(interactions, ts_col, rating_col).filter(
        F.col("negative_count") >= ALERT_THRESHOLD
    )
