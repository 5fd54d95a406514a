"""CRM interactions streaming pipeline: JSON -> clean -> hour-partitioned
parquet by INGESTION time -> hourly negative-interaction alerts
(SURVEY §3.3 CRM variant).

Reference flow (src/streaming/CRM): producer -> Kinesis -> consumer
Lambda (validate types, clean: trim/empty->null, rating 1..5 else null,
customer_id>0 else reject; stamp ingestion_time; write parquet by
ingestion hour; register partition) -> hourly alerting lambda.

Cleaning parity (reference lambda_function.py:88-117):
- strings trimmed, empty -> NULL (P4)
- rating outside 1..5 -> NULL, kept (P5)
- customer_id <= 0 -> record rejected to DLQ (P6)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from group_2_shopware_enterprise_data_engineering_project_spark.functions.cleanfn import (
    blank_to_null,
    range_to_null,
)
from group_2_shopware_enterprise_data_engineering_project_spark.operators import validate
from group_2_shopware_enterprise_data_engineering_project_spark.operators.transform import (
    normalize_epoch,
    stamp_ingestion_time,
)
from group_2_shopware_enterprise_data_engineering_project_spark.schemas import (
    CRM_INTERACTION_SCHEMA,
)
from group_2_shopware_enterprise_data_engineering_project_spark.sinks import (
    write_hour_partitioned,
)
from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
    dlq_split_sink,
    stream_json_source,
)

REQUIRED = ["customer_id", "interaction_type", "timestamp"]


def rules() -> list[validate.Rule]:
    return validate.required(REQUIRED) + [validate.positive_key("customer_id")]


def clean(df: DataFrame, fixed_ingestion_time: str | None = None) -> DataFrame:
    df = (
        df.withColumn("interaction_type", blank_to_null("interaction_type"))
        .withColumn("channel", blank_to_null("channel"))
        .withColumn("message_excerpt", blank_to_null("message_excerpt"))
        .withColumn("rating", range_to_null("rating", 1, 5))
    )
    df = normalize_epoch(df, "timestamp", ts_col="event_time")
    return stamp_ingestion_time(df, fixed_ingestion_time)


def run_stream(
    spark: SparkSession,
    input_dir: str,
    output_path: str,
    dlq_path: str,
    checkpoint: str,
    fixed_ingestion_time: str | None = None,
) -> None:
    src = stream_json_source(spark, input_dir, CRM_INTERACTION_SCHEMA)

    def _write_valid(df: DataFrame, _bid: int) -> None:
        write_hour_partitioned(
            clean(df, fixed_ingestion_time), "ingestion_time", output_path
        )

    dlq_split_sink(src, rules(), _write_valid, dlq_path, checkpoint)
