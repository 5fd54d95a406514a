"""Inventory batch pipeline: JSONL -> validate -> transform -> upserted
table (SURVEY §3.2).

Reference flow (src/batch/inventory): SQS/Lambda triggers a Step
Function that runs a pandas validator (JSONL scan, schema+null+business
rules, quarantine routing) then a Glue Spark transform (casts, derived
date cols, keep-latest dedup, Delta MERGE upsert, archive). Here the
whole flow is one Spark job: the validator is a declarative rule split,
the upsert is the pure-Spark MERGE, and quarantine is a second write.

Scale: one scan of the input; valid/invalid split shares it. The MERGE
shuffles once on inventory_id. Partitioning the upsert table by
last_updated_date bounds the rewrite the way the reference's Delta
partitioning does (inventory_transform.py:280-283).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from group_2_shopware_enterprise_data_engineering_project_spark.operators import validate
from group_2_shopware_enterprise_data_engineering_project_spark.operators.dedup import keep_latest
from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
    ParquetUpsertTable,
)
from group_2_shopware_enterprise_data_engineering_project_spark.operators.transform import (
    enforce_schema,
    normalize_epoch,
)
from group_2_shopware_enterprise_data_engineering_project_spark.schemas import INVENTORY_SCHEMA
from group_2_shopware_enterprise_data_engineering_project_spark.sources.readers import read_jsonl

REQUIRED = ["inventory_id", "product_id", "warehouse_id", "stock_level", "last_updated"]


def rules(now: str | None = None) -> list[validate.Rule]:
    """The inventory business rules (reference
    inventory_validate.py:216-276): required fields, stock_level >= 0,
    restock_threshold >= 0 OR NULL, last_updated <= now + 24h."""
    return (
        validate.required(REQUIRED)
        + validate.non_negative(["stock_level"])
        + validate.non_negative_or_null(["restock_threshold"])
        + [validate.not_future("last_updated_datetime", "24 hours", now)]
    )


@dataclass
class RunResult:
    """Per-run row accounting: rows that passed and failed validation
    (observed by the upsert's own scan, `validate.RowCounts`) and rows
    in the table after the upsert (its parquet footers)."""

    valid_rows: int
    rejected_rows: int
    upserted_rows: int


def run(
    spark: SparkSession,
    input_path: str,
    table_path: str,
    rejected_path: str | None = None,
    now: str | None = None,
) -> RunResult:
    raw = read_jsonl(spark, input_path, INVENTORY_SCHEMA)
    typed = normalize_epoch(
        enforce_schema(raw, INVENTORY_SCHEMA),
        "last_updated",
        ts_col="last_updated_datetime",
        date_col="last_updated_date",
    )
    counts = validate.RowCounts()
    ok, bad = validate.split(typed, rules(now), counts)
    if rejected_path:
        validate.write_rejected(bad, rejected_path, "overwrite")

    deduped = keep_latest(ok, ("inventory_id",), "last_updated", "product_id")
    table = ParquetUpsertTable(spark, table_path, partition_by=("last_updated_date",))
    table.upsert_replace(deduped, ("inventory_id",), "last_updated")
    valid_rows, rejected_rows = counts.get()
    return RunResult(valid_rows, rejected_rows, table.row_count())
