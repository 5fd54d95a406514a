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
    """Per-run row accounting. Fields are None when the run was
    invoked with ``collect_stats=False`` (the counts were never
    computed) — an explicit "not collected" signal instead of a
    plausible-looking sentinel number."""

    valid_rows: int | None
    rejected_rows: int | None
    upserted_rows: int | None


def run(
    spark: SparkSession,
    input_path: str,
    table_path: str,
    rejected_path: str | None = None,
    now: str | None = None,
    collect_stats: bool = True,
) -> RunResult:
    """`collect_stats=False` skips the three count actions — each is an
    extra scan of the JSONL input / the table (the pos.run precedent)."""
    raw = read_jsonl(spark, input_path, INVENTORY_SCHEMA)
    typed = normalize_epoch(
        enforce_schema(raw, INVENTORY_SCHEMA),
        "last_updated",
        ts_col="last_updated_datetime",
        date_col="last_updated_date",
    )
    ok, bad = validate.split(typed, rules(now))
    if rejected_path:
        import pyspark.sql.functions as F

        bad.withColumn("violations", F.to_json("violations")).write.mode(
            "overwrite"
        ).parquet(rejected_path)

    deduped = keep_latest(ok, ("inventory_id",), "last_updated", "product_id")
    table = ParquetUpsertTable(spark, table_path, partition_by=("last_updated_date",))
    table.upsert_replace(deduped, ("inventory_id",), "last_updated")
    if not collect_stats:
        return RunResult(None, None, None)
    return RunResult(
        valid_rows=ok.count(),
        rejected_rows=bad.count(),
        upserted_rows=table.read().count(),
    )
