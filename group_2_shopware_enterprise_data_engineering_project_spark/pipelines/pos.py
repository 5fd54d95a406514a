"""POS batch pipeline: CSV -> validate -> dedup -> daily-sales KPI
MERGE + fact append (SURVEY §3.1).

Reference flow (src/batch/pos): pandas validator (schema/not-null,
quarantine) then Glue Spark transform — schema'd CSV scan, epoch->
timestamp+date, dropDuplicates, groupBy(product_id, date) sum(revenue)
rounded to 2dp, additive Delta MERGE into the KPI table, append to the
fact table (transfom_pos.py:114-170).

The round(sum,2)-before-merge quirk is load-bearing: the KPI table
accumulates ROUNDED per-batch sums (reference transfom_pos.py:127-129
rounds, :140-152 merges) — preserved exactly.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from group_2_shopware_enterprise_data_engineering_project_spark.operators import validate
from group_2_shopware_enterprise_data_engineering_project_spark.operators.dedup import distinct_rows
from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
    ParquetUpsertTable,
)
from group_2_shopware_enterprise_data_engineering_project_spark.operators.transform import (
    normalize_epoch,
)
from group_2_shopware_enterprise_data_engineering_project_spark.schemas import POS_SCHEMA
from group_2_shopware_enterprise_data_engineering_project_spark.sources.readers import read_csv

REQUIRED = ["transaction_id", "store_id", "product_id", "quantity", "revenue", "timestamp"]


def rules() -> list[validate.Rule]:
    return validate.required(REQUIRED) + validate.non_negative(["quantity", "revenue"])


def daily_sales_kpi(facts: DataFrame) -> DataFrame:
    """A1 — per (product_id, date) revenue sum rounded to 2dp
    (reference transfom_pos.py:127-129).

    Implemented as exact integer cents (round-half-up per row, BIGINT
    sum, /100): bit-identical across engines, where a float
    round(sum, 2) differs in the last ulp between Spark and DuckDB."""
    cents = F.floor(F.col("revenue") * 100.0 + 0.5).cast("long")
    return facts.groupBy("product_id", "date").agg(
        (F.sum(cents).cast("double") / F.lit(100.0)).alias("total_sales")
    )


@dataclass
class RunResult:
    """Per-run row accounting: rows that passed and failed validation
    (observed by the fact write's own scan, `validate.RowCounts`) and
    rows in the fact and KPI tables after the run (their parquet
    footers)."""

    valid_rows: int
    rejected_rows: int
    fact_rows: int
    kpi_rows: int


def run(
    spark: SparkSession,
    csv_path: str,
    fact_path: str,
    kpi_path: str,
    rejected_path: str | None = None,
    partition_by: tuple[str, ...] = ("date",),
) -> RunResult:
    """`partition_by` defaults to the reference's per-date layout
    (transfom_pos.py:157,166) — right when each batch touches few
    dates. For backfills spanning thousands of dates, pass () to avoid
    a tiny-file-per-date explosion."""
    raw = read_csv(spark, csv_path, POS_SCHEMA)
    counts = validate.RowCounts()
    ok, bad = validate.split(raw, rules(), counts)
    if rejected_path:
        validate.write_rejected(bad, rejected_path, "overwrite")

    facts = normalize_epoch(
        distinct_rows(ok), "timestamp", ts_col="timestamp", date_col="date"
    )

    # Write the fact table FIRST, then derive the KPI from the batch's
    # facts — the CSV scan -> validate -> full-row-distinct shuffle is
    # the expensive part of this pipeline, and the original
    # kpi-then-facts order computed it once per sink (measured at
    # sf0.1: the dedup exchange wrote its 17 MB twice, r12 stage
    # profile). Bootstrap reads the just-written table back (the KPI
    # needs 3 of its columns, so the parquet re-read is pruned and
    # cheap at any scale — cheaper than caching a corpus-sized batch);
    # the append path must aggregate THIS batch only, so there the
    # batch is persisted across the two actions instead of recomputed.
    fact_table = ParquetUpsertTable(spark, fact_path, partition_by=partition_by)
    appending = fact_table.exists()
    if appending:
        facts = facts.persist()
        fact_table.append(facts)
        kpi_src = facts
    else:
        fact_table.create_or_overwrite(facts)
        kpi_src = fact_table.read()
    kpi = daily_sales_kpi(kpi_src)

    kpi_table = ParquetUpsertTable(spark, kpi_path, partition_by=partition_by)
    kpi_table.upsert_additive(kpi, ("product_id", "date"), ("total_sales",))
    if appending:
        facts.unpersist()

    valid_rows, rejected_rows = counts.get()
    return RunResult(
        valid_rows, rejected_rows, fact_table.row_count(), kpi_table.row_count()
    )
