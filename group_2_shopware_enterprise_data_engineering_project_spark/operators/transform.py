"""Row-transform operators (P8-P12) as native column expressions.

Reference equivalents are row-at-a-time Python in Glue/Lambda; here
each is a single projection — map-side only, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from group_2_shopware_enterprise_data_engineering_project_spark.functions.timefn import (
    derive_date,
    epoch_to_timestamp,
)


def enforce_schema(df: DataFrame, schema: T.StructType, strict: bool = False) -> DataFrame:
    """P8 — project to the declared schema and cast every column
    (reference inventory_validate.py:227-236: cast all columns to
    expected dtypes). Unknown columns are dropped (logged-and-ignored
    semantics, inventory_validate.py:222-225); missing ones become
    typed NULLs unless strict.
    """
    out = []
    for field in schema.fields:
        if field.name in df.columns:
            out.append(F.col(field.name).cast(field.dataType).alias(field.name))
        elif strict:
            raise ValueError(f"missing required column {field.name!r}")
        else:
            out.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*out)


def extra_columns(df: DataFrame, schema: T.StructType) -> list[str]:
    """P2 — columns present in the data but not the declared schema;
    the reference routes such rows to a separate sink (api.py:125-135)."""
    declared = {f.name for f in schema.fields}
    return [c for c in df.columns if c not in declared]


def normalize_epoch(
    df: DataFrame,
    epoch_col: str,
    ts_col: str = "event_time",
    date_col: str | None = None,
) -> DataFrame:
    """P9 + P10 — epoch float (s or ms, autodetected at 1e11) ->
    timestamp, plus optional derived date column (reference
    transformation.py:37-49, inventory_transform.py:403-410)."""
    df = df.withColumn(ts_col, epoch_to_timestamp(epoch_col))
    if date_col:
        df = df.withColumn(date_col, derive_date(ts_col))
    return df


def stamp_ingestion_time(df: DataFrame, fixed: str | None = None) -> DataFrame:
    """P12 — add ingestion_time to every row of the batch (reference
    lambda_function.py:266-268). `fixed` pins the stamp for
    deterministic tests; production uses the batch wall clock."""
    col = F.lit(fixed).cast("timestamp") if fixed else F.current_timestamp()
    return df.withColumn("ingestion_time", col)
