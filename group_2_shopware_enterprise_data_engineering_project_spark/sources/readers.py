"""File-format readers (S2 CSV, S3 JSONL/JSON-array, S5 record decode).

Reference parity:
- S2: CSV scan with explicit schema + header
  (reference src/batch/pos/services/glue_job/transfom_pos.py:40-47).
- S3: JSONL or top-level-JSON-array scan — the reference's pandas
  validator sniffs both forms (reference
  src/batch/inventory/services/glue_service/inventory_validate.py:134-167).
  Spark's json source reads NDJSON natively and arrays with multiLine.
- S4 (chunked >100MB reads, inventory_validate.py:170-207) is
  intentionally absent: Spark splits large files across tasks natively,
  which is the whole point of the engine swap.
- S5: per-record base64→utf8→json decode (reference
  src/streaming/WEB/services/lambda/transformation.py:55-58,
  src/streaming/CRM/services/consumer/lambda_function.py:290-294) —
  here a single projection: unbase64 → from_json → star-expand.

All readers take an explicit StructType: schema-on-read with declared
schemas is the reference's model (SURVEY §1.2), and on a cluster it
avoids the full-data inference scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S2 — schema'd CSV scan. Malformed rows become typed NULLs
    (PERMISSIVE), which the validation layer then routes to quarantine —
    same split of concerns as the reference's validate-then-transform."""
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S3 — NDJSON, one record per line."""
    return spark.read.schema(schema).json(path)


def decode_json_records(
    df: DataFrame, payload_col: str, schema: T.StructType
) -> DataFrame:
    """S5 — decode a column of base64'd JSON record payloads into typed
    columns; unparseable payloads yield NULL fields, which validation
    rules then catch (record-level DLQ semantics)."""
    raw = F.unbase64(F.col(payload_col)).cast("string")
    passthrough = [c for c in df.columns if c != payload_col]
    return df.select(
        *passthrough, F.from_json(raw, schema).alias("_rec")
    ).select(*passthrough, "_rec.*")
