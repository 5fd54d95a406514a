"""Testdata catalog: the driver-generated TPC-H-ish star schema.

Tables (one parquet each under an sf dir, see /root/repo/TESTDATA.md):
region nation customer supplier part orders lineitem events documents
embeddings. All reads are plain ``spark.read.parquet`` so Catalyst gets
predicate pushdown + column pruning on every downstream query.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark has no nanos
    timestamp type, so these need the nanosAsLong read path. Footer-only
    metadata read on one file; cheap at any scale."""
    import pyarrow.parquet as pq

    f = path
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not files:
            return []
        f = files[0]
    schema = pq.read_schema(f)
    return [
        field.name
        for field in schema
        if str(field.type) == "timestamp[ns]"
    ]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Lazy — the scan node only materializes
    the columns/filters the final plan needs.

    Nano-precision timestamp columns (events.ts) are read as long via
    ``spark.sql.legacy.parquet.nanosAsLong`` and converted to
    microsecond timestamps with integer division (``div 1000`` — a
    float division would lose precision on 1e18-scale epochs), matching
    DuckDB's ns->us truncation.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    # Self-configure the session: every query starts with a table()
    # read, and the driver harness may run queries on a session that
    # never went through entry()/get_spark(). UTC is correctness (the
    # DuckDB oracle compares timestamps bit-for-bit).
    from group_2_shopware_enterprise_data_engineering_project_spark.session import (
        ensure_session_settings,
    )

    ensure_session_settings(spark)
    path = f"{sf_dir}/{name}.parquet"
    # nanosAsLong is pinned true ONCE by ensure_session_settings — no
    # per-read session-global conf mutation happens here (a per-call
    # toggle raced under concurrent harnesses). The footer probe only
    # decides which columns need the long->timestamp conversion below.
    ns_cols = _nanos_timestamp_cols(path)
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # Belt-and-braces vs session conf: if a pre-existing session already
    # read parquet with inferTimestampNTZ on (the conf is sticky per
    # file-scan cache), normalize NTZ -> TIMESTAMP here. Session TZ is
    # UTC, so the cast is value-exact.
    for name_, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(name_, F.col(name_).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every testdata table as a temp view so Athena-style SQL
    runs against the engine verbatim: the reference's analysts query
    tables by name (quicksight script.sql), and `spark.sql` over these
    views is the drop-in surface. Views are lazy scans — registering
    costs nothing until a query touches one."""
    for name in TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
    return list(TABLE_NAMES)
