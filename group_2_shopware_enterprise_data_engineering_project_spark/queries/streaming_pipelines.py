"""Driver-visible queries for the streaming layer (ST1/ST5/ST7), the
file readers (S2/S3), the K1 hour-partitioned sink, and the end-to-end
batch pipelines (inventory, POS) — each with a DuckDB oracle.

Roundtrip queries materialize inputs into a fresh temp dir per run
(derived deterministically from the testdata tables), push them through
the real reader/stream/pipeline code path, and return a DataFrame whose
oracle is plain SQL over the original table — so the file formats,
validation, dedup, and merge stages are all inside the checked surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
    ParquetUpsertTable,
)
from group_2_shopware_enterprise_data_engineering_project_spark.pipelines import inventory, pos
from group_2_shopware_enterprise_data_engineering_project_spark.registry import register, scratch_dir
from group_2_shopware_enterprise_data_engineering_project_spark.sinks import (
    read_hour_partitioned,
    write_hour_partitioned,
)
from group_2_shopware_enterprise_data_engineering_project_spark.sources import table
from group_2_shopware_enterprise_data_engineering_project_spark.sources.readers import (
    read_csv,
    read_jsonl,
)
from group_2_shopware_enterprise_data_engineering_project_spark.streaming import alerts
from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
    accumulating_kpi_sink,
    stage_ordered_batches,
    stream_json_source,
)


# --- ST5/A5: hourly tumbling-window alert counts --------------------------

ST5_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       CAST(count(*) AS BIGINT) AS negative_count
FROM events WHERE value <= 2.0
GROUP BY 1, 2 ORDER BY 1
"""


@register(
    "st5_hourly_alert_counts",
    ST5_ORACLE,
    doc="ST5/A5 hour-aligned negative-event counts via window() agg "
    "(reference alerting_lambda.py:47-93; value<=2 stands in for rating<=2)",
)
def st5_hourly_alert_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    return alerts.negative_interaction_counts(
        events, ts_col="ts", rating_col="value", watermark=None
    ).orderBy("window_start")


# --- K1: hour-partitioned sink roundtrip ----------------------------------

K1_ORACLE = """
SELECT strftime(ts, '%Y') AS year, strftime(ts, '%m') AS month,
       strftime(ts, '%d') AS day, strftime(ts, '%H') AS hour,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY 1, 2, 3, 4
"""


@register(
    "k1_hour_partition_roundtrip",
    K1_ORACLE,
    doc="K1 hour-partitioned parquet write + partition-pruned read-back "
    "(reference transformation.py:131-168 layout); per-partition counts",
)
def k1_hour_partition_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("k1")
    write_hour_partitioned(table(spark, sf_dir, "events"), "ts", out)
    back = read_hour_partitioned(spark, out)
    return back.groupBy("year", "month", "day", "hour").agg(
        F.count(F.lit(1)).alias("n_events")
    )


# --- S2: CSV reader roundtrip ---------------------------------------------

ORDERS_CSV_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ]
)

S2_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / CAST(100.0 AS DOUBLE) AS total_price
FROM orders GROUP BY 1
"""


@register(
    "s2_csv_roundtrip",
    S2_ORACLE,
    doc="S2 schema'd CSV scan (reference transfom_pos.py:40-47): orders "
    "-> csv -> read_csv(schema) -> per-status agg; doubles round-trip "
    "via Spark's shortest-repr float formatting",
)
def s2_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("s2")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    orders.write.mode("overwrite").option("header", "true").csv(out)
    back = read_csv(spark, out, ORDERS_CSV_SCHEMA)
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(cents).cast("double") / F.lit(100.0)).alias("total_price"),
    )


# --- S3: JSONL reader roundtrip -------------------------------------------

CUSTOMER_JSON_SCHEMA = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)

S3_ORACLE = """
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / CAST(100.0 AS DOUBLE) AS total_acctbal,
       CAST(min(c_custkey) AS BIGINT) AS min_custkey,
       CAST(max(c_custkey) AS BIGINT) AS max_custkey
FROM customer GROUP BY 1
"""


@register(
    "s3_jsonl_roundtrip",
    S3_ORACLE,
    doc="S3 NDJSON scan with declared schema (reference "
    "inventory_validate.py:134-167): customer -> jsonl -> read_jsonl "
    "-> per-nation agg",
)
def s3_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("s3")
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    cust.write.mode("overwrite").json(out)
    back = read_jsonl(spark, out, CUSTOMER_JSON_SCHEMA)
    cents = F.floor(F.col("c_acctbal") * 100.0 + 0.5).cast("long")
    return back.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (F.sum(cents).cast("double") / F.lit(100.0)).alias("total_acctbal"),
        F.min("c_custkey").alias("min_custkey"),
        F.max("c_custkey").alias("max_custkey"),
    )


# --- ST1+ST7: streaming micro-batches into an accumulating KPI ------------

ST7_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1
"""


@register(
    "st7_stream_kpi",
    ST7_ORACLE,
    doc="ST1 file micro-batches (maxFilesPerTrigger=1) + ST7 accumulating "
    "KPI merge with batch-id guard (reference api.py:22-23, "
    "transfom_pos.py:140-152): 3 files -> 3 batches -> one KPI table",
)
def st7_stream_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        ParquetUpsertTable,
    )

    base = scratch_dir("st7")
    src_dir, kpi_path, ckpt = f"{base}/in", f"{base}/kpi", f"{base}/ckpt"
    events = table(spark, sf_dir, "events").select("event_id", "event_type")
    # 3 input files -> 3 micro-batches (deterministic split on event_id)
    events.withColumn("bucket", (F.col("event_id") % 3).cast("int")).repartition(
        3, "bucket"
    ).drop("bucket").write.mode("overwrite").json(src_dir)

    schema = T.StructType(
        [T.StructField("event_id", T.LongType()), T.StructField("event_type", T.StringType())]
    )
    kpi = ParquetUpsertTable(spark, kpi_path)
    accumulating_kpi_sink(
        stream_json_source(spark, src_dir, schema, max_files_per_trigger=1),
        kpi,
        ("event_type",),
        ("n",),
        lambda df: df.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")),
        ckpt,
    )
    return kpi.read()


# --- Pipelines end-to-end --------------------------------------------------

PIPE_POS_ORACLE = """
WITH src AS (
  SELECT concat(CAST(l_orderkey AS VARCHAR), '-', CAST(l_linenumber AS VARCHAR))
             AS transaction_id,
         CAST(l_suppkey % 10 AS INT) AS store_id,
         CAST(l_partkey AS INT) AS product_id,
         CASE WHEN l_linenumber = 4 THEN NULL ELSE CAST(l_quantity AS INT) END
             AS quantity,
         l_extendedprice AS revenue,
         epoch(o_orderdate) AS ts
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), valid AS (
  SELECT * FROM src WHERE quantity IS NOT NULL
)
SELECT product_id,
       CAST(make_timestamp(CAST(ts AS BIGINT) * 1000000) AS DATE) AS date,
       CAST(sum(CAST(floor(revenue * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / CAST(100.0 AS DOUBLE) AS total_sales
FROM valid GROUP BY 1, 2
"""


@register(
    "pipe_pos",
    PIPE_POS_ORACLE,
    doc="POS pipeline end-to-end (SURVEY §3.1): synthesized daily CSV -> "
    "S2 scan -> validation split (planted null quantities rejected) -> "
    "dedup -> epoch/date derivation -> A1 KPI -> K5 bootstrap merge",
)
def pipe_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("pipe_pos")
    lineitem = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    src = (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.concat_ws("-", "l_orderkey", "l_linenumber").alias("transaction_id"),
            (F.col("l_suppkey") % 10).cast("int").alias("store_id"),
            F.col("l_partkey").cast("int").alias("product_id"),
            F.when(F.col("l_linenumber") == 4, F.lit(None))
            .otherwise(F.col("l_quantity"))
            .cast("int")
            .alias("quantity"),
            F.col("l_extendedprice").alias("revenue"),
            F.lit(0.0).alias("discount_applied"),
            # NTZ -> (UTC session) timestamp -> epoch seconds; a direct
            # ntz->double cast is disallowed in Spark 4
            F.col("o_orderdate").cast("timestamp").cast("double").alias("timestamp"),
        )
    )
    src.write.mode("overwrite").option("header", "true").csv(f"{base}/in")
    # Unpartitioned sinks: this synthetic "batch" spans ~2400 dates, so
    # the reference's per-date layout would mean 2400 tiny partitions.
    pos.run(
        spark, f"{base}/in", f"{base}/fact", f"{base}/kpi",
        partition_by=(),
    )
    return ParquetUpsertTable(spark, f"{base}/kpi").read()


PIPE_INVENTORY_ORACLE = """
WITH src AS (
  SELECT l_partkey AS inventory_id,
         l_partkey AS product_id,
         l_suppkey % 5 AS warehouse_id,
         CAST(l_quantity AS BIGINT) - 10 AS stock_level,
         CASE WHEN l_linenumber % 2 = 0 THEN NULL
              ELSE CAST(l_linenumber AS BIGINT) END AS restock_threshold,
         CAST(l_orderkey * 100 + l_linenumber AS DOUBLE) AS last_updated
  FROM lineitem
), valid AS (
  SELECT * FROM src WHERE stock_level >= 0
), ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY inventory_id ORDER BY last_updated DESC) AS rn
  FROM valid
)
SELECT inventory_id, product_id, warehouse_id, stock_level, restock_threshold,
       last_updated,
       make_timestamp(CAST(last_updated AS BIGINT) * 1000000)
           AS last_updated_datetime,
       CAST(make_timestamp(CAST(last_updated AS BIGINT) * 1000000) AS DATE)
           AS last_updated_date
FROM ranked WHERE rn = 1
"""


@register(
    "pipe_inventory",
    PIPE_INVENTORY_ORACLE,
    doc="Inventory pipeline end-to-end (SURVEY §3.2): synthesized JSONL -> "
    "S3 scan -> schema enforcement -> validation (planted negative stock "
    "rejected) -> keep-latest dedup -> K4 upsert bootstrap",
)
def pipe_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("pipe_inv")
    lineitem = table(spark, sf_dir, "lineitem")
    src = lineitem.select(
        F.col("l_partkey").alias("inventory_id"),
        F.col("l_partkey").alias("product_id"),
        (F.col("l_suppkey") % 5).alias("warehouse_id"),
        (F.col("l_quantity").cast("long") - 10).alias("stock_level"),
        F.when(F.col("l_linenumber") % 2 == 0, F.lit(None))
        .otherwise(F.col("l_linenumber").cast("long"))
        .alias("restock_threshold"),
        (F.col("l_orderkey") * 100 + F.col("l_linenumber"))
        .cast("double")
        .alias("last_updated"),
    )
    src.write.mode("overwrite").json(f"{base}/in")
    inventory.run(spark, f"{base}/in", f"{base}/table")
    return ParquetUpsertTable(spark, f"{base}/table").read()


# --- WEB streaming pipeline end-to-end ------------------------------------

PIPE_WEB_ORACLE = """
WITH src AS (
  SELECT event_id,
         concat('s', CAST(user_id AS VARCHAR)) AS session_id,
         CASE WHEN event_id % 10 = 0 THEN NULL
              ELSE CAST(user_id AS VARCHAR) END AS user_id,
         CASE WHEN event_id % 50 = 0 THEN NULL ELSE props END AS page,
         CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
  FROM events
), valid AS (
  SELECT * FROM src WHERE page IS NOT NULL AND epoch_s > 0
)
SELECT strftime(make_timestamp(epoch_s * 1000000), '%Y') AS year,
       strftime(make_timestamp(epoch_s * 1000000), '%m') AS month,
       strftime(make_timestamp(epoch_s * 1000000), '%d') AS day,
       strftime(make_timestamp(epoch_s * 1000000), '%H') AS hour,
       (user_id IS NULL) AS is_anon,
       CAST(count(*) AS BIGINT) AS n_events
FROM valid GROUP BY 1, 2, 3, 4, 5
"""


@register(
    "pipe_web",
    PIPE_WEB_ORACLE,
    doc="WEB streaming pipeline end-to-end (SURVEY §3.3): synthesized "
    "event JSONL -> micro-batch stream -> validate/DLQ split -> "
    "deterministic anon ids -> hour-partitioned event-time parquet -> "
    "per-partition counts (planted nulls: %10 missing user -> anon, "
    "%50 missing page -> DLQ)",
)
def pipe_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.pipelines import web

    base = scratch_dir("pipe_web")
    events = table(spark, sf_dir, "events")
    src = events.select(
        F.concat(F.lit("s"), F.col("user_id").cast("string")).alias("session_id"),
        F.when(F.col("event_id") % 10 == 0, F.lit(None))
        .otherwise(F.col("user_id").cast("string"))
        .alias("user_id"),
        F.when(F.col("event_id") % 50 == 0, F.lit(None))
        .otherwise(F.col("props"))
        .alias("page"),
        F.lit("desktop").alias("device_type"),
        F.lit("firefox").alias("browser"),
        F.col("event_type"),
        F.floor(F.col("ts").cast("timestamp").cast("double")).cast("double").alias("timestamp"),
    )
    # 4 input files -> 4 micro-batches; each batch writes ~720 hour
    # partitions, so batch count dominates the drain's wall-clock
    src.coalesce(4).write.mode("overwrite").json(f"{base}/in")
    web.run_stream(
        spark, f"{base}/in", f"{base}/out", f"{base}/dlq", f"{base}/ckpt"
    )
    landed = read_hour_partitioned(spark, f"{base}/out")
    return landed.groupBy(
        "year", "month", "day", "hour",
        F.col("user_id").startswith("anon").alias("is_anon"),
    ).agg(F.count(F.lit(1)).alias("n_events"))


# --- CRM streaming pipeline end-to-end ------------------------------------

PIPE_CRM_ORACLE = """
WITH src AS (
  SELECT event_id,
         CASE WHEN event_id % 100 = 0 THEN -1
              ELSE CAST(user_id + 1 AS INT) END AS customer_id,
         concat(' ', event_type, ' ') AS interaction_type,
         CASE WHEN event_id % 7 = 0 THEN '' ELSE 'web' END AS channel,
         CAST(CAST(floor(value) AS BIGINT) % 9 AS INT) AS rating,
         CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
  FROM events
), valid AS (
  SELECT * FROM src WHERE customer_id > 0
), cleaned AS (
  SELECT customer_id,
         trim(interaction_type) AS interaction_type,
         CASE WHEN trim(channel) = '' THEN NULL ELSE trim(channel) END AS channel,
         CASE WHEN rating BETWEEN 1 AND 5 THEN rating ELSE NULL END AS rating
  FROM valid
)
SELECT interaction_type, rating,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN channel IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null_channel
FROM cleaned GROUP BY 1, 2
"""


@register(
    "pipe_crm",
    PIPE_CRM_ORACLE,
    doc="CRM streaming pipeline end-to-end (SURVEY §3.3): synthesized "
    "interaction JSONL -> micro-batch stream -> positive-key reject to "
    "DLQ (P6) -> trim/blank->null (P4) + rating 1..5 else null (P5) -> "
    "ingestion-time-partitioned parquet -> per-type/rating counts",
)
def pipe_crm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.pipelines import crm

    base = scratch_dir("pipe_crm")
    events = table(spark, sf_dir, "events")
    src = events.select(
        F.when(F.col("event_id") % 100 == 0, F.lit(-1))
        .otherwise((F.col("user_id") + 1).cast("int"))
        .alias("customer_id"),
        F.concat(F.lit(" "), F.col("event_type"), F.lit(" ")).alias("interaction_type"),
        F.when(F.col("event_id") % 7 == 0, F.lit("")).otherwise(F.lit("web")).alias("channel"),
        (F.floor(F.col("value")).cast("long") % 9).cast("int").alias("rating"),
        F.lit("m").alias("message_excerpt"),
        F.floor(F.col("ts").cast("timestamp").cast("double")).cast("double").alias("timestamp"),
    )
    src.write.mode("overwrite").json(f"{base}/in")
    crm.run_stream(
        spark, f"{base}/in", f"{base}/out", f"{base}/dlq", f"{base}/ckpt",
        fixed_ingestion_time="2025-06-01 10:00:00",
    )
    landed = read_hour_partitioned(spark, f"{base}/out")
    return landed.groupBy("interaction_type", "rating").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("channel").isNull().cast("long")).alias("n_null_channel"),
    )


# --- ST9: streaming sessionization (native session_window) ----------------

# The oracle is the m9 batch derivation PLUS the append-mode emission
# rule probed on this Spark version: with a 0-second watermark and an
# availableNow drain, a session emits iff its window end (last event +
# gap) <= the max event time observed — inclusive boundary. Input
# files are time-range buckets with strictly increasing mtimes, so the
# per-batch watermark never outruns a later batch's events (no
# late-drop divergence from the batch computation).
ST9_ORACLE = """
WITH seq AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT *,
         CAST(sum(is_new) OVER (
           PARTITION BY user_id ORDER BY ts) AS BIGINT) AS session_seq
  FROM seq
), sess AS (
  SELECT user_id,
         min(ts) AS session_start,
         max(ts) + INTERVAL 30 MINUTE AS session_end_gap,
         CAST(count(*) AS BIGINT) AS n_events
  FROM s
  GROUP BY user_id, session_seq
)
SELECT * FROM sess
WHERE session_end_gap <= (SELECT max(ts) FROM events)
"""


@register(
    "st9_stream_sessions",
    ST9_ORACLE,
    doc="streaming sessionization: native session_window + 0s watermark "
    "over 3 time-ordered file micro-batches, availableNow drain - "
    "sessions merge across batches in bounded state and emit exactly "
    "once when the watermark passes; oracle = m9 batch derivation + "
    "the probed inclusive emission boundary (end <= max event time)",
)
def st9_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        run_available_now,
        source_bytes,
        state_shuffle_partitions,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.sessions import (
        stream_session_metrics,
    )

    base = scratch_dir("st9")
    src, ckpt, out = f"{base}/in", f"{base}/ckpt", f"{base}/out"
    events = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    # 3 time-range buckets (value cuts, so equal timestamps never split
    # across batches) written with strictly increasing mtimes: batch k's
    # watermark can never exceed batch k+1's earliest event.
    t1, t2 = events.select(
        F.percentile("ts_us", F.lit(1.0 / 3)).cast("long"),
        F.percentile("ts_us", F.lit(2.0 / 3)).cast("long"),
    ).first()
    bucket = (
        F.when(F.col("ts_us") < t1, 0)
        .when(F.col("ts_us") < t2, 1)
        .otherwise(2)
    )
    stage_ordered_batches(events, src, 3, bucket)

    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("ts_us", T.LongType())]
    )
    stream = stream_json_source(spark, src, schema, max_files_per_trigger=1)
    sessions = stream_session_metrics(
        stream.withColumn("ts", F.timestamp_micros("ts_us"))
    )
    run_available_now(
        sessions,
        ckpt,
        lambda df, _bid: df.write.mode("append").parquet(out),
        state_partitions=state_shuffle_partitions(spark, source_bytes(src)),
    )
    return spark.read.parquet(out)


# --- S8: ORC reader/writer roundtrip --------------------------------------

S8_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / CAST(100.0 AS DOUBLE) AS total_price,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM orders GROUP BY 1
"""


@register(
    "s8_orc_roundtrip",
    S8_ORACLE,
    doc="ORC columnar format interop (Spark-native, zero extra "
    "packages): orders -> ORC write -> ORC scan -> per-priority agg; "
    "the oracle runs on the ORIGINAL parquet, so a hash match proves "
    "the roundtrip is lossless incl. timestamps and doubles. ORC "
    "scans get the same pushdown/pruning treatment as parquet "
    "(PushedFilters on the OrcScan)",
)
def s8_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("s8")
    table(spark, sf_dir, "orders").write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(cents).cast("double") / F.lit(100.0)).alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


# --- ST10: stream-stream interval join (driver-visible) -------------------

ST10_ORACLE = """
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS buy_id,
       c.ts AS click_ts,
       p.ts AS buy_ts
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND c.ts <= p.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
ORDER BY c.user_id, click_id, buy_id
"""


@register(
    "st10_stream_stream_join",
    ST10_ORACLE,
    doc="stream-stream interval join run AS STREAMS (clicks x "
    "purchases within 30 min per user, watermarked both sides, "
    "availableNow drain): inner joins emit eagerly on match, state "
    "evicts past watermark+bound; the oracle is the equivalent batch "
    "SQL join over the same events — identical pairs proves the "
    "streaming execution loses and invents nothing",
)
def st10_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.joins import (
        stream_stream_interval_join,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        run_available_now,
        source_bytes,
        state_shuffle_partitions,
    )

    base = scratch_dir("st10")
    cdir, pdir, ckpt, out = (
        f"{base}/clicks",
        f"{base}/buys",
        f"{base}/ckpt",
        f"{base}/out",
    )
    events = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts_us").alias("c_us")
    ).repartition(1).write.mode("overwrite").json(cdir)
    events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("buy_id"), F.col("ts_us").alias("b_us")
    ).repartition(1).write.mode("overwrite").json(pdir)

    cs = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("click_id", T.LongType()),
            T.StructField("c_us", T.LongType()),
        ]
    )
    bs = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("buy_id", T.LongType()),
            T.StructField("b_us", T.LongType()),
        ]
    )
    clicks = (
        spark.readStream.schema(cs)
        .json(cdir)
        .withColumn("click_ts", F.timestamp_micros("c_us"))
        .drop("c_us")
    )
    buys = (
        spark.readStream.schema(bs)
        .json(pdir)
        .withColumn("buy_ts", F.timestamp_micros("b_us"))
        .drop("b_us")
    )
    joined = stream_stream_interval_join(
        clicks,
        buys,
        on=["user_id"],
        left_ts="click_ts",
        right_ts="buy_ts",
        watermark_delay="2 hours",
        within_seconds=1800,
    )
    os.makedirs(out, exist_ok=True)
    run_available_now(
        joined,
        ckpt,
        lambda df, _bid: df.write.mode("append").parquet(out),
        state_partitions=state_shuffle_partitions(
            spark, source_bytes(cdir) + source_bytes(pdir)
        ),
    )
    return spark.read.parquet(out).select(
        "user_id", "click_id", "buy_id", "click_ts", "buy_ts"
    )


# --- ST11: streaming dedup within watermark (driver-visible) --------------

ST11_ORACLE = """
SELECT DISTINCT event_id, user_id, ts, event_type
FROM events
ORDER BY event_id
"""


@register(
    "st11_dedup_within_watermark",
    ST11_ORACLE,
    doc="streaming duplicate suppression with EVICTABLE state: the "
    "event stream doubled (an at-least-once redelivery), then "
    "dropDuplicatesWithinWatermark(event_id) over a watermarked "
    "stream, availableNow drain — dedup state expires with the "
    "watermark instead of growing forever; duplicates are full-row "
    "copies, so which copy survives is content-identical and the "
    "DISTINCT oracle is exact",
)
def st11_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.joins import (
        dedup_within_watermark,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        run_available_now,
        source_bytes,
        state_shuffle_partitions,
    )

    base = scratch_dir("st11")
    src, ckpt, out = f"{base}/in", f"{base}/ckpt", f"{base}/out"
    events = table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros(F.col("ts")).alias("ts_us"), "event_type"
    )
    doubled = events.unionByName(events)
    doubled.repartition(1).write.mode("overwrite").json(src)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .json(src)
        .withColumn("ts", F.timestamp_micros("ts_us"))
        .drop("ts_us")
    )
    deduped = dedup_within_watermark(stream, ["event_id"], "ts", "1 hour")
    os.makedirs(out, exist_ok=True)
    run_available_now(
        deduped,
        ckpt,
        lambda df, _bid: df.write.mode("append").parquet(out),
        state_partitions=state_shuffle_partitions(spark, source_bytes(src)),
    )
    return spark.read.parquet(out).select("event_id", "user_id", "ts", "event_type")


# --- ST12: streaming replace-merge dimension sink (driver-visible) --------

# Final dimension state after draining all batches = per-key row with
# the MAX order column across the whole stream: each micro-batch keeps
# its within-batch latest, and replace-merge lets source beat target,
# so the batch holding a key's global max (batches are ordered
# event_id ranges) lands last for that key. event_id is unique, so the
# winner is deterministic with no timestamp tiebreak hazards.
ST12_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_id, event_type, value
FROM ranked WHERE rn = 1
"""


@register(
    "st12_stream_dim_replace",
    ST12_ORACLE,
    doc="streaming REPLACE-merge dimension sink (the inventory pattern "
    "as a stream): events split into 3 event_id-range micro-batches "
    "with ordered mtimes -> within-batch latest-per-user -> K4 "
    "replace-MERGE into a snapshot-committed dim table, batch ids "
    "riding in the table's atomic manifest txn; the oracle is the "
    "batch latest-row-per-key over the same events",
)
def st12_stream_dim_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        replacing_dim_sink,
    )

    base = scratch_dir("st12")
    src, ckpt = f"{base}/in", f"{base}/ckpt"
    events = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value"
    )
    # 3 event_id-range buckets written with strictly increasing mtimes:
    # maxFilesPerTrigger=1 + availableNow processes them in mtime order,
    # so later batches (higher event_ids) replace earlier dim rows.
    c1, c2 = events.select(
        F.percentile("event_id", F.lit(1.0 / 3)).cast("long"),
        F.percentile("event_id", F.lit(2.0 / 3)).cast("long"),
    ).first()
    bucket = (
        F.when(F.col("event_id") < c1, 0)
        .when(F.col("event_id") < c2, 1)
        .otherwise(2)
    )
    stage_ordered_batches(events, src, 3, bucket)

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = stream_json_source(spark, src, schema, max_files_per_trigger=1)
    dim = ParquetUpsertTable(spark, f"{base}/dim")
    replacing_dim_sink(stream, dim, ("user_id",), "event_id", ckpt)
    return dim.read().select("user_id", "event_id", "event_type", "value")


# --- ST13: streaming count-min sketch maintenance --------------------------

# Counter increments commute, so the final streamed counter table is
# byte-identical to the batch-built sketch — the oracle is EXACT and
# is the SAME builder as m27's (cms_oracle — one copy of the algebra).
from group_2_shopware_enterprise_data_engineering_project_spark.queries.search_stats import (  # noqa: E402
    _CMS_D as _ST13_D,
    _CMS_W as _ST13_W,
    cms_oracle,
)

ST13_ORACLE = cms_oracle(_ST13_D, _ST13_W)


@register(
    "st13_stream_count_min",
    ST13_ORACLE,
    doc=f"streaming count-min maintenance (d={_ST13_D}, w={_ST13_W}): "
    "per micro-batch the batch's (row, bucket) increments additively "
    "MERGE into a persistent counter table under the exactly-once "
    "manifest txn — the production shape for frequency monitoring "
    "over an unbounded stream in FIXED memory (d x w counters, no "
    "per-key state). Because increments commute, the final streamed "
    "sketch is byte-identical to the batch sketch, so the oracle is "
    "exact. Estimates are read from the final counter table",
)
def st13_stream_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        ParquetUpsertTable,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
        stats as _stats,
    )

    base = scratch_dir("st13")
    src_dir, cms_path, ckpt = f"{base}/in", f"{base}/cms", f"{base}/ckpt"
    events = table(spark, sf_dir, "events").select("event_id", "user_id")
    events.withColumn("bucket", (F.col("event_id") % 3).cast("int")).repartition(
        3, "bucket"
    ).drop("bucket").write.mode("overwrite").json(src_dir)

    schema = T.StructType(
        [T.StructField("event_id", T.LongType()), T.StructField("user_id", T.LongType())]
    )
    counters = ParquetUpsertTable(spark, cms_path)

    def _batch_counters(df):
        return _stats.cms_increments(df, "user_id", _ST13_D, _ST13_W).groupBy(
            "i", "bucket"
        ).agg(F.count(F.lit(1)).alias("c"))

    accumulating_kpi_sink(
        stream_json_source(spark, src_dir, schema, max_files_per_trigger=1),
        counters,
        ("i", "bucket"),
        ("c",),
        _batch_counters,
        ckpt,
    )
    # estimates from the final streamed counter table (exact counts
    # ride along for the verification contract, as in m27)
    exact = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_n")
    )
    key_buckets = _stats.cms_increments(
        events, "user_id", _ST13_D, _ST13_W
    ).select("user_id", "i", "bucket").distinct()
    est = (
        key_buckets.join(F.broadcast(counters.read()), ["i", "bucket"])
        .groupBy("user_id")
        .agg(F.min("c").cast("long").alias("cms_est"))
    )
    return exact.join(est, "user_id")


# --- ST14: streaming incremental near-dup ingestion -----------------------

_ST14_NB = 4


def _st14_oracle() -> str:
    from group_2_shopware_enterprise_data_engineering_project_spark.queries.text_pipeline import (
        _minhash_oracle,
    )

    # The full-corpus batch dedup IS the oracle: the streamed union of
    # per-batch pair sets equals it exactly (each pair found once, by
    # the later doc's batch). vs_existing marks cross-batch pairs,
    # i.e. differing doc_id % NB residues under the batch split below.
    return f"""
SELECT t.doc_a, t.doc_b, t.jaccard,
       CAST(t.doc_a % {_ST14_NB} <> t.doc_b % {_ST14_NB} AS INT) AS vs_existing
FROM ({_minhash_oracle()}) t
"""


@register(
    "st14_stream_incremental_dedup",
    _st14_oracle(),
    doc="streaming near-dup ingestion: documents arrive in "
    f"{_ST14_NB} micro-batches (doc_id % {_ST14_NB}); each batch "
    "probes the persistent bucket-index table for cross-corpus "
    "candidates (ids + digests only — history text read only for "
    "candidate ids from the doc store), self-joins within the batch, "
    "exact-verifies, then replace-merges pairs exactly-once under the "
    "manifest txn and appends its buckets to the index. Oracle = the "
    "full-corpus batch minhash dedup — the streamed pair-set union "
    "must reproduce it bit-for-bit",
)
def st14_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        incremental_dedup_sink,
    )

    base = scratch_dir("st14")
    src_dir, ckpt = f"{base}/in", f"{base}/ckpt"
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # one file per residue class — hash-repartition on the bucket col
    # would NOT give a 1:1 residue->file mapping (hash collisions merge
    # batches), and the oracle's vs_existing flag depends on exact
    # batch membership
    stage_ordered_batches(docs, src_dir, _ST14_NB, F.col("doc_id") % _ST14_NB)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    index_table = ParquetUpsertTable(spark, f"{base}/index")
    pairs_table = ParquetUpsertTable(spark, f"{base}/pairs")
    incremental_dedup_sink(
        stream_json_source(spark, src_dir, schema, max_files_per_trigger=1),
        docs,
        index_table,
        pairs_table,
        ckpt,
        threshold=0.4,
        compact_every=2,
    )
    return pairs_table.read().select("doc_a", "doc_b", "jaccard", "vs_existing")


# --- ST15: stream-stream LEFT OUTER join (watermark-flushed nulls) --------

ST15_ORACLE = """
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS buy_id,
       c.ts AS click_ts,
       p.ts AS buy_ts
FROM events c LEFT JOIN events p
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase'
 AND c.ts <= p.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
WHERE c.event_type = 'click'
ORDER BY c.user_id, click_id, buy_id
"""


@register(
    "st15_stream_outer_join",
    ST15_ORACLE,
    doc="stream-stream LEFT OUTER interval join run AS STREAMS: inner "
    "matches emit eagerly; unmatched clicks emit null-padded only "
    "when the watermark proves no future purchase can match. The "
    "drain uses the sentinel technique (a far-future row on BOTH "
    "streams after the real data, filtered from the result) so the "
    "final watermark passes every real click and ALL outer rows "
    "flush — making the streaming result exactly the batch LEFT "
    "JOIN, which is the oracle. Without the sentinel, clicks in the "
    "last watermark-delay+bound of the stream would sit in state "
    "forever — the operational gotcha this query documents.",
)
def st15_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os

    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.joins import (
        stream_stream_interval_join,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        run_available_now,
        source_bytes,
        state_shuffle_partitions,
    )

    base = scratch_dir("st15")
    cdir, pdir, ckpt, out = (
        f"{base}/clicks",
        f"{base}/buys",
        f"{base}/ckpt",
        f"{base}/out",
    )
    events = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts_us").alias("c_us")
    ).repartition(1).write.mode("overwrite").json(cdir)
    events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("buy_id"), F.col("ts_us").alias("b_us")
    ).repartition(1).write.mode("overwrite").json(pdir)
    max_us = events.agg(F.max("ts_us")).collect()[0][0]

    cs = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("click_id", T.LongType()),
            T.StructField("c_us", T.LongType()),
        ]
    )
    bs = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("buy_id", T.LongType()),
            T.StructField("b_us", T.LongType()),
        ]
    )
    clicks = (
        spark.readStream.schema(cs)
        .json(cdir)
        .withColumn("click_ts", F.timestamp_micros("c_us"))
        .drop("c_us")
    )
    buys = (
        spark.readStream.schema(bs)
        .json(pdir)
        .withColumn("buy_ts", F.timestamp_micros("b_us"))
        .drop("b_us")
    )
    joined = stream_stream_interval_join(
        clicks,
        buys,
        on=["user_id"],
        left_ts="click_ts",
        right_ts="buy_ts",
        watermark_delay="2 hours",
        within_seconds=1800,
        how="leftOuter",
    )
    os.makedirs(out, exist_ok=True)
    sink = lambda df, _bid: df.write.mode("append").parquet(out)  # noqa: E731
    sp = state_shuffle_partitions(spark, source_bytes(cdir) + source_bytes(pdir))
    run_available_now(joined, ckpt, sink, state_partitions=sp)
    # Sentinel round: one far-future row on each stream (user_id=-1,
    # +10 days) advances BOTH watermarks past every real click's
    # no-match horizon; the flushed outer rows land in this run.
    day_us = 86_400_000_000
    with open(f"{cdir}/zz_sentinel.json", "w") as f:
        f.write(json.dumps({"user_id": -1, "click_id": -1, "c_us": max_us + 10 * day_us}))
    with open(f"{pdir}/zz_sentinel.json", "w") as f:
        f.write(json.dumps({"user_id": -1, "buy_id": -1, "b_us": max_us + 10 * day_us}))
    run_available_now(joined, ckpt, sink, state_partitions=sp)
    # drop exactly the sentinel (null-safe: a NULL-user click is real
    # data — it flushes null-padded here AND survives the oracle's
    # LEFT JOIN, so it must be kept)
    return (
        spark.read.parquet(out)
        .filter(~F.col("user_id").eqNullSafe(F.lit(-1)))
        .select("user_id", "click_id", "buy_id", "click_ts", "buy_ts")
    )


# --- S9: XML format interop (Spark 4 native) ------------------------------

S9_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / CAST(100.0 AS DOUBLE) AS total_price,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM orders GROUP BY 1
"""


@register(
    "s9_xml_roundtrip",
    S9_ORACLE,
    doc="XML interop via Spark 4's NATIVE xml source (the spark-xml "
    "package folded into core — zero extra jars): orders -> row-tagged "
    "XML -> schema-pinned XML scan -> per-priority agg; the oracle "
    "runs on the ORIGINAL parquet, so a hash match proves the text "
    "roundtrip is lossless incl. doubles (Java's shortest-roundtrip "
    "Double.toString parses back bit-identical). The read pins an "
    "explicit schema: XML carries no types, and letting inference "
    "guess would make the plan data-dependent.",
)
def s9_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("s9")
    cols = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    )
    table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.format("xml").option("rowTag", "order").mode("overwrite").save(out)
    back = spark.read.format("xml").schema(cols).option("rowTag", "order").load(out)
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(cents).cast("double") / F.lit(100.0)).alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


# --- ST18: hopping-window streaming aggregate (Append + watermark) ---------

ST18_ORACLE = """
WITH starts AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type FROM events
)
SELECT window_start,
       window_start + INTERVAL 2 HOUR AS window_end,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events
FROM starts
GROUP BY 1, 2, 3
ORDER BY 1, 3
"""


@register(
    "st18_hopping_window",
    ST18_ORACLE,
    doc="hopping-window (size 2h, slide 1h) event counts run AS A "
    "STREAM in Append mode: each event lands in exactly size/slide=2 "
    "overlapping windows (window() expands natively — no self-union), "
    "and a window row is emitted ONCE, only when the 1h watermark "
    "proves it complete — the production shape for overlapping-window "
    "dashboards where downstream must never see a partial window "
    "revised. State is bounded by watermark horizon x live windows, "
    "not stream length. Input files are time-range bucketed in mtime "
    "order so the advancing watermark never drops a real event, and "
    "the trailing windows flush via the far-future-sentinel technique "
    "(st15); the oracle is the batch expansion (each ts contributes "
    "its two window starts) — exact because counts are BIGINT.",
)
def st18_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os

    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        run_available_now,
        source_bytes,
        state_shuffle_partitions,
    )

    base = scratch_dir("st18")
    src, ckpt, out = f"{base}/in", f"{base}/ckpt", f"{base}/out"
    events = table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    # 3 time-range buckets in mtime order: the watermark (1h behind
    # each batch's max ts) always trails the NEXT batch's minimum, so
    # no real event is late-dropped.
    c1, c2 = events.select(
        F.percentile("ts_us", F.lit(1.0 / 3)).cast("long"),
        F.percentile("ts_us", F.lit(2.0 / 3)).cast("long"),
    ).first()
    bucket = (
        F.when(F.col("ts_us") < c1, 0).when(F.col("ts_us") < c2, 1).otherwise(2)
    )
    stage_ordered_batches(events, src, 3, bucket)
    max_us = events.agg(F.max("ts_us")).collect()[0][0]

    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("ts_us", T.LongType()),
        ]
    )
    stream = (
        stream_json_source(spark, src, schema)
        .withColumn("ts", F.timestamp_micros("ts_us"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )
    os.makedirs(out, exist_ok=True)
    sink = lambda df, _bid: df.write.mode("append").parquet(out)  # noqa: E731
    sp = state_shuffle_partitions(spark, source_bytes(src))
    run_available_now(stream, ckpt, sink, state_partitions=sp)
    # Sentinel: one far-future event advances the watermark past every
    # real window's end so Append mode flushes the trailing windows;
    # its own (still-open) windows are dropped by event_type below.
    day_us = 86_400_000_000
    with open(f"{src}/zz_sentinel.json", "w") as f:
        f.write(
            json.dumps({"event_type": "__sentinel__", "ts_us": max_us + 10 * day_us})
        )
    run_available_now(stream, ckpt, sink, state_partitions=sp)
    return (
        spark.read.parquet(out)
        .filter(F.col("event_type") != F.lit("__sentinel__"))
        .select("window_start", "window_end", "event_type", "n_events")
    )


# --- ST19: late-data accounting under a real watermark ---------------------

# A deterministic subset of events (event_id % 23 == 0) is withheld and
# arrives AFTER all on-time data, which itself lands in two time-ordered
# batches. Spark's late filter uses the PREVIOUS trigger's watermark
# (probed: batch N's input is filtered at wm(N-1), eviction at wm(N)),
# so when the delayed batch runs, windows emitted by the first on-time
# batch's watermark w1 = max(first-half ts) - 1h are closed: a late row
# is dropped iff its window_end <= w1, and accepted otherwise. This
# query makes that accounting visible per window by diffing the
# streamed counts against the batch counts of ALL events; the oracle
# reproduces the drop rule analytically in BIGINT microseconds.
ST19_ORACLE = """
WITH d AS (
  SELECT ts, epoch_us(ts) AS us, (event_id % 23 = 0) AS delayed FROM events
), b AS (
  SELECT (min(us) + max(us)) // 2 AS c1 FROM d WHERE NOT delayed
), w1 AS (
  SELECT max(us) - 3600000000 AS w
  FROM d, b WHERE NOT delayed AND us < b.c1
), acc AS (
  SELECT date_trunc('hour', ts) AS window_start,
         CAST(count(*) FILTER (WHERE NOT delayed
             OR epoch_us(date_trunc('hour', ts)) + 3600000000
                > (SELECT w FROM w1)) AS BIGINT) AS n_accepted,
         CAST(count(*) AS BIGINT) AS n_all
  FROM d GROUP BY 1
)
SELECT window_start,
       window_start + INTERVAL 1 HOUR AS window_end,
       n_accepted,
       n_all - n_accepted AS n_dropped_late
FROM acc WHERE n_accepted > 0 ORDER BY 1
"""


@register(
    "st19_late_data_accounting",
    ST19_ORACLE,
    doc="late-data accounting, run as a real watermark stream: a "
    "deterministic event subset (event_id % 23 == 0) arrives after "
    "two time-ordered on-time batches; by then the windows closed by "
    "the first batch's watermark w1 = max(first-half ts) - 1h are "
    "emitted-and-evicted, so Spark silently drops a late row iff its "
    "window_end <= w1 (the late filter uses the PREVIOUS trigger's "
    "watermark — probed, not assumed) and accepts the rest. Streamed "
    "Append counts diffed against batch counts of all events surface "
    "(n_accepted, n_dropped_late) per window; the oracle reproduces "
    "the drop rule analytically in BIGINT microseconds. Sentinel "
    "flush as in st15",
)
def st19_late_data_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os

    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        run_available_now,
        source_bytes,
        state_shuffle_partitions,
    )

    base = scratch_dir("st19")
    src, ckpt, out = f"{base}/in", f"{base}/ckpt", f"{base}/out"
    events = table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    delayed = F.col("event_id") % 23 == 0
    lo, hi, gmax = events.select(
        F.min(F.when(~delayed, F.col("ts_us"))),
        F.max(F.when(~delayed, F.col("ts_us"))),
        F.max("ts_us"),
    ).collect()[0]
    c1 = (lo + hi) // 2
    # b0/b1 = on-time halves in mtime order (watermark never drops an
    # on-time row); b2 = the withheld subset, arriving last
    assign = (
        F.when(delayed, 2).when(F.col("ts_us") < c1, 0).otherwise(1)
    )
    stage_ordered_batches(events, src, 3, assign)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
        ]
    )
    stream = (
        stream_json_source(spark, src, schema)
        .withColumn("ts", F.timestamp_micros("ts_us"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_accepted"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_accepted",
        )
    )
    os.makedirs(out, exist_ok=True)
    sink = lambda df, _bid: df.write.mode("append").parquet(out)  # noqa: E731
    sp = state_shuffle_partitions(spark, source_bytes(src))
    run_available_now(stream, ckpt, sink, state_partitions=sp)
    # sentinel cutoffs derive from the GLOBAL max ts (delayed events
    # can sit past the on-time max; a cutoff at the on-time max would
    # wrongly drop their accepted windows and diverge from the oracle)
    day_us = 86_400_000_000
    with open(f"{src}/zz_sentinel.json", "w") as f:
        f.write(json.dumps({"event_id": -1, "ts_us": gmax + 10 * day_us}))
    run_available_now(stream, ckpt, sink, state_partitions=sp)

    accepted = spark.read.parquet(out).filter(
        F.col("window_start") < F.timestamp_micros(F.lit(gmax + day_us))
    )
    full = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    )
    return accepted.join(full, "window_start").select(
        "window_start",
        "window_end",
        "n_accepted",
        (F.col("n_all") - F.col("n_accepted")).alias("n_dropped_late"),
    )


# --- ST20: streaming ANN index maintenance (searchable LSH dim table) ------

# Identical result contract to e3: same vectors, same md5-derived
# planes, same tie-break — so e3's oracle applies verbatim. What ST20
# adds is WHERE the search runs: against a PERSISTENT index table
# maintained by a stream, not a batch derivation.
from group_2_shopware_enterprise_data_engineering_project_spark.queries.embeddings_sim import (  # noqa: E402
    E3_ORACLE as ST20_ORACLE,
    N_QUERIES as _ST20_Q,
    TOP_K as _ST20_K,
)


@register(
    "st20_stream_ann_index",
    ST20_ORACLE,
    doc="streaming ANN index maintenance: embeddings arrive in 3 "
    "micro-batches and replace-merge into a persistent (vec_id, "
    "bucket, embedding) LSH index table under the manifest txn — new "
    "vectors are searchable as soon as their batch commits, the "
    "index-freshness property batch derivations can't give. The "
    "search then runs AGAINST THE STORED INDEX (bucket equi-join, "
    "stored buckets — not recomputed), and its top-5 equals the batch "
    "LSH derivation bit-for-bit, so e3's oracle applies verbatim. "
    "Batches move through parquet staging (bit-exact floats, no text "
    "roundtrip)",
)
def st20_stream_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
        similarity,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        replacing_dim_sink,
    )

    base = scratch_dir("st20")
    src, ckpt = f"{base}/in", f"{base}/ckpt"
    os.makedirs(src)
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    for b in range(3):
        stage = f"{base}/stage_{b}"
        emb.filter(F.col("vec_id") % 3 == b).repartition(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = next(
            (n for n in os.listdir(stage) if n.endswith(".parquet")), None
        )
        if part is None:
            continue
        dest = os.path.join(src, f"b{b}.parquet")
        shutil.move(os.path.join(stage, part), dest)
        t = os.path.getmtime(dest)
        os.utime(dest, (t + 10 * b, t + 10 * b))

    planes = similarity.hyperplane_signs(similarity.NUM_PLANES)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn(
            "bucket",
            similarity.lsh_bucket(
                similarity._as_double(F.col("embedding")), planes
            ),
        )
    )
    index = ParquetUpsertTable(spark, f"{base}/ann_index")
    replacing_dim_sink(stream, index, ("vec_id",), "vec_id", ckpt)

    # search the STORED index: stored buckets, stored vectors
    stored = index.read().select(
        "vec_id",
        similarity._as_double(F.col("embedding")).alias("v"),
        "bucket",
    )
    queries = F.broadcast(
        stored.filter(F.col("vec_id") < _ST20_Q).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("bucket").alias("qbucket"),
        )
    )
    cands = (
        queries.join(stored, F.col("qbucket") == F.col("bucket"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                similarity.dot(F.col("qv"), F.col("v"))
                / (
                    similarity.l2_norm(F.col("qv"))
                    * similarity.l2_norm(F.col("v"))
                )
            ).alias("cos_sim"),
        )
    )
    return similarity._topk_per_query(cands, _ST20_K).select(
        "query_id", "neighbor_id", "cos_sim", "rank"
    )


# --- S10: binaryFile scan (the media-blob ingestion source) ----------------

S10_ORACLE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents ORDER BY doc_id
"""


@register(
    "s10_binaryfile_scan",
    S10_ORACLE,
    doc="binaryFile source scan — the ingestion path for opaque media "
    "blobs (images/audio) that the mm-family operators consume: each "
    "doc's utf-8 bytes land as one .bin file, Spark's binaryFile "
    "source reads (path, length, content), and the oracle proves the "
    "byte-level roundtrip (octet length + md5 over the raw bytes, "
    "not characters). The fixture writes file-per-row only because "
    "the harness must CREATE the blobs — and stages them EXECUTOR-"
    "side via foreachPartition (r8 verdict item 3: no registered "
    "query path materializes a full table on the driver; at scale "
    "each task writes its partition's blobs straight to shared object "
    "storage). The read side is purely the scan — partition "
    "parallelism comes from Spark's file splitting across the listing",
)
def s10_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    base = scratch_dir("s10")
    blobs = f"{base}/blobs"
    os.makedirs(blobs)
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")

    def _stage_partition(rows) -> None:
        # runs on the executor: local[*] shares the filesystem, a real
        # cluster would point `blobs` at object storage
        for r in rows:
            with open(os.path.join(blobs, f"{r.doc_id}.bin"), "wb") as f:
                f.write(r.text.encode("utf-8"))

    docs.foreachPartition(_stage_partition)
    back = spark.read.format("binaryFile").load(blobs)
    return back.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


# --- S11: raw text-log scan + regexp parse ---------------------------------

S11_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(event_id) AS BIGINT) AS id_sum,
       CAST(max(us) AS BIGINT) AS max_us
FROM (
  SELECT event_id, event_type, epoch_us(ts) AS us FROM events
) GROUP BY 1 ORDER BY 1
"""


@register(
    "s11_logline_parse",
    S11_ORACLE,
    doc="raw log-line ingestion: events serialized as pipe-delimited "
    "text lines, read back with the plain text source and parsed by "
    "regexp_extract into typed columns — the classic ETL shape for "
    "appliance/syslog feeds that arrive as lines, not records. The "
    "per-type aggregate (count, BIGINT id sum, max epoch-us) hashes "
    "exactly against the original table, proving the "
    "serialize -> line-scan -> regexp -> cast path is lossless. "
    "Parsing is a codegen'd projection — no shuffle before the agg",
)
def s11_logline_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("s11")
    logs = f"{base}/logs"
    events = table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.unix_micros(F.col("ts")).alias("us")
    )
    events.select(
        F.concat_ws(
            "|",
            F.col("event_id").cast("string"),
            F.col("event_type"),
            F.col("us").cast("string"),
        ).alias("value")
    ).write.mode("overwrite").text(logs)
    lines = spark.read.text(logs)
    pat = r"^(\d+)\|([^|]*)\|(-?\d+)$"
    parsed = lines.select(
        F.regexp_extract("value", pat, 1).cast("long").alias("event_id"),
        F.regexp_extract("value", pat, 2).alias("event_type"),
        F.regexp_extract("value", pat, 3).cast("long").alias("us"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("event_id").cast("long").alias("id_sum"),
        F.max("us").alias("max_us"),
    )


# --- ST21: streaming distribution-drift monitor -----------------------------

# Increments commute (bin counts are additive), so the streamed counter
# table equals the one-pass batch histogram byte-for-byte and the a28
# batch oracle is exact for the streamed result — the same law st13
# relies on for the streamed count-min.
from group_2_shopware_enterprise_data_engineering_project_spark.queries.batch_analytics import (  # noqa: E402
    A28_ORACLE as _ST21_ORACLE,
    _A28_BINS,
    _A28_HI,
    _A28_LO,
)


@register(
    "st21_stream_drift",
    _ST21_ORACLE,
    doc="streaming drift monitor: per micro-batch, fixed-domain "
    "(period, bin) histogram increments additively MERGE into a "
    "persistent counter table under the exactly-once manifest txn; "
    "the drift report (expected-under-baseline + per-bin chi-square) "
    "is computed from the final counters. Bin counts commute, so the "
    "streamed table equals the batch histogram exactly — a28's oracle "
    "verifies the full streaming path",
)
def st21_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
        stats as _stats,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        ParquetUpsertTable,
    )

    base = scratch_dir("st21")
    src_dir, cnt_path, ckpt = f"{base}/in", f"{base}/counters", f"{base}/ckpt"
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        (F.dayofmonth("ts") % 2).cast("int").alias("period"),
        "value",
    )
    ev.withColumn("bucket", (F.col("event_id") % 3).cast("int")).repartition(
        3, "bucket"
    ).drop("bucket").write.mode("overwrite").json(src_dir)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("period", T.IntegerType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    counters = ParquetUpsertTable(spark, cnt_path)

    def _batch_hist(df):
        return _stats.histogram_bins(
            df,
            "period",
            F.floor(F.col("value") * 100.0 + 0.5),
            _A28_LO,
            _A28_HI,
            _A28_BINS,
        )

    accumulating_kpi_sink(
        stream_json_source(spark, src_dir, schema, max_files_per_trigger=1),
        counters,
        ("g", "b"),
        ("c",),
        _batch_hist,
        ckpt,
    )
    return _stats.drift_from_histogram(counters.read())


# --- ST22: streaming GDPR purge feed -----------------------------------------

# Erasure requests arrive as a stream; each micro-batch anti-join-
# deletes its keys from the stored table as the NEXT atomic snapshot
# under the manifest txn, then vacuum drops pre-purge history. The
# oracle is the batch truth: the final table equals orders minus every
# purged key.
ST22_ORACLE = """
SELECT o_orderkey, o_orderstatus,
       CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_cents
FROM orders
WHERE o_orderkey % 7 <> 0
"""


@register(
    "st22_stream_purge",
    ST22_ORACLE,
    doc="streaming right-to-be-forgotten: erasure requests (keys with "
    "o_orderkey % 7 = 0) arrive over 3 micro-batches; each batch "
    "anti-join-deletes its keys as the next atomic snapshot under the "
    "exactly-once manifest txn (delete_keys — replays are no-ops AND "
    "harmless), then vacuum(keep_last=1) drops pre-purge history; "
    "in-query assert: no retained snapshot serves any purged key. "
    "Oracle = batch truth (orders minus all purged keys)",
)
def st22_stream_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        ParquetUpsertTable,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        _stream_app_id,
        run_available_now,
    )

    base = scratch_dir("st22")
    src_dir, tbl_path, ckpt = f"{base}/in", f"{base}/table", f"{base}/ckpt"
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("price_cents"),
    )
    t = ParquetUpsertTable(spark, tbl_path)
    t.create_or_overwrite(orders)

    purge_keys = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey"
    )
    purge_keys.withColumn(
        "bucket", (F.col("o_orderkey") % 3).cast("int")
    ).repartition(3, "bucket").drop("bucket").write.mode("overwrite").json(
        src_dir
    )

    schema = T.StructType([T.StructField("o_orderkey", T.LongType())])
    app_id = _stream_app_id(ckpt)

    def _batch(df, batch_id):
        t.delete_keys(df, ("o_orderkey",), txn=(app_id, batch_id))

    run_available_now(
        stream_json_source(spark, src_dir, schema, max_files_per_trigger=1),
        ckpt,
        _batch,
    )
    t.vacuum(keep_last=1)
    # compliance assert: NO retained snapshot can serve a purged key
    for v in t.versions():
        leaked = (
            t.read_version(v)
            .join(F.broadcast(purge_keys), "o_orderkey", "semi")
            .count()
        )
        if leaked:
            raise AssertionError(
                f"purged keys still readable in retained snapshot v{v}"
            )
    return t.read()


# --- ST23: streaming write-audit-publish gate ---------------------------------

# k25's write-audit-publish as a STREAM: every micro-batch must pass a
# Deequ-style constraint before it may append; failing batches land in
# a quarantine table whole (batch-atomic gate — partial batches are
# exactly what audit gates exist to prevent). Batch 1 is
# deterministically poisoned (negated values), so the gate provably
# fires; the oracle is the batch truth over the two clean batches.
ST23_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS value_cents
FROM events
WHERE event_id % 3 <> 1
GROUP BY event_type
"""


@register(
    "st23_stream_audit_gate",
    ST23_ORACLE,
    doc="streaming write-audit-publish: per micro-batch a min(value)>=0 "
    "constraint gates the append — passing batches land, failing "
    "batches quarantine WHOLE (batch-atomic; the poisoned batch 1 "
    "proves the gate fires and the in-query assert pins its full row "
    "count in quarantine); oracle = batch truth over the clean batches",
)
def st23_stream_audit_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        ParquetUpsertTable,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        run_available_now,
    )

    base = scratch_dir("st23")
    src_dir, good_path, dlq_path, ckpt = (
        f"{base}/in",
        f"{base}/good",
        f"{base}/dlq",
        f"{base}/ckpt",
    )
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        # poison batch 1: negate values so min(value) >= 0 fails
        F.when(
            F.col("event_id") % 3 == 1, -F.abs(F.col("value")) - F.lit(1.0)
        )
        .otherwise(F.col("value"))
        .alias("value"),
    )
    ev.withColumn("bucket", (F.col("event_id") % 3).cast("int")).repartition(
        3, "bucket"
    ).drop("bucket").write.mode("overwrite").json(src_dir)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    good = ParquetUpsertTable(spark, good_path)
    dlq = ParquetUpsertTable(spark, dlq_path)

    def _batch(df, batch_id):
        df = df.localCheckpoint(eager=True)  # gate + land read once
        violations = df.filter(
            F.col("value").isNull() | (F.col("value") < 0)
        ).count()
        target = good if violations == 0 else dlq
        if target.exists():
            target.append(df)
        else:
            target.create_or_overwrite(df)

    run_available_now(
        stream_json_source(spark, src_dir, schema, max_files_per_trigger=1),
        ckpt,
        _batch,
    )
    # the gate must have quarantined EXACTLY the poisoned batch
    n_poison = ev.filter(F.col("event_id") % 3 == 1).count()
    n_dlq = dlq.read().count() if dlq.exists() else 0
    if n_dlq != n_poison:
        raise AssertionError(
            f"audit gate quarantined {n_dlq} rows, expected {n_poison}"
        )
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    return good.read().groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(cents).cast("long").alias("value_cents"),
    )


# --- ST24: streaming CDC consumer (apply change feed to a stored table) ------

# k27's synthesized change feed, streamed: batch 0 = seq-1 updates,
# batch 1 = deletes + the seq-2 overriding updates, batch 2 = inserts.
# Each batch applies via ParquetUpsertTable.apply_cdc — ONE atomic
# snapshot per batch (inserts/updates/deletes land together) under the
# exactly-once manifest txn. Per-key changes arrive in seq order across
# batches, so the sequential application equals the one-shot
# compaction — k27's oracle verifies the full streaming path.
from group_2_shopware_enterprise_data_engineering_project_spark.queries.warehouse_q import (  # noqa: E402
    K27_ORACLE as _ST24_ORACLE,
)


@register(
    "st24_stream_cdc_apply",
    _ST24_ORACLE,
    doc="streaming CDC consumer: I/U/D change batches apply to a "
    "stored table via apply_cdc — one atomic snapshot per batch "
    "(mid-batch states never visible) under the exactly-once manifest "
    "txn; per-key seq order across batches makes sequential apply "
    "equal one-shot compaction, so k27's batch oracle verifies the "
    "whole streaming path",
)
def st24_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        ParquetUpsertTable,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        _stream_app_id,
        run_available_now,
    )

    base = scratch_dir("st24")
    src_dir, tbl_path, ckpt = f"{base}/in", f"{base}/table", f"{base}/ckpt"
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("price_cents"),
    )
    t = ParquetUpsertTable(spark, tbl_path)
    t.create_or_overwrite(orders)

    k, c = F.col("o_orderkey"), F.col("price_cents")
    mk = lambda df, op, key, status, cents, seq, b: df.select(  # noqa: E731
        F.lit(op).alias("op"),
        key.alias("o_orderkey"),
        status.alias("o_orderstatus"),
        cents.cast("long").alias("price_cents"),
        F.lit(seq).cast("long").alias("seq"),
        F.lit(b).cast("int").alias("bucket"),
    )
    feed = (
        mk(orders.filter(k % 5 == 1), "U", k, F.lit("U1"), c + 100, 1, 0)
        .unionByName(
            mk(orders.filter(k % 5 == 0), "D", k, F.col("o_orderstatus"), c, 1, 1)
        )
        .unionByName(
            mk(orders.filter(k % 10 == 1), "U", k, F.lit("U2"), c + 200, 2, 1)
        )
        .unionByName(
            mk(
                orders.filter(k % 5 == 2),
                "I",
                k + 1000000000,
                F.lit("NEW"),
                F.lit(555),
                1,
                2,
            )
        )
    )
    # stage as 3 time-ordered micro-batches (bucket = batch index); the
    # staged JSON keeps the bucket field, the read schema below omits it
    stage_ordered_batches(feed, src_dir, 3, F.col("bucket"))

    schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("price_cents", T.LongType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    app_id = _stream_app_id(ckpt)

    def _batch(df, batch_id):
        t.apply_cdc(df, ("o_orderkey",), "seq", txn=(app_id, batch_id))

    run_available_now(
        stream_json_source(spark, src_dir, schema, max_files_per_trigger=1),
        ckpt,
        _batch,
    )
    return t.read()


# --- ST25: checkpoint recovery across stream restarts -------------------------

ST25_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS value_cents
FROM events
GROUP BY event_type
"""


@register(
    "st25_checkpoint_recovery",
    ST25_ORACLE,
    doc="checkpoint recovery end-to-end: wave 1 (even event_ids, 2 "
    "batches) runs to completion, the query STOPS, wave 2 files land, "
    "a SECOND availableNow run resumes from the SAME checkpoint — "
    "Spark's file-source log must skip wave 1's files and the txn "
    "guard must accept wave 2's new batch ids; double-counting either "
    "wave fails the exact-cents hash. Oracle = one-pass batch truth "
    "over both waves",
)
def st25_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        ParquetUpsertTable,
    )

    base = scratch_dir("st25")
    src_dir, kpi_path, ckpt = f"{base}/in", f"{base}/kpi", f"{base}/ckpt"
    events = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    kpi = ParquetUpsertTable(spark, kpi_path)
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("long")

    def _agg(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum(cents).alias("value_cents")
        )


    # wave 1: even event_ids as 2 ordered drops; run to completion
    wave1 = events.filter(F.col("event_id") % 2 == 0)
    stage_ordered_batches(
        wave1, src_dir, 2, ((F.col("event_id") % 4) / 2).cast("int")
    )
    accumulating_kpi_sink(
        stream_json_source(spark, src_dir, schema, max_files_per_trigger=1),
        kpi,
        ("event_type",),
        ("n", "value_cents"),
        _agg,
        ckpt,
    )
    # the query is now STOPPED (availableNow drains and terminates).
    # wave 2 lands as new files; a fresh run on the SAME checkpoint
    # must process ONLY the new files and merge under NEW batch ids.
    import os
    import time as _time

    wave2 = events.filter(F.col("event_id") % 2 == 1)
    w2 = f"{src_dir}/wave2.json"
    wave2.repartition(1).write.mode("overwrite").json(f"{src_dir}/_stage_w2")
    part = next(
        f
        for f in os.listdir(f"{src_dir}/_stage_w2")
        if f.endswith(".json")
    )
    os.replace(os.path.join(f"{src_dir}/_stage_w2", part), w2)
    t = _time.time() + 60  # strictly newer mtime than wave 1's files
    os.utime(w2, (t, t))
    accumulating_kpi_sink(
        stream_json_source(spark, src_dir, schema, max_files_per_trigger=1),
        kpi,
        ("event_type",),
        ("n", "value_cents"),
        _agg,
        ckpt,
    )
    return kpi.read()


# --- S13: gzip-compressed NDJSON scan ----------------------------------------


@register(
    "s13_gzip_jsonl_roundtrip",
    S3_ORACLE,  # identical semantics to s3 — compression is transparent
    doc="S13 gzip NDJSON scan: customer -> .json.gz -> read_jsonl -> "
    "per-nation agg (s3's oracle verbatim — codec transparency IS the "
    "claim). gzip is NOT splittable: at 100 TB one .gz = one task, so "
    "the writer shards into many files (as here) or uses a splittable "
    "codec; the reader needs no special-casing either way",
)
def s13_gzip_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("s13")
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    cust.write.mode("overwrite").option("compression", "gzip").json(out)
    back = read_jsonl(spark, out, CUSTOMER_JSON_SCHEMA)
    cents = F.floor(F.col("c_acctbal") * 100.0 + 0.5).cast("long")
    return back.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (F.sum(cents).cast("double") / F.lit(100.0)).alias("total_acctbal"),
        F.min("c_custkey").alias("min_custkey"),
        F.max("c_custkey").alias("max_custkey"),
    )


# --- S14: malformed-CSV quarantine (PERMISSIVE + corrupt-record column) ------

S14_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_good,
       CAST((SELECT count(*) FROM customer WHERE c_custkey % 10 = 0)
            AS BIGINT) AS n_corrupt,
       CAST(sum(c_custkey) AS BIGINT) AS custkey_sum
FROM customer WHERE c_custkey % 10 <> 0
"""


@register(
    "s14_csv_malformed_quarantine",
    S14_ORACLE,
    doc="malformed-input quarantine at the CSV reader: every 10th line "
    "is deterministically corrupted (unparseable numeric field); "
    "PERMISSIVE mode + columnNameOfCorruptRecord routes bad lines to "
    "the corrupt column instead of failing the scan or silently "
    "dropping — counts of good/quarantined rows and the good-row "
    "checksum hash against the truth. The ingestion-robustness twin "
    "of K6's rule-level quarantine",
)
def s14_csv_malformed_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("s14")
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    # corrupt every 10th record: acctbal becomes a non-numeric token
    lines = cust.select(
        F.concat_ws(
            ",",
            F.col("c_custkey").cast("string"),
            F.col("c_nationkey").cast("string"),
            F.when(
                F.col("c_custkey") % 10 == 0, F.lit("NOT_A_NUMBER")
            ).otherwise(F.col("c_acctbal").cast("string")),
        ).alias("value")
    )
    lines.coalesce(4).write.mode("overwrite").text(out)

    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out)
    )
    back = back.localCheckpoint(eager=True)  # one scan serves both counts
    good = back.filter(F.col("_corrupt").isNull())
    n_corrupt = back.filter(F.col("_corrupt").isNotNull()).count()
    return good.agg(
        F.count(F.lit(1)).cast("long").alias("n_good"),
        F.lit(n_corrupt).cast("long").alias("n_corrupt"),
        F.sum("c_custkey").cast("long").alias("custkey_sum"),
    )


# --- ST26: streaming mixture monitor (water-fill over accumulated totals) -----

@register(
    "st26_stream_waterfill",
    None,  # placeholder; bound below to m54's oracle (same batch truth)
    doc="streaming mixture monitor: per micro-batch, per-source token "
    "counts additively MERGE into a persistent counter table under "
    "the exactly-once manifest txn, and the water-fill cap is "
    "re-solved from the ACCUMULATED totals — continuous source-"
    "balance supervision without re-scanning history (token sums "
    "commute, so the streamed totals equal the batch totals exactly "
    "and m54's oracle verifies the full streaming path end-to-end)",
)
def st26_stream_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
        prep as _prep,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.text import (
        token_count,
    )

    base = scratch_dir("st26")
    src_dir, cnt_path, ckpt = f"{base}/in", f"{base}/counters", f"{base}/ckpt"
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        token_count(F.coalesce(F.col("text"), F.lit("")))
        .cast("long")
        .alias("n_tokens"),
    )
    # three deterministic micro-batch shards (the st21 harness shape)
    docs.withColumn("bucket", (F.col("doc_id") % 3).cast("int")).repartition(
        3, "bucket"
    ).drop("bucket").write.mode("overwrite").json(src_dir)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_tokens", T.LongType()),
        ]
    )
    counters = ParquetUpsertTable(spark, cnt_path)

    def _batch_totals(df: DataFrame) -> DataFrame:
        return df.groupBy("source").agg(
            F.sum("n_tokens").cast("long").alias("total_tokens")
        )

    accumulating_kpi_sink(
        stream_json_source(spark, src_dir, schema, max_files_per_trigger=1),
        counters,
        ("source",),
        ("total_tokens",),
        _batch_totals,
        ckpt,
    )
    return _prep.waterfill_from_totals(
        counters.read().select("source", "total_tokens"), budget_pct=60
    )


def _bind_st26_oracle() -> None:
    """st26's oracle IS m54's (the streamed counter table equals the
    batch per-source totals exactly — additive commutativity), bound
    late to avoid importing ml_prep at module-import time."""
    from group_2_shopware_enterprise_data_engineering_project_spark.queries import (
        ml_prep,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.registry import (
        _REGISTRY,
    )

    _REGISTRY["st26_stream_waterfill"].oracle = ml_prep.M54_ORACLE


_bind_st26_oracle()


# --- ST27: streaming purge via merge-on-read tombstones -----------------------

ST27_ORACLE = """
SELECT o_orderkey, o_orderstatus,
       CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_cents
FROM orders
WHERE o_orderkey % 7 <> 0
"""


@register(
    "st27_stream_mor_purge",
    ST27_ORACLE,
    doc="streaming right-to-be-forgotten at 100 TB write cost: the "
    "same erasure feed as st22, but each micro-batch appends KEY "
    "TOMBSTONES (k32's merge-on-read — O(batch keys) per trigger, "
    "txn-stamped replay no-op) instead of st22's full-table anti-join "
    "rewrite EVERY batch; the in-query assert proves the base "
    "snapshot version never moved during the stream, then one "
    "compact() applies all tombstones and vacuum drops pre-purge "
    "history on both tables. Oracle = batch truth (orders minus all "
    "purged keys) — identical result, table-rewrites-per-stream "
    "reduced from n_batches to 1",
)
def st27_stream_mor_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        MergeOnReadTable,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        _stream_app_id,
        run_available_now,
    )

    base = scratch_dir("st27")
    src_dir, tbl_path, ckpt = f"{base}/in", f"{base}/table", f"{base}/ckpt"
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("price_cents"),
    )
    t = MergeOnReadTable(spark, tbl_path, ("o_orderkey",))
    t.create_or_overwrite(orders)
    v0 = t.base.versions()[-1]

    purge_keys = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey"
    )
    purge_keys.withColumn(
        "bucket", (F.col("o_orderkey") % 3).cast("int")
    ).repartition(3, "bucket").drop("bucket").write.mode("overwrite").json(
        src_dir
    )

    schema = T.StructType([T.StructField("o_orderkey", T.LongType())])
    app_id = _stream_app_id(ckpt)

    def _batch(df, batch_id):
        t.delete_keys(df, txn=(app_id, batch_id))

    run_available_now(
        stream_json_source(spark, src_dir, schema, max_files_per_trigger=1),
        ckpt,
        _batch,
    )
    if t.base.versions()[-1] != v0:
        raise AssertionError(
            "MoR purge stream rewrote the base table mid-stream"
        )
    # ONE rewrite applies every accumulated tombstone, then hard-purge
    # the history on both tables (the k24/st22 compliance shape)
    t.compact()
    if t.n_tombstones() != 0:
        raise AssertionError("compact left tombstones behind")
    t.base.vacuum(keep_last=1)
    t.tombstones.vacuum(keep_last=1)
    return t.read()


# --- ST28: streaming chunk manifest with carried offsets -----------------------


@register(
    "st28_stream_chunk_manifest",
    None,  # bound to M59_ORACLE below — the stream reproduces m59 exactly
    doc="streaming concat-and-chunk: documents arrive in doc_id-range "
    "micro-batches and each batch extends the per-shard token stream "
    "from OFFSET COUNTERS accumulated by earlier batches (prep."
    "chunk_manifest's base_offsets form) — chunk placement continues "
    "instead of restarting at chunk 0, with no history re-scan. "
    "Replay-safe: the batch is recomputed from UNCHANGED counters and "
    "key-replace-merged (content-idempotent), and the counter advance "
    "is txn-stamped on the atomic snapshot path, so a replayed batch "
    "is a manifest-checked no-op. Because range-batches preserve "
    "per-shard doc_id order, the drained stream equals m59's batch "
    "manifest row-for-row — the oracle IS M59's",
)
def st28_stream_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
        prep as _prep,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.text import (
        token_count,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        _stream_app_id,
        run_available_now,
    )

    cap, shards = 1024, 8
    base = scratch_dir("st28")
    src_dir = f"{base}/in"
    man_path, off_path, ckpt = f"{base}/manifest", f"{base}/offsets", f"{base}/ckpt"

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    stage_ordered_batches(
        docs, src_dir, 3, F.floor(F.col("doc_id") * 3 / F.lit(n)).cast("long")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    manifest = ParquetUpsertTable(spark, man_path)
    offsets = ParquetUpsertTable(spark, off_path)
    app_id = _stream_app_id(ckpt)

    def _batch(bdf: DataFrame, batch_id: int) -> None:
        if batch_id <= offsets.last_txn(app_id):
            return  # replayed batch: already folded into the counters
        cur = (
            offsets.read().select("shard", "base_offset")
            if offsets.exists()
            else None
        )
        rows = _prep.chunk_manifest(
            bdf, cap=cap, shards=shards, base_offsets=cur
        )
        # content-idempotent: a replay recomputes the SAME rows from
        # the same (un-advanced) counters and replaces them in place
        manifest.upsert_replace(rows, ("doc_id", "chunk_id"))
        sums = bdf.select(
            (F.col("doc_id") % F.lit(shards)).alias("shard"),
            token_count(F.coalesce(F.col("text"), F.lit("")))
            .cast("long")
            .alias("base_offset"),
        ).groupBy("shard").agg(
            F.sum("base_offset").cast("long").alias("base_offset")
        )
        # counter advance rides the atomic manifest commit (data +
        # batch id in ONE os.replace -> exactly-once)
        offsets.upsert_additive(
            sums,
            ("shard",),
            ("base_offset",),
            txn=(app_id, batch_id),
        )

    run_available_now(
        stream_json_source(spark, src_dir, schema, max_files_per_trigger=1),
        ckpt,
        _batch,
    )
    return manifest.read().select(
        "shard", "chunk_id", "doc_id", "slice_start", "slice_len"
    )


def _bind_st28_oracle() -> None:
    """st28's oracle IS m59's: range-batches preserve per-shard doc_id
    order, so the carried-offset stream reproduces the batch manifest
    row-for-row. Bound late to avoid importing ml_prep at module
    import."""
    from group_2_shopware_enterprise_data_engineering_project_spark.queries import (
        ml_prep,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.registry import (
        _REGISTRY,
    )

    _REGISTRY["st28_stream_chunk_manifest"].oracle = ml_prep.M59_ORACLE


_bind_st28_oracle()


# --- ST29: streaming EWMA spike alerts over accumulated daily counters ---------


@register(
    "st29_stream_ewma_alerts",
    None,  # bound to A37_ORACLE below — the counter table equals the batch daily agg
    doc="streaming anomaly detection with bounded state: micro-batches "
    "additive-MERGE per-(event_type, day) revenue cents into a counter "
    "table (exactly-once — batch id rides the atomic manifest commit), "
    "and the a37 exact-integer EWMA + spike flag is computed over the "
    "ACCUMULATED counters on read — no raw-event history is ever "
    "re-scanned, state is one row per (type, day). Because integer "
    "addition commutes, the drained counter table equals the batch "
    "daily aggregate exactly, so the oracle IS a37's",
)
def st29_stream_ewma_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.queries.batch_analytics import (
        ewma_from_daily,
    )

    base = scratch_dir("st29")
    src_dir, cnt_path, ckpt = f"{base}/in", f"{base}/counters", f"{base}/ckpt"
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").cast("string").alias("day"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    # three deterministic micro-batch shards — additive merges are
    # order-free, so hash bucketing (not time ranges) is fine here
    ev.withColumn("bucket", (F.xxhash64("event_type", "day") % 3).cast("int")) \
        .repartition(3, "bucket").drop("bucket") \
        .write.mode("overwrite").json(src_dir)

    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("day", T.StringType()),
            T.StructField("cents", T.LongType()),
        ]
    )
    counters = ParquetUpsertTable(spark, cnt_path)

    def _batch_totals(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "event_type", F.to_date("day").alias("day")
        ).agg(F.sum("cents").cast("long").alias("cents"))

    accumulating_kpi_sink(
        stream_json_source(spark, src_dir, schema, max_files_per_trigger=1),
        counters,
        ("event_type", "day"),
        ("cents",),
        _batch_totals,
        ckpt,
    )
    return ewma_from_daily(
        counters.read().select("event_type", "day", "cents")
    )


def _bind_st29_oracle() -> None:
    """st29's oracle IS a37's (streamed counters == batch daily agg by
    additive commutativity); bound late to avoid a module import cycle."""
    from group_2_shopware_enterprise_data_engineering_project_spark.queries import (
        batch_analytics,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.registry import (
        _REGISTRY,
    )

    _REGISTRY["st29_stream_ewma_alerts"].oracle = batch_analytics.A37_ORACLE


_bind_st29_oracle()


# --- ST30: incrementally maintained coverage islands ---------------------------


@register(
    "st30_stream_interval_union",
    None,  # bound to J9_ORACLE below — union is associative over coverage
    doc="streaming coverage-island maintenance: each micro-batch "
    "re-unions ONLY the touched users' stored islands (weighted by "
    "the raw-interval counts they absorbed) with the batch's new "
    "intervals — untouched users' rows pass through untouched, and "
    "because interval union is associative and idempotent over "
    "coverage the drained table equals j9's one-shot union exactly, "
    "counts included. Exactly-once: the rewritten islands table and "
    "the batch id commit in ONE atomic manifest swap, so a replayed "
    "batch is a manifest-checked no-op and a crash mid-batch replays "
    "from unchanged state deterministically",
)
def st30_stream_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
        rangejoin,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        _stream_app_id,
        run_available_now,
    )

    base = scratch_dir("st30")
    src_dir, isl_path, ckpt = f"{base}/in", f"{base}/islands", f"{base}/ckpt"
    iv = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("start_us"),
        (F.unix_micros(F.col("ts")) + F.lit(300_000_000)).alias("end_us"),
    )
    # hash batches BY EVENT (not by user): a user's intervals span
    # micro-batches, so later batches genuinely re-union stored islands
    # with new intervals — the incremental path under test. Union is
    # order-free, so batch composition is otherwise free.
    iv.withColumn(
        "bucket", F.pmod(F.xxhash64("start_us", "user_id"), F.lit(3)).cast("int")
    ).repartition(3, "bucket").drop("bucket").write.mode(
        "overwrite"
    ).json(src_dir)

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("start_us", T.LongType()),
            T.StructField("end_us", T.LongType()),
        ]
    )
    islands = ParquetUpsertTable(spark, isl_path)
    app_id = _stream_app_id(ckpt)

    def _batch(bdf: DataFrame, batch_id: int) -> None:
        if islands.exists() and batch_id <= islands.last_txn(app_id):
            return
        new_iv = bdf.withColumn("n", F.lit(1).cast("long"))
        if islands.exists():
            cur = islands.read()
            users = bdf.select("user_id").distinct()
            touched = cur.join(F.broadcast(users), "user_id").select(
                "user_id",
                F.col("island_start_us").alias("start_us"),
                F.col("island_end_us").alias("end_us"),
                F.col("n_intervals").alias("n"),
            )
            untouched = cur.join(F.broadcast(users), "user_id", "left_anti")
            cand = touched.unionByName(new_iv)
        else:
            untouched = None
            cand = new_iv
        merged = rangejoin.interval_union(
            cand, "user_id", "start_us", "end_us", count_col="n"
        )
        out = (
            merged
            if untouched is None
            else untouched.unionByName(merged)
        )
        # data + batch id in one atomic manifest swap (exactly-once)
        islands.create_or_overwrite(out, txn=(app_id, batch_id))

    run_available_now(
        stream_json_source(spark, src_dir, schema, max_files_per_trigger=1),
        ckpt,
        _batch,
    )
    return islands.read().select(
        "user_id", "island_id", "island_start_us", "island_end_us", "n_intervals"
    )


def _bind_st30_oracle() -> None:
    """st30's oracle IS j9's (associativity of interval union); bound
    late to avoid importing search_stats at module import."""
    from group_2_shopware_enterprise_data_engineering_project_spark.queries import (
        search_stats,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.registry import (
        _REGISTRY,
    )

    _REGISTRY["st30_stream_interval_union"].oracle = search_stats.J9_ORACLE


_bind_st30_oracle()


# --- ST31: streaming doc-level budget selection ---------------------------------


@register(
    "st31_stream_budget_select",
    None,  # bound to M60_ORACLE below — the drained stream equals m60 exactly
    doc="streaming doc-level budget selection: documents arrive in "
    "doc_id-range micro-batches; each batch extends every source's "
    "running token total from PER-SOURCE OFFSET COUNTERS accumulated "
    "by earlier batches (the m60/chunk_manifest carried-offset idiom "
    "— cum_tokens is prefix-stable, so it can be streamed even though "
    "the waterline can't) and appends the audited rows to a doc "
    "ledger. The keep verdict is decided at READ time: the waterfill "
    "cap is re-solved from the ACCUMULATED totals (st26's solve) and "
    "joined against the ledger — one broadcast join, no history "
    "re-scan, and verdicts always reflect the budget over everything "
    "seen so far. Replay-safe: a replayed batch recomputes the SAME "
    "rows from un-advanced counters and key-replace-merges them "
    "(content-idempotent); the counter advance is txn-stamped on the "
    "atomic snapshot commit. Range-batches preserve per-source id "
    "order, so the drained stream equals m60's batch output "
    "row-for-row — the oracle IS m60's",
)
def st31_stream_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
        prep as _prep,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.text import (
        token_count,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        _stream_app_id,
        run_available_now,
    )

    base = scratch_dir("st31")
    src_dir = f"{base}/in"
    led_path, off_path, ckpt = f"{base}/ledger", f"{base}/offsets", f"{base}/ckpt"

    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    n = docs.count()
    stage_ordered_batches(
        docs, src_dir, 3, F.floor(F.col("doc_id") * 3 / F.lit(n)).cast("long")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    ledger = ParquetUpsertTable(spark, led_path)
    offsets = ParquetUpsertTable(spark, off_path)
    app_id = _stream_app_id(ckpt)

    def _batch(bdf: DataFrame, batch_id: int) -> None:
        if batch_id <= offsets.last_txn(app_id):
            return  # replayed batch: already folded into the counters
        d = bdf.select(
            "doc_id",
            "source",
            token_count(F.coalesce(F.col("text"), F.lit("")))
            .cast("long")
            .alias("n_tokens"),
        )
        w = (
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        d = d.withColumn("_in_batch", F.sum("n_tokens").over(w).cast("long"))
        if offsets.exists():
            cur = offsets.read().select(
                "source", F.col("total_tokens").alias("_base")
            )
            d = d.join(F.broadcast(cur), "source", "left")
        else:
            d = d.withColumn("_base", F.lit(None).cast("long"))
        rows = d.select(
            "doc_id",
            "source",
            "n_tokens",
            (F.col("_in_batch") + F.coalesce(F.col("_base"), F.lit(0)))
            .cast("long")
            .alias("cum_tokens"),
        )
        # content-idempotent: a replay recomputes the SAME rows from
        # the same (un-advanced) counters and replaces them in place
        ledger.upsert_replace(rows, ("doc_id",))
        sums = d.groupBy("source").agg(
            F.sum("n_tokens").cast("long").alias("total_tokens")
        )
        offsets.upsert_additive(
            sums,
            ("source",),
            ("total_tokens",),
            txn=(app_id, batch_id),
        )

    run_available_now(
        stream_json_source(spark, src_dir, schema, max_files_per_trigger=1),
        ckpt,
        _batch,
    )
    caps = _prep.waterfill_from_totals(
        offsets.read().select("source", "total_tokens"), budget_pct=60
    ).select("source", "cap_tokens")
    # Mirror budget_select's unfunded-source rule: a null cap (source
    # absent from the solve) keeps nothing, even zero-token docs.
    return ledger.read().join(F.broadcast(caps), "source", "left").select(
        "doc_id",
        "source",
        "n_tokens",
        "cum_tokens",
        F.when(F.col("cap_tokens").isNull(), F.lit(0))
        .otherwise((F.col("cum_tokens") <= F.col("cap_tokens")).cast("int"))
        .cast("int")
        .alias("keep_flag"),
    )


def _bind_st31_oracle() -> None:
    """st31's oracle IS m60's: carried per-source offsets over
    id-range batches reproduce the batch cum_tokens exactly, and the
    read-time waterline over accumulated totals equals the batch
    solve (token sums commute). Bound late to avoid importing ml_prep
    at module import time."""
    from group_2_shopware_enterprise_data_engineering_project_spark.queries import (
        ml_prep,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.registry import (
        _REGISTRY,
    )

    _REGISTRY["st31_stream_budget_select"].oracle = ml_prep.M60_ORACLE


_bind_st31_oracle()
