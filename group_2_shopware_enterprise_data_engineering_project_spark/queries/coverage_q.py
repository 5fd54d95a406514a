"""Direct oracle queries for operators previously verified by pytest
only: P2 extra-column split, K9 catalog partition registration, K10
archive lifecycle, ST2 cross-batch stateful dedup, S5 record decode.

Each query routes real testdata through the actual operator (not a
re-implementation) and returns a DataFrame whose oracle is plain SQL
over the source table — so the operator's effect is inside the checked
surface, same pattern as the roundtrip queries in
streaming_pipelines.py.
"""

from __future__ import annotations

import os
import shutil
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from group_2_shopware_enterprise_data_engineering_project_spark.operators.transform import (
    enforce_schema,
    extra_columns,
)
from group_2_shopware_enterprise_data_engineering_project_spark.pipelines.lifecycle import (
    archive_processed,
)
from group_2_shopware_enterprise_data_engineering_project_spark.operators.hints import (
    broadcast_if_small,
)
from group_2_shopware_enterprise_data_engineering_project_spark.registry import register, scratch_dir
from group_2_shopware_enterprise_data_engineering_project_spark.sinks import (
    register_partitions,
    write_hour_partitioned,
)
from group_2_shopware_enterprise_data_engineering_project_spark.sources import table
from group_2_shopware_enterprise_data_engineering_project_spark.sources.readers import (
    decode_json_records,
)
from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
    run_available_now,
    source_bytes,
    stage_ordered_batches,
    state_shuffle_partitions,
    stream_json_source,
)
from group_2_shopware_enterprise_data_engineering_project_spark.streaming.stateful import (
    streaming_exact_dedup,
)


# --- P2: extra-column detection + split -----------------------------------

P2_DECLARED = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

P2_ORACLE = """
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       'noise_a,noise_b' AS dropped_cols
FROM documents
"""


@register(
    "p2_extra_column_split",
    P2_ORACLE,
    doc="P2 extra-column split (reference api.py:125-135): a frame with "
    "two undeclared columns -> extra_columns() detects them, "
    "enforce_schema() projects them away; the dropped names ride along "
    "as a comma-joined literal column for the oracle to pin (a scalar, "
    "not an array — the driver's pandas hash-compare can't sort arrays)",
)
def p2_extra_column_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    wide = docs.select(
        "doc_id",
        "n_chars",
        F.lit("x").alias("noise_a"),
        (F.col("doc_id") * 2).alias("noise_b"),
    )
    dropped = sorted(extra_columns(wide, P2_DECLARED))
    projected = enforce_schema(wide, P2_DECLARED)
    return projected.withColumn("dropped_cols", F.lit(",".join(dropped)))


# --- K9: catalog partition registration (MSCK) ----------------------------

K9_ORACLE = """
SELECT strftime(ts, '%Y') AS year, strftime(ts, '%m') AS month,
       strftime(ts, '%d') AS day, strftime(ts, '%H') AS hour,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY 1, 2, 3, 4
"""


@register(
    "k9_partition_registration",
    K9_ORACLE,
    doc="K9 partition registration (reference s3toathena.py:67-76): K1 "
    "layout -> external partitioned table -> MSCK REPAIR -> read via the "
    "CATALOG (not the path), proving the partitions were registered",
)
def k9_partition_registration(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    base = scratch_dir("k9")
    events = table(spark, sf_dir, "events")
    write_hour_partitioned(events, "ts", f"{base}/tbl")
    # per-run table name + drop-after-checkpoint: a FIXED catalog name
    # here was the same concurrent-harness hazard the k18 fix (bf3abb4)
    # removed — two runs would DROP/CREATE over each other and point
    # the shared name at the other run's tmp LOCATION mid-query (and
    # the old version leaked one catalog entry per run).
    tname = f"k9_events_{uuid.uuid4().hex[:8]}"
    spark.sql(
        f"CREATE TABLE {tname} "
        "(event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING) "
        "USING PARQUET "
        "PARTITIONED BY (year STRING, month STRING, day STRING, hour STRING) "
        f"LOCATION '{base}/tbl'"
    )
    try:
        # freshly created external table knows NO partitions until MSCK
        register_partitions(spark, tname)
        out = (
            spark.table(tname)
            .groupBy("year", "month", "day", "hour")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        # materialize before the catalog entry goes away
        return out.localCheckpoint(eager=True)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tname}")


# --- K10: archive lifecycle ------------------------------------------------

K10_ORDERS_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ]
)

K10_ORACLE = """
SELECT CASE WHEN o_orderkey % 2 = 0 THEN '2023-11-14' ELSE '2023-11-15' END
           AS date,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(o_orderkey) AS BIGINT) AS min_key
FROM orders GROUP BY 1
"""


@register(
    "k10_archive_lifecycle",
    K10_ORACLE,
    doc="K10 archive lifecycle (reference transfom_pos.py:56-110): two "
    "pos_YYYYMMDD_* csv landing files -> archive_processed moves them to "
    "archive/date=YYYY-MM-DD/ and clears the landing zone; result reads "
    "the ARCHIVED layout back with its hive date partition",
)
def k10_archive_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("k10")
    landing, archive = f"{base}/landing", f"{base}/archive"
    os.makedirs(landing)
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    for fname, parity in (("pos_20231114_000000.csv", 0), ("pos_20231115_000000.csv", 1)):
        part_dir = f"{base}/stage_{parity}"
        (
            orders.filter(F.col("o_orderkey") % 2 == parity)
            .repartition(1)
            .write.mode("overwrite")
            .option("header", "true")
            .csv(part_dir)
        )
        part = next(n for n in os.listdir(part_dir) if n.endswith(".csv"))
        shutil.move(os.path.join(part_dir, part), os.path.join(landing, fname))

    res = archive_processed(landing, archive, suffix=".csv")
    assert sorted(res.archived) == [
        "pos_20231114_000000.csv",
        "pos_20231115_000000.csv",
    ] and not os.listdir(landing), "archive must move every landing file"

    back = (
        spark.read.schema(K10_ORDERS_SCHEMA)
        .option("header", "true")
        .option("basePath", archive)
        .csv(f"{archive}/date=*")
    )
    return back.groupBy(F.col("date").cast("string").alias("date")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderkey").alias("min_key"),
    )


# --- ST2: cross-batch stateful dedup --------------------------------------

ST2_ORACLE = """
SELECT CAST(event_id % 50 AS BIGINT) AS key,
       CAST(min(event_id % 3) AS BIGINT) AS batch
FROM events GROUP BY 1
"""


@register(
    "st2_stateful_dedup",
    ST2_ORACLE,
    doc="ST2 cross-batch exact dedup (applyInPandasWithState): 3 ordered "
    "micro-batches with overlapping keys -> each key admitted exactly "
    "once, in its FIRST batch; per-(key, batch) payload makes the "
    "admitted row deterministic",
)
def st2_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("st2")
    src, ckpt, out = f"{base}/in", f"{base}/ckpt", f"{base}/out"
    os.makedirs(src)
    events = table(spark, sf_dir, "events").select(
        (F.col("event_id") % 50).alias("key"),
        (F.col("event_id") % 3).alias("batch"),
    )
    # one file per batch, mtimes strictly increasing so the file source
    # processes them in batch order (FileStreamSource orders by mtime)
    stage_ordered_batches(events, src, 3, F.col("batch"))

    schema = T.StructType(
        [T.StructField("key", T.LongType()), T.StructField("batch", T.LongType())]
    )
    deduped = streaming_exact_dedup(
        stream_json_source(spark, src, schema, max_files_per_trigger=1),
        "key",
        schema,
    )
    run_available_now(
        deduped,
        ckpt,
        lambda df, _bid: df.write.mode("append").parquet(out),
        state_partitions=state_shuffle_partitions(spark, source_bytes(src)),
    )
    return spark.read.parquet(out)


# --- S5: record decode (base64 -> json -> columns) ------------------------

S5_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField("lang", T.StringType()),
    ]
)

S5_ORACLE = """
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, lang
FROM documents
"""


@register(
    "s5_record_decode",
    S5_ORACLE,
    doc="S5 record decode (reference transformation.py:55-58): rows "
    "serialized to base64(json) payloads, decoded back to typed columns "
    "via unbase64 -> from_json -> star-expand (single native projection)",
)
def s5_record_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    payloads = docs.select(
        F.base64(
            F.encode(F.to_json(F.struct("doc_id", "n_chars", "lang")), "utf-8")
        ).alias("payload")
    )
    return decode_json_records(payloads, "payload", S5_SCHEMA)


# --- K12 (beyond-reference): small-file compaction -------------------------

K12_ORACLE = """
SELECT strftime(ts, '%Y') AS year, strftime(ts, '%m') AS month,
       strftime(ts, '%d') AS day, strftime(ts, '%H') AS hour,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS value_cents
FROM events WHERE ts < (SELECT min(ts) FROM events) + INTERVAL 3 DAY
GROUP BY 1, 2, 3, 4
"""


@register(
    "k12_compaction",
    K12_ORACLE,
    doc="K12 small-file compaction: an hour-partitioned landing written "
    "as many small files per leaf (the micro-batch pathology) is "
    "compacted to one target-sized file per leaf via metadata-planned "
    "per-leaf rewrites with an atomic rename swap; physical claims "
    "(fewer files, every leaf touched) asserted in-query, content "
    "preservation proven by the per-hour oracle over the source",
)
def k12_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.sinks import (
        compact_parquet_dir,
        read_hour_partitioned,
    )

    base = scratch_dir("k12")
    path = f"{base}/events_hourly"
    events = table(spark, sf_dir, "events")
    # first 3 days only: enough leaves (72) to exercise concurrent
    # per-leaf rewrites without making the correctness run minutes-long
    lo = events.agg(F.min("ts")).first()[0]
    events = events.filter(
        F.col("ts") < F.lit(lo) + F.expr("INTERVAL 3 DAYS")
    )
    # the pathology: 6 writer tasks x every hour partition -> 6 small
    # files per leaf (compact=False skips the pre-write repartition)
    write_hour_partitioned(
        events.repartition(6), "ts", path, mode="overwrite", compact=False
    )
    stats = compact_parquet_dir(spark, path, target_file_bytes=1 << 30)
    # sf-independent physical contract: progress happened and the file
    # count strictly dropped (at tiny SFs some sparse hour-leaves land
    # with a single file and are correctly SKIPPED, so no equality
    # claims on skipped counts here — test_partitioning.py pins the
    # exact per-leaf arithmetic on a controlled layout)
    assert stats.leaves_touched > 0, stats
    assert stats.files_after < stats.files_before, stats

    back = read_hour_partitioned(spark, path)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return back.groupBy("year", "month", "day", "hour").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents).alias("value_cents"),
    )


# --- ST16: custom stateful running aggregate (distinct set in state) ------

ST16_ORACLE = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / CAST(100.0 AS DOUBLE) AS total_value
FROM events GROUP BY user_id
"""


@register(
    "st16_stream_custom_state",
    ST16_ORACLE,
    doc="custom stateful streaming aggregate (applyInPandasWithState): "
    "per-user running (count, exact-cents value sum, DISTINCT type "
    "count) across 3 ordered micro-batches — streaming "
    "count(distinct) is unsupported natively and "
    "approx_count_distinct changes the answer, so the distinct set "
    "rides in the state store (bounded by the TYPE domain, not the "
    "stream). Update-mode emissions replace-merge into the final "
    "table under the manifest txn; the oracle is the plain batch "
    "groupBy — bit-equality proves the streamed accumulation loses "
    "and invents nothing",
)
def st16_stream_custom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        ParquetUpsertTable,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        _stream_app_id,
        run_available_now,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.stateful import (
        running_user_stats,
    )

    base = scratch_dir("st16")
    src, ckpt = f"{base}/in", f"{base}/ckpt"
    os.makedirs(src)
    events = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value"
    )
    # 3 files with strictly increasing mtimes -> 3 ordered micro-batches
    stage_ordered_batches(events, src, 3, F.col("event_id") % 3)

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stats = running_user_stats(
        stream_json_source(spark, src, schema, max_files_per_trigger=1)
    )
    table_out = ParquetUpsertTable(spark, f"{base}/user_stats")
    app_id = _stream_app_id(ckpt)
    run_available_now(
        stats,
        ckpt,
        lambda df, bid: table_out.upsert_replace(
            df, ("user_id",), txn=(app_id, bid)
        ),
        output_mode="update",
        state_partitions=state_shuffle_partitions(spark, source_bytes(src)),
    )
    return table_out.read().select("user_id", "n_events", "n_types", "total_value")


# --- ST17: stream-static enrichment join ----------------------------------

ST17_ORACLE = """
SELECT c.c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(e.value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / CAST(100.0 AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
"""


@register(
    "st17_stream_static_join",
    ST17_ORACLE,
    doc="stream-static enrichment join: an event stream (3 ordered "
    "micro-batches) joined PER BATCH against the static customer dim "
    "— Spark re-plans the join each micro-batch; the sf-proportional "
    "dim's broadcast is size-gated (broadcast_if_small), the "
    "standard enrich-on-ingest shape (no state, no "
    "watermark: the static side is not a stream). Enriched rows land "
    "append-only; the final per-segment exact-cents rollup must "
    "equal the batch join — the oracle proves per-batch enrichment "
    "loses and invents nothing.",
)
def st17_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming.micro_batch import (
        run_available_now,
    )

    base = scratch_dir("st17")
    src, ckpt, out = f"{base}/in", f"{base}/ckpt", f"{base}/out"
    os.makedirs(src)
    os.makedirs(out, exist_ok=True)
    events = table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    stage_ordered_batches(events, src, 3, F.col("event_id") % 3)

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    dim = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream_json_source(
        spark, src, schema, max_files_per_trigger=1
    ).join(broadcast_if_small(dim), "user_id")
    run_available_now(
        enriched, ckpt, lambda df, _bid: df.write.mode("append").parquet(out)
    )
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    return (
        spark.read.parquet(out)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents).cast("double") / F.lit(100.0)).alias("total_value"),
        )
    )
