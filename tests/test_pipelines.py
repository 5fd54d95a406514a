"""End-to-end pipeline tests: inventory (JSONL->upsert), POS
(CSV->KPI+fact), WEB and CRM (stream->hour-partitioned parquet + DLQ)."""

from __future__ import annotations

import csv
import json

import pytest
from pyspark.sql import functions as F

from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
    ParquetUpsertTable,
)
from group_2_shopware_enterprise_data_engineering_project_spark.pipelines import (
    crm,
    inventory,
    pos,
    web,
)
from group_2_shopware_enterprise_data_engineering_project_spark.sinks import (
    read_hour_partitioned,
)
from group_2_shopware_enterprise_data_engineering_project_spark.streaming import alerts


def _jsonl(path, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_inventory_pipeline(spark, tmp_path):
    rows = [
        # two versions of inventory 1 -> keep latest (ts 200)
        {"inventory_id": 1, "product_id": 10, "warehouse_id": 1, "stock_level": 5,
         "restock_threshold": 2, "last_updated": 1.7e9 + 100},
        {"inventory_id": 1, "product_id": 10, "warehouse_id": 1, "stock_level": 8,
         "restock_threshold": 2, "last_updated": 1.7e9 + 200},
        {"inventory_id": 2, "product_id": 20, "warehouse_id": 1, "stock_level": 3,
         "restock_threshold": None, "last_updated": 1.7e9},
        # invalid: negative stock
        {"inventory_id": 3, "product_id": 30, "warehouse_id": 1, "stock_level": -4,
         "restock_threshold": 1, "last_updated": 1.7e9},
    ]
    _jsonl(tmp_path / "in" / "batch1.jsonl", rows)
    res = inventory.run(
        spark,
        str(tmp_path / "in"),
        str(tmp_path / "table"),
        rejected_path=str(tmp_path / "rejected"),
        now="2023-11-15 00:00:00",
    )
    assert (res.valid_rows, res.rejected_rows, res.upserted_rows) == (3, 1, 2)
    state = {r.inventory_id: r.stock_level for r in
             ParquetUpsertTable(spark, str(tmp_path / "table")).read().collect()}
    assert state == {1: 8, 2: 3}

    # second batch updates inv 2 and inserts inv 4 (K4 replace semantics)
    _jsonl(tmp_path / "in2" / "batch2.jsonl", [
        {"inventory_id": 2, "product_id": 20, "warehouse_id": 1, "stock_level": 99,
         "restock_threshold": None, "last_updated": 1.7e9 + 500},
        {"inventory_id": 4, "product_id": 40, "warehouse_id": 2, "stock_level": 7,
         "restock_threshold": 3, "last_updated": 1.7e9},
    ])
    res2 = inventory.run(
        spark, str(tmp_path / "in2"), str(tmp_path / "table"),
        now="2023-11-15 00:00:00",
    )
    state = {r.inventory_id: r.stock_level for r in
             ParquetUpsertTable(spark, str(tmp_path / "table")).read().collect()}
    assert state == {1: 8, 2: 99, 4: 7} and res2.upserted_rows == 3


POS_COLS = ["transaction_id", "store_id", "product_id", "quantity",
            "revenue", "discount_applied", "timestamp"]


def _csv(path, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(POS_COLS)
        w.writerows(rows)


def test_pos_pipeline_accumulating_kpi(spark, tmp_path):
    day = 1.7e9  # 2023-11-14
    _csv(tmp_path / "d1" / "pos_20231114_000000.csv", [
        ("t1", 1, 100, 2, 10.0, 0.0, day),
        ("t1", 1, 100, 2, 10.0, 0.0, day),       # exact dup -> dropped
        ("t2", 1, 100, 1, 5.555, 0.0, day + 60),
        ("t3", 1, 200, 1, 7.0, 0.0, day),
        ("", 1, 300, 1, 7.0, 0.0, day),          # empty txn id -> NULL in CSV read -> rejected
    ])
    res = pos.run(
        spark,
        str(tmp_path / "d1"),
        str(tmp_path / "fact"),
        str(tmp_path / "kpi"),
        rejected_path=str(tmp_path / "rej"),
    )
    assert (res.valid_rows, res.rejected_rows) == (4, 1)
    assert res.fact_rows == 3  # exact dup dropped
    kpi = {r.product_id: r.total_sales for r in ParquetUpsertTable(spark, str(tmp_path / "kpi")).read().collect()}
    assert kpi[100] == 15.56 and kpi[200] == 7.0  # round(sum, 2) per batch

    # day-2 batch for the same (product, date) accumulates additively
    _csv(tmp_path / "d2" / "pos_20231114_120000.csv", [
        ("t9", 1, 100, 1, 4.0, 0.0, day + 3600),
    ])
    pos.run(spark, str(tmp_path / "d2"), str(tmp_path / "fact"), str(tmp_path / "kpi"))
    kpi = {r.product_id: r.total_sales for r in ParquetUpsertTable(spark, str(tmp_path / "kpi")).read().collect()}
    # 15.56 + 4.0 (K5 accumulate, reference transfom_pos.py:140-152);
    # approx: the accumulator is a float sum like the reference's Delta col
    assert kpi[100] == pytest.approx(19.56)


def _inv_rows(stock_level):
    return [{"inventory_id": k, "product_id": k, "warehouse_id": 1,
             "stock_level": stock_level, "restock_threshold": None,
             "last_updated": 1.7e9 + k} for k in range(5)]


def _pos_rows(transaction_id):
    # an empty transaction id reads as NULL -> rejected
    return [(transaction_id and f"{transaction_id}{k}", 1, k, 1, 2.5, 0.0, 1.7e9 + k)
            for k in range(5)]


# Degenerate batches: every row invalid, or an empty input file. With
# no valid rows the POS fact write's dedup shuffle is empty, AQE prunes
# the stage that observed the split, and the observation completes with
# an empty row; the counts must still be the ones count() gave, and the
# run must complete on the bootstrap path (which first commits an empty
# partitioned snapshot) and on the append path. Each table's count()
# is taken with read().count() after the run.


@pytest.mark.parametrize("path", ["bootstrap", "append"])
@pytest.mark.parametrize("batch", ["all_invalid", "empty_file"])
def test_inventory_degenerate_batch(spark, tmp_path, batch, path):
    table = str(tmp_path / "table")
    now = "2023-11-15 00:00:00"
    if path == "append":
        _jsonl(tmp_path / "seed" / "b.jsonl", _inv_rows(5))
        inventory.run(spark, str(tmp_path / "seed"), table, now=now)
    _jsonl(tmp_path / "in" / "b.jsonl", _inv_rows(-1) if batch == "all_invalid" else [])
    res = inventory.run(spark, str(tmp_path / "in"), table, now=now)
    stored = 5 if path == "append" else 0
    rejected = 5 if batch == "all_invalid" else 0
    assert (res.valid_rows, res.rejected_rows, res.upserted_rows) == (0, rejected, stored)
    assert ParquetUpsertTable(spark, table).read().count() == stored
    # the table stays usable: a valid batch merges into it
    _jsonl(tmp_path / "next" / "b.jsonl", _inv_rows(7))
    res = inventory.run(spark, str(tmp_path / "next"), table, now=now)
    assert (res.valid_rows, res.rejected_rows, res.upserted_rows) == (5, 0, 5)


@pytest.mark.parametrize("path", ["bootstrap", "append"])
@pytest.mark.parametrize("batch", ["all_invalid", "empty_file"])
def test_pos_degenerate_batch(spark, tmp_path, batch, path):
    fact, kpi = str(tmp_path / "fact"), str(tmp_path / "kpi")
    if path == "append":
        _csv(tmp_path / "seed" / "b.csv", _pos_rows("s"))
        pos.run(spark, str(tmp_path / "seed"), fact, kpi)
    src = tmp_path / "in" / "b.csv"
    if batch == "all_invalid":
        _csv(src, _pos_rows(""))
    else:
        src.parent.mkdir(parents=True)
        src.write_text("")
    res = pos.run(spark, str(src.parent), fact, kpi)
    stored = 5 if path == "append" else 0
    rejected = 5 if batch == "all_invalid" else 0
    assert (res.valid_rows, res.rejected_rows, res.fact_rows, res.kpi_rows) == (
        0, rejected, stored, stored)
    assert ParquetUpsertTable(spark, fact).read().count() == stored
    assert ParquetUpsertTable(spark, kpi).read().count() == stored
    _csv(tmp_path / "next" / "b.csv", _pos_rows("n"))
    res = pos.run(spark, str(tmp_path / "next"), fact, kpi)
    assert (res.valid_rows, res.rejected_rows, res.fact_rows, res.kpi_rows) == (
        5, 0, stored + 5, 5)


def test_web_stream_pipeline(spark, tmp_path):
    rows = [
        {"session_id": "s1", "user_id": "u1", "page": "/", "device_type": "m",
         "browser": "ff", "event_type": "View", "timestamp": 1.7e9},
        {"session_id": "s1", "user_id": None, "page": "/x", "device_type": "m",
         "browser": "ff", "event_type": "Click", "timestamp": 1.7e12 + 5000},  # ms epoch
        {"session_id": None, "user_id": "u2", "page": "/y", "device_type": "m",
         "browser": "ff", "event_type": "View", "timestamp": 1.7e9},  # invalid
    ]
    _jsonl(tmp_path / "in" / "events1.jsonl", rows)
    web.run_stream(
        spark, str(tmp_path / "in"), str(tmp_path / "out"),
        str(tmp_path / "dlq"), str(tmp_path / "ckpt"),
    )
    out = read_hour_partitioned(spark, str(tmp_path / "out"))
    assert out.count() == 2
    # anon id filled deterministically for the missing user
    anon = out.filter(F.col("page") == "/x").collect()[0]
    assert anon.user_id.startswith("anon")
    # hour partitioning keyed on EVENT time; both epochs = same instant family
    assert {r.year for r in out.select("year").collect()} == {"2023"}
    dlq = spark.read.parquet(str(tmp_path / "dlq"))
    assert dlq.count() == 1 and "session_id_required" in dlq.collect()[0].violations


def test_crm_stream_pipeline_and_alerts(spark, tmp_path):
    rows = [
        {"customer_id": 1, "interaction_type": " Complaint ", "timestamp": 1.7e9 + i,
         "channel": "", "rating": 1 if i < 12 else 9, "message_excerpt": "bad"}
        for i in range(15)
    ] + [
        {"customer_id": -5, "interaction_type": "x", "timestamp": 1.7e9, "channel": "c",
         "rating": 3, "message_excerpt": "m"},  # rejected: non-positive key
    ]
    _jsonl(tmp_path / "in" / "crm1.jsonl", rows)
    crm.run_stream(
        spark, str(tmp_path / "in"), str(tmp_path / "out"),
        str(tmp_path / "dlq"), str(tmp_path / "ckpt"),
        fixed_ingestion_time="2025-06-01 10:30:00",
    )
    out = read_hour_partitioned(spark, str(tmp_path / "out"))
    assert out.count() == 15
    first = out.filter(F.col("rating").isNotNull()).limit(1).collect()[0]
    assert first.interaction_type == "Complaint"  # trimmed
    assert first.channel is None  # empty -> null
    assert out.filter(F.col("rating").isNull()).count() == 3  # 9 out of 1..5 -> null
    # partitioned by INGESTION time (ST3 CRM variant)
    assert {(r.year, r.hour) for r in out.select("year", "hour").collect()} == {("2025", "10")}
    assert spark.read.parquet(str(tmp_path / "dlq")).count() == 1

    # hourly alert over the landed table: 12 negatives >= threshold 10
    fired = alerts.alerts(out).collect()
    assert len(fired) == 1 and fired[0].negative_count == 12


def test_archive_lifecycle(tmp_path):
    from group_2_shopware_enterprise_data_engineering_project_spark.pipelines import lifecycle

    src = tmp_path / "landing"
    src.mkdir()
    (src / "pos_20250718_101530.csv").write_text("a,b\n1,2\n")
    (src / "pos_20250719_000000.csv").write_text("a,b\n3,4\n")
    (src / "nodate.csv").write_text("x\n")
    (src / "ignore.txt").write_text("x\n")

    res = lifecycle.archive_processed(str(src), str(tmp_path / "archive"))
    assert res.archived == ["pos_20250718_101530.csv", "pos_20250719_000000.csv"]
    assert res.skipped == ["nodate.csv"]
    # archived under date= prefixes, sources deleted, undated left in place
    assert (tmp_path / "archive" / "date=2025-07-18" / "pos_20250718_101530.csv").exists()
    assert (tmp_path / "archive" / "date=2025-07-19" / "pos_20250719_000000.csv").exists()
    assert not (src / "pos_20250718_101530.csv").exists()
    assert (src / "nodate.csv").exists()


def test_msck_partition_registration(spark, tmp_path):
    """K9 — catalog sync for an externally-written Hive layout
    (reference s3toathena.py:67-76 per-hour ALTER TABLE loop)."""
    from group_2_shopware_enterprise_data_engineering_project_spark.sinks import (
        register_partitions,
        write_hour_partitioned,
    )

    path = str(tmp_path / "events_tbl")
    df = spark.createDataFrame(
        [("2025-01-01 10:00:00",), ("2025-01-01 11:00:00",)], ["ts"]
    ).selectExpr("CAST(ts AS timestamp) AS ts", "'x' AS v")
    write_hour_partitioned(df, "ts", path)
    spark.sql("DROP TABLE IF EXISTS k9_events")
    spark.sql(
        "CREATE TABLE k9_events (v STRING) USING parquet "
        "PARTITIONED BY (year STRING, month STRING, day STRING, hour STRING) "
        f"LOCATION '{path}'"
    )
    assert spark.table("k9_events").count() == 0  # partitions unregistered
    register_partitions(spark, "k9_events")
    assert spark.table("k9_events").count() == 2
    spark.sql("DROP TABLE k9_events")
