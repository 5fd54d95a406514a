"""Partitioning helpers: spread and the P14
partition-pruning proof on the K1 hour layout."""

from __future__ import annotations

from pyspark.sql import functions as F

from group_2_shopware_enterprise_data_engineering_project_spark.functions.partitioning import (
    spread,
)
from group_2_shopware_enterprise_data_engineering_project_spark.sinks import (
    read_hour_partitioned,
    write_hour_partitioned,
)


def test_spread_widens_only_narrow_plans(spark):
    narrow = spark.createDataFrame([(i,) for i in range(100)], ["x"]).coalesce(1)
    assert spread(narrow).rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(64)
    assert spread(wide, min_partitions=8).rdd.getNumPartitions() == 64  # no downsample


def test_p14_partition_pruning_on_hour_layout(spark, tmp_path):
    """A partition-key equality filter must prune directories at scan
    time (reference CRM_README.md:213-217 relies on this in Athena;
    Catalyst does it for the same layout)."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(f"2025-01-0{d} {h:02d}:00:00",) for d in (1, 2) for h in (9, 10)], ["ts"]
    ).selectExpr("CAST(ts AS timestamp) AS ts", "1 AS v")
    write_hour_partitioned(df, "ts", path)

    pruned = read_hour_partitioned(spark, path).filter(
        (F.col("day") == "01") & (F.col("hour") == "09")
    )
    assert pruned.count() == 1
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the filter must reach the scan as a PartitionFilters entry, and
    # the scan must report having selected a subset of partitions
    assert "PartitionFilters: [" in plan
    scan_line = next(ln for ln in plan.splitlines() if "PartitionFilters" in ln)
    assert "isnotnull" in scan_line or "=" in scan_line


def test_bucketed_join_elides_both_exchanges(spark, tmp_path):
    """Two tables bucketed on the same key with the same bucket count
    must join with NO shuffle on either side — the write-time
    co-location strategy for fact-to-fact joins too big to broadcast."""
    from pyspark.sql import functions as F

    from group_2_shopware_enterprise_data_engineering_project_spark.sinks import (
        write_bucketed_table,
    )

    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    spark.sql("DROP TABLE IF EXISTS bkt_left")
    spark.sql("DROP TABLE IF EXISTS bkt_right")
    write_bucketed_table(left, "bkt_left", ("k",), 8, sort_cols=("k",))
    write_bucketed_table(right, "bkt_right", ("k",), 8, sort_cols=("k",))

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # bucketing co-located both sides
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_compaction_rewrites_leaves_and_preserves_rows(spark, tmp_path):
    """K12 physical contract: per-leaf file counts drop to the plan's
    ceil(bytes/target), rows and content survive bit-for-bit, and
    under-threshold leaves are left untouched (their file mtimes/names
    prove no rewrite happened)."""
    import glob
    import os

    from group_2_shopware_enterprise_data_engineering_project_spark.sinks import (
        compact_parquet_dir,
    )

    path = str(tmp_path / "t")
    df = spark.range(10_000).withColumn("p", F.col("id") % 2)
    df.repartition(8).write.partitionBy("p").parquet(path)
    before = {
        p: sorted(glob.glob(os.path.join(path, p, "*.parquet")))
        for p in ("p=0", "p=1")
    }
    assert all(len(v) == 8 for v in before.values())

    stats = compact_parquet_dir(spark, path, target_file_bytes=1 << 30)
    assert stats.leaves_touched == 2 and stats.leaves_skipped == 0
    assert stats.files_before == 16 and stats.files_after == 2
    for p in ("p=0", "p=1"):
        assert len(glob.glob(os.path.join(path, p, "*.parquet"))) == 1
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.groupBy("p").count().orderBy("p").collect()[0][1] == 5_000

    # idempotent second run: nothing above threshold remains
    stats2 = compact_parquet_dir(spark, path, target_file_bytes=1 << 30)
    assert stats2.leaves_touched == 0 and stats2.leaves_skipped == 2
    assert stats2.files_after == 2


def test_compaction_respects_target_file_bytes(spark, tmp_path):
    """A leaf bigger than one target file splits into ceil(bytes/target)
    files, not one — compaction must not create oversized files."""
    import glob
    import os

    from group_2_shopware_enterprise_data_engineering_project_spark.sinks import (
        compact_parquet_dir,
    )

    path = str(tmp_path / "t2")
    spark.range(50_000).withColumn("payload", F.md5(F.col("id").cast("string"))).repartition(10).write.parquet(path)
    total = sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(path, "*.parquet"))
    )
    target = total // 3  # expect ceil(3.x) = 4 (or 3 if exact) output files
    stats = compact_parquet_dir(spark, path, target_file_bytes=target)
    n_out = len(glob.glob(os.path.join(path, "*.parquet")))
    assert stats.leaves_touched == 1
    assert 3 <= n_out <= 4, n_out
    assert spark.read.parquet(path).count() == 50_000


def test_compaction_crash_recovery(spark, tmp_path):
    """A crash between the two swap renames parks the leaf's data in
    <leaf>.compact.old; the next run must restore it, drop stale tmp
    dirs, never treat work dirs as partitions, and lose no rows."""
    import glob
    import os
    import shutil

    from group_2_shopware_enterprise_data_engineering_project_spark.sinks import (
        compact_parquet_dir,
    )

    path = str(tmp_path / "t3")
    df = spark.range(4_000).withColumn("p", F.col("id") % 2)
    df.repartition(4).write.partitionBy("p").parquet(path)

    # simulate the worst crash point: leaf renamed away, tmp not yet in
    leaf = os.path.join(path, "p=0")
    os.rename(leaf, leaf + ".compact.old")
    # plus a stale half-written tmp for the other leaf
    shutil.copytree(os.path.join(path, "p=1"), os.path.join(path, "p=1.compact.tmp"))

    stats = compact_parquet_dir(spark, path, target_file_bytes=1 << 30)
    assert not glob.glob(os.path.join(path, "*.compact.*"))
    back = spark.read.parquet(path)
    assert back.count() == 4_000  # p=0 rows restored, none duplicated
    assert stats.leaves_touched == 2  # both leaves then compacted
    assert spark.read.parquet(path).groupBy("p").count().count() == 2


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts
    must join with ZERO Exchange — the write-once pre-shuffle that
    replaces a per-query shuffle of the fact table. The same join on
    plain parquet paths is the control: it MUST contain an Exchange."""
    from group_2_shopware_enterprise_data_engineering_project_spark.sinks import (
        write_bucketed_table,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    write_bucketed_table(orders, "t_orders_b", ("o_orderkey",), 4, ("o_orderkey",))
    write_bucketed_table(lineitem, "t_lineitem_b", ("l_orderkey",), 4, ("l_orderkey",))
    try:
        bo, bl = spark.table("t_orders_b"), spark.table("t_lineitem_b")
        j = bo.join(bl, bo["o_orderkey"] == bl["l_orderkey"]).where(
            ~bo["o_orderkey"].isNull()
        )
        # broadcast would hide the property being tested; force SMJ
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan[:2000]
            assert "SortMergeJoin" in plan

            control = orders.join(
                lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
            )
            cplan = control._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" in cplan
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        # correctness: bucketed join == plain join
        assert j.count() == lineitem.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_bucket_pruning_on_equality_predicate(spark, sf_dir):
    """An equality predicate on the bucket key scans only the matching
    bucket's files (SelectedBucketsCount in the scan)."""
    from group_2_shopware_enterprise_data_engineering_project_spark.sinks import (
        write_bucketed_table,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    write_bucketed_table(orders, "t_orders_prune", ("o_orderkey",), 8)
    # autoBucketedScan drops the bucketed layout for scan-only queries
    # (no join/agg to exploit it) — which also drops bucket PRUNING;
    # disable it so the filter-only scan keeps the bucket metadata
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        q = spark.table("t_orders_prune").where(F.col("o_orderkey") == 7)
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 8" in plan
    finally:
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
        spark.sql("DROP TABLE IF EXISTS t_orders_prune")


def test_training_shard_writer_manifest_and_balance(spark, tmp_path):
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.prep import (
        shard_assign,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.sinks import (
        write_training_shards,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id long, text string"
    )
    sharded = shard_assign(docs, "doc_id", n_shards=8)
    out = str(tmp_path / "shards")
    manifest = write_training_shards(sharded, out, max_records_per_file=20)
    assert manifest["total_rows"] == 200
    assert len(manifest["shards"]) == 8
    for s in manifest["shards"]:
        assert s["n_rows"] > 0 and s["files"]
    # the manifest is the consumer contract: counts must match a read
    back = spark.read.parquet(out)
    assert back.count() == 200
    # maxRecordsPerFile respected
    import pyarrow.parquet as pq
    import glob as _glob
    for f in _glob.glob(f"{out}/shard=*/*.parquet"):
        assert pq.ParquetFile(f).metadata.num_rows <= 20
