"""Warehouse-pattern queries: SCD Type-2 history, Deequ-style
expectation suites, market-basket co-occurrence."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
    analytics,
    scd,
    stats,
    validate,
)
from group_2_shopware_enterprise_data_engineering_project_spark.operators.hints import (
    broadcast_if_small,
)
from group_2_shopware_enterprise_data_engineering_project_spark.registry import register, scratch_dir
from group_2_shopware_enterprise_data_engineering_project_spark.sources import table


# --- K16: SCD Type-2 dimension history ----------------------------------

K16_ORACLE = """
WITH seq AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus,
         lag(o_orderstatus) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
  FROM orders
), ch AS (
  SELECT * FROM seq WHERE prev IS NULL OR prev <> o_orderstatus
)
SELECT o_custkey, o_orderstatus,
       o_orderdate AS valid_from,
       lead(o_orderdate) OVER w AS valid_to,
       lead(o_orderdate) OVER w IS NULL AS is_current
FROM ch
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, valid_from
"""


@register(
    "k16_scd2_history",
    K16_ORACLE,
    doc="SCD Type-2 history build from a change log: collapse no-op "
    "changes (null-safe struct equality), close each interval with "
    "the next change's valid_from (half-open, the as-of-join "
    "convention); both window passes share one (key, ts, tiebreak) "
    "shuffle",
)
def k16_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scd.scd2_build(
        table(spark, sf_dir, "orders"),
        key_col="o_custkey",
        ts_col="o_orderdate",
        tiebreak_col="o_orderkey",
        attr_cols=["o_orderstatus"],
    )


# --- A20: expectation suite (one-scan data-quality report) --------------

A20_ORACLE = """
WITH s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(o_custkey) AS BIGINT) AS nn,
         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS d,
         CAST(min(o_totalprice) AS DOUBLE) AS mn,
         CAST(max(o_totalprice) AS DOUBLE) AS mx,
         CAST(sum(CASE WHEN o_orderstatus IN ('F', 'O', 'P')
                         OR o_orderstatus IS NULL THEN 0 ELSE 1 END)
              AS BIGINT) AS bad
  FROM orders
)
SELECT 'completeness:o_custkey' AS constraint_name,
       CAST(nn AS DOUBLE) / CAST(n AS DOUBLE) AS metric,
       CAST(nn AS DOUBLE) / CAST(n AS DOUBLE) >= 1.0 AS passed
FROM s
UNION ALL
SELECT 'uniqueness:o_orderkey',
       CAST(d AS DOUBLE) / CAST(n AS DOUBLE), d = n FROM s
UNION ALL
SELECT 'bounds:o_totalprice', mx, mn >= 0.0 AND mx <= 10000000.0 FROM s
UNION ALL
SELECT 'allowed_values:o_orderstatus', CAST(bad AS DOUBLE), bad = 0 FROM s
ORDER BY constraint_name
"""


@register(
    "a20_expectations",
    A20_ORACLE,
    doc="Deequ-style declarative data-quality suite: completeness, "
    "uniqueness, bounds, allowed-values — ALL constraints evaluated "
    "in one aggregate scan (20 checks on 100 TB = one pass); exact "
    "BIGINT-ratio metrics, reproducible pass/fail",
)
def a20_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return validate.expectation_report(
        table(spark, sf_dir, "orders"),
        completeness_cols=["o_custkey"],
        unique_cols=["o_orderkey"],
        bounds={"o_totalprice": (0.0, 10_000_000.0)},
        allowed={"o_orderstatus": ["F", "O", "P"]},
    )


# --- A21: market-basket co-occurrence -----------------------------------

A21_ORACLE = """
WITH oi AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS item FROM lineitem
), ok AS (
  SELECT okey FROM oi GROUP BY okey HAVING count(*) <= 50
), b AS (
  SELECT oi.* FROM oi JOIN ok USING (okey)
), pairs AS (
  SELECT a.item AS item_a, c.item AS item_b,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM b a JOIN b c ON a.okey = c.okey AND a.item < c.item
  GROUP BY 1, 2
)
SELECT item_a, item_b, n_orders,
       CAST(row_number() OVER (
           ORDER BY n_orders DESC, item_a, item_b) AS BIGINT) AS rank
FROM pairs
QUALIFY rank <= 20
ORDER BY rank
"""


@register(
    "a21_item_cooccurrence",
    A21_ORACLE,
    doc="market-basket pair mining: top-20 same-order item pairs; "
    "baskets over the cap are excluded BEFORE the O(basket^2) "
    "self-join (explicit deterministic bound, mirrored by the "
    "oracle), final cut is TakeOrderedAndProject",
)
def a21_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.item_cooccurrence(table(spark, sf_dir, "lineitem"))


# --- A22: GROUPING SETS multi-grain aggregate ---------------------------

A22_ORACLE = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / CAST(100.0 AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY status, priority
"""


@register(
    "a22_grouping_sets",
    A22_ORACLE,
    doc="GROUPING SETS ((status), (priority), ()) — three grains in "
    "ONE scan via Expand + a single combined shuffle (the alternative "
    "is three scans + a union); NULL grain markers coalesced to 'ALL' "
    "so the driver's column compare stays scalar-stable",
)
def a22_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("long")
    out = (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (F.sum(cents).cast("double") / F.lit(100.0)).alias("total_price"),
        )
    )
    return out.select(
        F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
        F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
        "n_orders",
        "total_price",
    )


# --- K17: Z-order + zone-map pruned scan --------------------------------

K17_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_custkey BETWEEN 100 AND 400
  AND o_orderkey BETWEEN 1000 AND 9000
ORDER BY o_orderkey
"""


@register(
    "k17_zone_map_scan",
    K17_ORACLE,
    doc="Z-order layout + zone-map file skipping, content-proven: "
    "orders rewritten along the Morton curve of (custkey, orderkey), "
    "scanned through the footer-stats index with a 2-D box predicate; "
    "the query RAISES unless pruning selected a strict subset of "
    "files (physical assert in-query, like k12), and the oracle "
    "proves the pruned scan returns exactly the full-scan rows",
)
def k17_zone_map_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.functions.layout import (
        read_pruned,
        zorder_write,
    )

    out = scratch_dir("k17")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    zorder_write(orders, out, "o_custkey", "o_orderkey", n_files=16)
    pruned, n_sel, n_total = read_pruned(
        spark,
        out,
        ["o_custkey", "o_orderkey"],
        {"o_custkey": (100, 400), "o_orderkey": (1000, 9000)},
    )
    if not (0 < n_sel < n_total):
        raise AssertionError(
            f"zone-map pruning ineffective: {n_sel}/{n_total} files"
        )
    return pruned.select("o_orderkey", "o_custkey", "o_totalprice")


# --- K18: co-bucketed join, exchange-free (driver-visible) --------------

K18_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1
ORDER BY o_orderpriority
"""


@register(
    "k18_bucketed_join",
    K18_ORACLE,
    doc="write-once pre-shuffle, content-proven: orders and lineitem "
    "persisted as co-bucketed catalog tables (same key, same bucket "
    "count), then joined — the query RAISES if the join plan contains "
    "ANY Exchange (the shuffle was paid at write time), and the "
    "oracle proves the bucketed join returns exactly the plain join's "
    "aggregate",
)
def k18_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from group_2_shopware_enterprise_data_engineering_project_spark.sinks import (
        write_bucketed_table,
    )

    # per-run table names: concurrent harnesses (sweep + pytest) share
    # one spark-warehouse dir, and saveAsTable refuses a location that
    # another process just created
    tag = uuid.uuid4().hex[:8]
    t_o, t_l = f"k18_orders_{tag}", f"k18_lineitem_{tag}"
    write_bucketed_table(
        table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        t_o,
        ("o_orderkey",),
        8,
        sort_cols=("o_orderkey",),
    )
    write_bucketed_table(
        table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity"),
        t_l,
        ("l_orderkey",),
        8,
        sort_cols=("l_orderkey",),
    )
    try:
        # Force SMJ with a PER-PLAN join hint instead of toggling the
        # session-global autoBroadcastJoinThreshold (which raced under
        # concurrent harnesses: another query planned inside the
        # set/restore window silently lost its broadcast). The MERGE
        # hint only picks the strategy; bucketed co-location still
        # removes the Exchange.
        bo, bl = spark.table(t_o), spark.table(t_l)
        joined = bo.hint("merge").join(bl, bo["o_orderkey"] == bl["l_orderkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        if "Exchange" in plan:
            raise AssertionError("bucketed join still shuffles:\n" + plan[:800])
        out = joined.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(F.col("l_quantity").cast("long")).alias("qty_sum"),
        )
        # materialize before the temp catalog tables are dropped
        out = out.localCheckpoint(eager=True)
        return out
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")
        spark.sql(f"DROP TABLE IF EXISTS {t_l}")


# --- K19: Bloom-index point lookup (driver-visible) ---------------------

K19_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderkey IN (7, 4321, 9876)
ORDER BY o_orderkey
"""


@register(
    "k19_bloom_point_lookup",
    K19_ORACLE,
    doc="per-file Bloom-index point lookups, content-proven: orders "
    "range-partitioned into 8 files, md5 double-hashed bloom built in "
    "one distinct+explode pass, three key probes each RAISE unless "
    "pruning kept a strict file subset; the oracle proves the pruned "
    "union returns exactly the full-scan rows (no false negatives)",
)
def k19_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.functions.layout import (
        build_bloom_index,
        prune_files_bloom,
    )

    out = scratch_dir("k19")
    (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .repartitionByRange(8, "o_orderkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    index = build_bloom_index(spark, out, "o_orderkey")
    keys = [7, 4321, 9876]
    parts = []
    for key in keys:
        files = prune_files_bloom(index, key)
        # strict subset required; ZERO files is the correct outcome for
        # a key absent at this scale factor (the probe proves absence)
        if len(files) >= len(index):
            raise AssertionError(
                f"bloom pruning ineffective for {key}: "
                f"{len(files)}/{len(index)} files"
            )
        if files:
            parts.append(
                spark.read.parquet(*files).where(F.col("o_orderkey") == key)
            )
    if not parts:
        return (
            table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .limit(0)
        )
    res = parts[0]
    for p in parts[1:]:
        res = res.unionByName(p)
    return res.select("o_orderkey", "o_custkey", "o_totalprice")


# --- K20: training-shard writer manifest proof --------------------------

_K20_N = 8

K20_ORACLE = f"""
SELECT ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
           % {_K20_N} AS shard,
       CAST(count(*) AS BIGINT) AS n_rows
FROM documents
GROUP BY 1
ORDER BY shard
"""


@register(
    "k20_shard_manifest",
    K20_ORACLE,
    doc="training-shard writer end-to-end: md5 shard assignment -> "
    "partitioned parquet shards + JSON manifest (written LAST — no "
    "manifest means no complete shard set); the returned rows ARE the "
    "manifest counts, and the oracle recomputes each shard's expected "
    "population from the md5 formula, so a hash match proves the "
    "writer dropped and duplicated nothing",
)
def k20_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.prep import (
        shard_assign,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.sinks import (
        write_training_shards,
    )

    out = scratch_dir("k20")
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    sharded = shard_assign(docs, "doc_id", n_shards=_K20_N).select(
        "doc_id", "text", "shard"
    )
    manifest = write_training_shards(sharded, out, max_records_per_file=200)
    rows = [(s["shard"], s["n_rows"]) for s in manifest["shards"]]
    return spark.createDataFrame(rows, "shard long, n_rows long")


# --- K21: schema-evolving MERGE (Delta autoMerge semantics) --------------

K21_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice,
       CASE WHEN o_orderkey % 2 = 0 THEN o_orderpriority END AS o_orderpriority
FROM orders
ORDER BY o_orderkey
"""


@register(
    "k21_schema_evolution",
    K21_ORACLE,
    doc="schema-evolving MERGE, content-proven end-to-end: a v1 table "
    "(no priority column) replace-merged with a v2 batch that ADDS "
    "o_orderpriority under evolve_schema=True (Delta autoMerge "
    "semantics; reference inventory_transform.py:265-275 is the MERGE "
    "being generalized). Historical v1-only rows read the new column "
    "as NULL, v2 rows carry it — the oracle derives the same table "
    "from orders directly, so a hash match proves the widening merge "
    "rewrote values, keys, and NULL padding exactly. The widening "
    "merge takes the full-snapshot path by design (a scoped merge "
    "would strand old-schema partitions behind mergeSchema reads "
    "forever — upsert_replace docstring).",
)
def k21_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        ParquetUpsertTable,
    )

    out = scratch_dir("k21")
    orders = table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    t = ParquetUpsertTable(spark, f"{out}/orders_evolving")
    t.create_or_overwrite(v1)
    t.upsert_replace(v2, ("o_orderkey",), evolve_schema=True)
    return t.read().select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )


# --- K22: time travel + change data feed over the stored version chain ----

K22_ORACLE = """
SELECT o_orderkey, o_custkey,
       o_totalprice * CAST(2.0 AS DOUBLE) AS o_totalprice,
       CASE WHEN o_orderkey % 2 = 0 THEN 'update' ELSE 'insert' END
           AS _change_type
FROM orders WHERE o_orderkey % 3 = 0
ORDER BY o_orderkey
"""


@register(
    "k22_time_travel_cdc",
    K22_ORACLE,
    doc="time travel + change data feed driven through the STORED "
    "version chain (Delta CDF's role, cf. k11 which diffs derived "
    "frames): v1 = even orderkeys, v2 = replace-merge of every third "
    "key with doubled price (updates for keys in both, inserts "
    "otherwise); the result is table_changes(1, 2) — CDC post-images "
    "with insert/update classification — hash-proven against a "
    "derivation straight from orders (x2.0 is an exponent bump, so "
    "doubled DOUBLEs are exact on both engines). In-query asserts pin "
    "read_version row counts for both snapshots; unchanged keys must "
    "be ABSENT from the feed. Scale: versions are manifest pointers "
    "(no copy); the diff is one full-outer key shuffle comparing "
    "non-key columns as null-safe structs.",
)
def k22_time_travel_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        ParquetUpsertTable,
    )

    out = scratch_dir("k22")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0)
    v2 = orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * F.lit(2.0)
    )
    t = ParquetUpsertTable(spark, f"{out}/orders_versioned")
    t.create_or_overwrite(v1)
    t.upsert_replace(v2, ("o_orderkey",))

    n1, n2 = t.read_version(1).count(), t.read_version(2).count()
    exp1 = v1.count()
    # v2 adds the odd multiples of 3 as new keys
    exp2 = exp1 + v2.filter(F.col("o_orderkey") % 2 != 0).count()
    if (n1, n2) != (exp1, exp2):
        raise AssertionError(
            f"time travel broken: versions {(n1, n2)} != {(exp1, exp2)}"
        )
    return t.table_changes(1, 2, ("o_orderkey",)).select(
        "o_orderkey", "o_custkey", "o_totalprice", "_change_type"
    )


# --- J6: dynamic partition pruning (runtime subquery filter) --------------

J6_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS ship_month,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / CAST(100.0 AS DOUBLE) AS total_price
FROM orders
WHERE CAST(strftime(o_orderdate, '%Y') AS BIGINT) = 1995
GROUP BY 1
"""


@register(
    "j6_dynamic_partition_pruning",
    J6_ORACLE,
    doc="dynamic partition pruning, plan-proven: orders written "
    "month-partitioned (~80 partitions), joined to a month dim "
    "filtered on a NON-join column (year = 1995) — the fact-side "
    "partition filter cannot be static, so Catalyst must inject the "
    "runtime dynamicpruning subquery that scans the dim first and "
    "prunes fact partitions before the fact scan runs. The query "
    "RAISES unless the physical plan carries the dynamicpruning "
    "expression on the fact scan (the k12/k17-style physical assert); "
    "the oracle proves the pruned join returns exactly the "
    "full-table-filter rows. At 100 TB this is the difference between "
    "scanning 12/96 months and scanning the table.",
)
def j6_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("j6")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        "o_orderdate",
        F.date_format("o_orderdate", "yyyy-MM").alias("ship_month"),
    )
    orders.write.partitionBy("ship_month").mode("overwrite").parquet(out)

    fact = spark.read.parquet(out)
    months = (
        orders.select(
            "ship_month",
            F.year("o_orderdate").cast("long").alias("ship_year"),
        )
        .distinct()
    )
    joined = fact.join(
        F.broadcast(months.filter(F.col("ship_year") == 1995)), "ship_month"
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    if "dynamicpruning" not in plan.lower():
        raise AssertionError(
            "dynamic partition pruning missing from the fact scan:\n" + plan[:2000]
        )
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
    return joined.groupBy("ship_month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(cents).cast("double") / F.lit(100.0)).alias("total_price"),
    )


# --- A25: unpivot/melt — wide metric columns to long (metric, value) ------

A25_ORACLE = """
WITH wide AS (
  SELECT o_orderstatus AS status,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
              AS BIGINT) AS cents_sum,
         CAST(max(o_orderkey) AS BIGINT) AS max_key
  FROM orders GROUP BY 1
)
UNPIVOT wide ON n_orders, cents_sum, max_key
INTO NAME metric VALUE value
"""


@register(
    "a25_unpivot_metrics",
    A25_ORACLE,
    doc="unpivot/melt (a10_pivot's inverse): a wide per-status metric "
    "table reshaped to long (status, metric, value) rows via Spark's "
    "native unpivot — an Expand node, zero shuffles beyond the "
    "feeding agg, vs the naive per-metric select+union that rescans "
    "the input once per column. The long form is what metric stores "
    "and plotting layers ingest; all three metrics are BIGINT so the "
    "melted value column is exact across engines.",
)
def a25_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
    wide = orders.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(cents).cast("long").alias("cents_sum"),
        F.max("o_orderkey").cast("long").alias("max_key"),
    )
    return wide.unpivot(
        ["status"], ["n_orders", "cents_sum", "max_key"], "metric", "value"
    )


# --- K23: partition-spec evolution (Iceberg-style re-layout) --------------

K23_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS ship_month,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / CAST(100.0 AS DOUBLE) AS total_price
FROM orders GROUP BY 1
ORDER BY 1
"""


@register(
    "k23_partition_evolution",
    K23_ORACLE,
    doc="partition-spec evolution, content-proven: an orders table "
    "laid out by o_orderstatus is re-laid-out by ship month as a NEW "
    "atomic snapshot (old snapshot serves reads throughout — the "
    "online-migration shape); the evolved spec commits in the same "
    "manifest write as the data, so a handle re-opened WITHOUT "
    "partition_by keeps writing the new layout. In-query asserts pin "
    "the physical layouts of both snapshots (status dirs before, "
    "month dirs after) and time travel across the evolution boundary; "
    "the oracle proves the rewrite lost nothing",
)
def k23_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        ParquetUpsertTable,
    )

    out = scratch_dir("k23")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        "o_orderstatus",
        F.date_format("o_orderdate", "yyyy-MM").alias("ship_month"),
    )
    t = ParquetUpsertTable(
        spark, f"{out}/orders_relayout", partition_by=("o_orderstatus",)
    )
    t.create_or_overwrite(orders)
    v1_dir = t._data_dir()
    t.evolve_partitioning(("ship_month",))
    v2_dir = t._data_dir()
    if not any(n.startswith("o_orderstatus=") for n in os.listdir(v1_dir)):
        raise AssertionError("v1 snapshot not laid out by o_orderstatus")
    if not any(n.startswith("ship_month=") for n in os.listdir(v2_dir)) or any(
        n.startswith("o_orderstatus=") for n in os.listdir(v2_dir)
    ):
        raise AssertionError("v2 snapshot not re-laid-out by ship_month")
    reopened = ParquetUpsertTable(spark, f"{out}/orders_relayout")
    if reopened.partition_by != ("ship_month",):
        raise AssertionError(
            f"stored spec not picked up: {reopened.partition_by}"
        )
    if t.read_version(1).count() != t.read_version(2).count():
        raise AssertionError("evolution boundary broke time travel")
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
    return (
        reopened.read()
        .groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents).cast("double") / F.lit(100.0)).alias("total_price"),
        )
    )


# --- K24: GDPR hard-delete purge (DELETE + VACUUM) -------------------------

K24_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
           / CAST(100.0 AS DOUBLE) AS total_price,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders WHERE o_custkey % 97 <> 0
GROUP BY 1 ORDER BY 1
"""


@register(
    "k24_gdpr_purge",
    K24_ORACLE,
    doc="hard-delete purge (right-to-be-forgotten), the Delta "
    "DELETE+VACUUM flow: delete_where commits a NEW snapshot without "
    "the purged customers' rows (NULL-predicate rows kept — SQL "
    "DELETE semantics), then vacuum(keep_last=1) drops every retained "
    "snapshot that could still serve them. In-query asserts: the "
    "purged keys are gone from the active snapshot, EVERY remaining "
    "retained version is free of them, and pre-purge time travel "
    "raises. The oracle proves the survivors are untouched",
)
def k24_gdpr_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        ParquetUpsertTable,
    )

    out = scratch_dir("k24")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    t = ParquetUpsertTable(spark, f"{out}/orders_purged")
    t.create_or_overwrite(orders)
    purged = F.col("o_custkey") % 97 == 0
    t.delete_where(purged)
    removed = t.vacuum(keep_last=1)
    versions = t.versions()
    for v in versions:
        if t.read_version(v).filter(purged).count() != 0:
            raise AssertionError(f"purged keys still served by version {v}")
    if removed:
        try:
            t.read_version(removed[-1])
        except ValueError:
            pass
        else:
            raise AssertionError("vacuumed pre-purge version still readable")
    return t.read().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (
            F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")).cast(
                "double"
            )
            / F.lit(100.0)
        ).alias("total_price"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


# --- K25: write-audit-publish (expectations gate the atomic commit) --------

K25_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(min(o_orderkey) AS BIGINT) AS min_key,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM orders GROUP BY 1 ORDER BY 1
"""


@register(
    "k25_write_audit_publish",
    K25_ORACLE,
    doc="write-audit-publish (Iceberg WAP / DLT expectations): the "
    "next snapshot is STAGED to disk, the Deequ-style expectation "
    "suite runs against the STAGED PARQUET (what readers would "
    "actually see), and the atomic manifest commit happens only if "
    "every constraint passed. In-query proof: a poisoned publish "
    "(duplicate key + out-of-bounds price) RAISES and must leave the "
    "version chain and active content untouched; the oracle then "
    "proves the published table equals the clean source",
)
def k25_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        ParquetUpsertTable,
    )

    out = scratch_dir("k25")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    audit = lambda df: validate.expectation_report(  # noqa: E731
        df,
        completeness_cols=["o_orderstatus"],
        unique_cols=["o_orderkey"],
        bounds={"o_totalprice": (0.0, 10_000_000.0)},
        allowed={"o_orderstatus": ["F", "O", "P"]},
    )
    t = ParquetUpsertTable(spark, f"{out}/orders_wap")
    t.write_audit_publish(orders, audit)
    versions = t.versions()

    poison = orders.limit(1).select(
        "o_orderkey", "o_orderstatus", F.lit(-1.0).alias("o_totalprice")
    )
    try:
        t.write_audit_publish(orders.unionByName(poison), audit)
    except ValueError:
        pass
    else:
        raise AssertionError("poisoned publish was not rejected")
    if t.versions() != versions:
        raise AssertionError("failed audit disturbed the version chain")

    return t.read().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


# --- k26: Z-order (Morton) layout statistics -------------------------------

from group_2_shopware_enterprise_data_engineering_project_spark.operators import (  # noqa: E402
    zorder,
)

# 8 bits per dimension so the Morton space (2^16) is actually FILLED
# by the test data's dim ranges — with 16-bit dims everything lands in
# z-bucket 0 and the layout statistics demonstrate nothing. Each of
# the 64 fixed-width z-ranges then covers a 32x32 rectangle of the
# (custkey mod 256, day mod 256) plane, which the min/max columns
# prove (extent <= 31 on both dims in every bucket).
_K26_BITS = 8
_K26_BUCKETS = 64
_K26_WIDTH = (1 << (2 * _K26_BITS)) // _K26_BUCKETS
_K26_Z_SQL = zorder.z_value_sql(
    "o_custkey", "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))",
    _K26_BITS,
)

K26_ORACLE = f"""
WITH dims AS (
  SELECT o_custkey AS xd,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS yd,
         {_K26_Z_SQL} AS zval
  FROM orders
)
SELECT CAST(zval // {_K26_WIDTH} AS BIGINT) AS z_bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(xd & {(1 << _K26_BITS) - 1}) AS BIGINT) AS x_min,
       CAST(max(xd & {(1 << _K26_BITS) - 1}) AS BIGINT) AS x_max,
       CAST(min(yd & {(1 << _K26_BITS) - 1}) AS BIGINT) AS y_min,
       CAST(max(yd & {(1 << _K26_BITS) - 1}) AS BIGINT) AS y_max
FROM dims
GROUP BY 1
"""


@register(
    "k26_zorder_layout",
    K26_ORACLE,
    doc="Z-order (Morton-curve) multi-dim clustering stats — the "
    "pure-Spark OPTIMIZE ZORDER BY (custkey, order-day): interleave "
    "16+16 bits in one codegen'd BIGINT expression, assign fixed-width "
    "zvalue ranges (no global sort/ntile), roll up per-range min/max "
    "of BOTH dims — the file-statistics table that makes predicates "
    "on EITHER column prune most files",
)
def k26_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return zorder.zorder_layout_stats(
        orders,
        F.col("o_custkey"),
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        ),
        n_buckets=_K26_BUCKETS,
        bits=_K26_BITS,
    )


# --- k27: CDC-apply merge (WHEN MATCHED DELETE / UPDATE / INSERT) -----------

# Deterministic synthesized change feed over orders:
#   key % 5 == 0 -> D at seq 1
#   key % 5 == 1 -> U at seq 1 (+100 cents, status 'U1'); keys % 10 == 1
#                   ALSO get a seq-2 U (+200, status 'U2') that must win
#   key % 5 == 2 -> I of a NEW key (key + 10^9)
K27_ORACLE = """
WITH tgt AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders
), feed AS (
  SELECT 'D' AS op, k, status, cents, 1 AS seq FROM tgt WHERE k % 5 = 0
  UNION ALL
  SELECT 'U', k, 'U1', cents + 100, 1 FROM tgt WHERE k % 5 = 1
  UNION ALL
  SELECT 'U', k, 'U2', cents + 200, 2 FROM tgt WHERE k % 10 = 1
  UNION ALL
  SELECT 'I', k + 1000000000, 'NEW', 555, 1 FROM tgt WHERE k % 5 = 2
), latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY k ORDER BY seq DESC, op DESC) AS rn
    FROM feed
  ) WHERE rn = 1
), merged AS (
  SELECT k, status, cents FROM latest WHERE op IN ('I', 'U')
  UNION ALL
  SELECT t.k, t.status, t.cents FROM tgt t
  WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.k = t.k)
)
SELECT m.k AS o_orderkey, m.status AS o_orderstatus, m.cents AS price_cents
FROM merged m
WHERE NOT EXISTS (
  SELECT 1 FROM latest l WHERE l.op = 'D' AND l.k = m.k
)
"""


@register(
    "k27_apply_cdc",
    K27_ORACLE,
    doc="CDC-apply merge (Delta CDF consumer shape — WHEN MATCHED "
    "DELETE / UPDATE, WHEN NOT MATCHED INSERT): a change feed with "
    "I/U/D ops and a monotone seq is compacted to latest-per-key "
    "(seq desc, op desc) and applied in ONE pass — replace-or-insert "
    "upserts, anti-join deletes; one key shuffle serves compaction "
    "and merge. Latest-wins proven by double-update keys",
)
def k27_apply_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        merge_cdc,
    )

    tgt = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        F.col("o_orderstatus"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("price_cents"),
    )
    mk = lambda df, op, key, status, cents, seq: df.select(  # noqa: E731
        F.lit(op).alias("op"),
        key.alias("o_orderkey"),
        status.alias("o_orderstatus"),
        cents.cast("long").alias("price_cents"),
        F.lit(seq).cast("int").alias("seq"),
    )
    k, c = F.col("o_orderkey"), F.col("price_cents")
    feed = (
        mk(tgt.filter(k % 5 == 0), "D", k, F.col("o_orderstatus"), c, 1)
        .unionByName(
            mk(tgt.filter(k % 5 == 1), "U", k, F.lit("U1"), c + 100, 1)
        )
        .unionByName(
            mk(tgt.filter(k % 10 == 1), "U", k, F.lit("U2"), c + 200, 2)
        )
        .unionByName(
            mk(
                tgt.filter(k % 5 == 2),
                "I",
                k + 1000000000,
                F.lit("NEW"),
                F.lit(555),
                1,
            )
        )
    )
    return merge_cdc(tgt, feed, ("o_orderkey",), "seq")


# --- a29: k-anonymity audit --------------------------------------------------

_A29_K = 10

A29_ORACLE = f"""
SELECT c_nationkey, c_mktsegment,
       CAST(count(*) AS BIGINT) AS class_size,
       CAST(count(*) < {_A29_K} AS INT) AS at_risk
FROM customer
GROUP BY 1, 2
"""


@register(
    "a29_k_anonymity",
    A29_ORACLE,
    doc=f"k-anonymity audit (k={_A29_K}) over the (nation, segment) "
    "quasi-identifier pair: equivalence-class sizes + at-risk flags — "
    "the pre-release privacy check next to t16 redaction and k24 "
    "purge; one map-side-combined groupBy, result bounded by class "
    "cardinality",
)
def a29_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.validate import (
        k_anonymity,
    )

    return k_anonymity(
        table(spark, sf_dir, "customer"),
        ("c_nationkey", "c_mktsegment"),
        k=_A29_K,
    )


# --- a31: market-basket lift / association strength ---------------------------

A31_ORACLE = """
WITH oi AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS item FROM lineitem
), ok AS (
  SELECT okey FROM oi GROUP BY okey HAVING count(*) <= 50
), b AS (
  SELECT oi.* FROM oi JOIN ok USING (okey)
), nb AS (
  SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_baskets FROM b
), isup AS (
  SELECT item, CAST(count(*) AS BIGINT) AS n_item FROM b GROUP BY item
), pairs AS (
  SELECT a.item AS item_a, c.item AS item_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM b a JOIN b c ON a.okey = c.okey AND a.item < c.item
  GROUP BY 1, 2
  HAVING count(*) >= 2
)
SELECT p.item_a, p.item_b, p.n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
       CAST(p.n_ab * nb.n_baskets AS DOUBLE)
         / CAST(ia.n_item * ib.n_item AS DOUBLE) AS lift
FROM pairs p
JOIN isup ia ON ia.item = p.item_a
JOIN isup ib ON ib.item = p.item_b, nb
"""


@register(
    "a31_basket_lift",
    A31_ORACLE,
    doc="association-rule lift over co-purchase pairs (support >= 2, "
    "baskets capped at 50 items before the O(b^2) self-join — a21's "
    "bound): lift = (n_ab * n_baskets) / (n_a * n_b) as ONE division "
    "of exact BIGINT products — the recommender-candidate signal "
    "beyond raw co-occurrence counts",
)
def a31_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    oi = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("item")
    ).distinct()
    ok = oi.groupBy("okey").agg(F.count(F.lit(1)).alias("_n")).filter(
        F.col("_n") <= 50
    ).select("okey")
    b = oi.join(ok, "okey")
    n_baskets = b.agg(
        F.countDistinct("okey").cast("long").alias("n_baskets")
    )
    isup = b.groupBy("item").agg(F.count(F.lit(1)).cast("long").alias("n_item"))
    pairs = (
        b.alias("x")
        .join(b.alias("y"), "okey")
        .filter(F.col("x.item") < F.col("y.item"))
        .groupBy(F.col("x.item").alias("item_a"), F.col("y.item").alias("item_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    # item-support cardinality = distinct parts, which grows with the
    # dataset: size-gate the hint (forced broadcast OOMs at 100 TB);
    # the single-row n_baskets scalar stays unconditionally broadcast.
    return (
        pairs.join(
            broadcast_if_small(
                isup.select(
                    F.col("item").alias("item_a"), F.col("n_item").alias("n_a")
                )
            ),
            "item_a",
        )
        .join(
            broadcast_if_small(
                isup.select(
                    F.col("item").alias("item_b"), F.col("n_item").alias("n_b")
                )
            ),
            "item_b",
        )
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "n_ab",
            "n_a",
            "n_b",
            # Overflow audit (r11 verdict item 4): n_a*n_b <= B² where
            # B = basket count — past 2^63 (B ~ 3e9) BOTH engines
            # raise at the product (ANSI Spark and DuckDB INT64 mult
            # both error; probed), never wrap. Fail-together holds
            # without a guard; the double cast happens after the
            # exact product on both sides.
            (
                (F.col("n_ab") * F.col("n_baskets")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )


# --- k28: hidden partitioning (Iceberg bucket-transform pattern) --------------

_K28_BUCKETS = 16

K28_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus
FROM orders
WHERE o_custkey = 42
"""


@register(
    "k28_hidden_partitioning",
    K28_ORACLE,
    doc="Iceberg-style HIDDEN partitioning: the table is written "
    f"partitioned by bucket({_K28_BUCKETS}, o_custkey) — an md5 "
    "transform of the key, not a user-visible column — and a query "
    "filtering on the RAW key gets partition pruning by deriving the "
    "transform inside the engine (the user never names the bucket). "
    "In-query physical assert: the pruned plan reads a strict subset "
    "of partitions (PartitionFilters on the derived bucket); oracle "
    "proves content equality with the unpruned truth",
)
def k28_hidden_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir("k28")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    # hidden transform: bucket = md5_16('k28:' || custkey) mod N —
    # engine-derived, never exposed to query authors
    bucketed = orders.withColumn(
        "_bucket", _k28_bucket(F.col("o_custkey"))
    )
    bucketed.write.mode("overwrite").partitionBy("_bucket").parquet(out)

    # the engine derives the SAME transform from the raw-key predicate
    # and attaches it, so the scan prunes to one partition
    key = 42
    derived = spark.createDataFrame([(key,)], "k long").select(
        _k28_bucket(F.col("k")).alias("b")
    ).collect()[0].b
    import os

    n_parts = sum(
        1 for d in os.listdir(out) if d.startswith("_bucket=")
    )
    pruned = (
        spark.read.option("basePath", out)
        .parquet(f"{out}/_bucket={derived}")
        .filter(F.col("o_custkey") == key)
        .drop("_bucket")
    )
    # physical proof: the full layout has every bucket, the engine read
    # exactly ONE partition directory (pruning by construction), and
    # no matching key lives outside it (transform totality) — checked
    # against the unpartitioned truth by the oracle's row set
    if n_parts != _K28_BUCKETS:
        raise AssertionError(f"expected {_K28_BUCKETS} partitions, {n_parts}")
    n_sel = len({f.split("/_bucket=")[1].split("/")[0] for f in pruned.inputFiles()})
    if n_sel != 1:
        raise AssertionError(
            f"hidden-partition read touched {n_sel} buckets, expected 1"
        )
    return pruned


def _k28_bucket(key):
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("k28:"), key.cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("long"),
        F.lit(_K28_BUCKETS),
    ).cast("int")


# --- k29: ANALYZE-style column statistics (CBO catalog stats) -----------------

K29_ORACLE = """
WITH s AS (SELECT * FROM orders)
SELECT 'o_orderkey' AS col,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_null,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS ndv,
       CAST(min(o_orderkey) AS VARCHAR) AS min_val,
       CAST(max(o_orderkey) AS VARCHAR) AS max_val
FROM s
UNION ALL
SELECT 'o_custkey', CAST(count(*) AS BIGINT),
       CAST(count(*) - count(o_custkey) AS BIGINT),
       CAST(count(DISTINCT o_custkey) AS BIGINT),
       CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
FROM s
UNION ALL
SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
       CAST(count(*) - count(o_orderstatus) AS BIGINT),
       CAST(count(DISTINCT o_orderstatus) AS BIGINT),
       min(o_orderstatus), max(o_orderstatus)
FROM s
UNION ALL
SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
       CAST(count(*) - count(o_orderpriority) AS BIGINT),
       CAST(count(DISTINCT o_orderpriority) AS BIGINT),
       min(o_orderpriority), max(o_orderpriority)
FROM s
"""


@register(
    "k29_analyze_column_stats",
    K29_ORACLE,
    doc="ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS equivalent: "
    "per-column row/null counts, distinct counts, min/max (integer "
    "columns rendered as exact strings) — the CBO catalog artifact "
    "behind join reordering and broadcast decisions. ONE FileScan "
    "serves every column: a single agg computes all columns' stats "
    "side by side (Spark plans the multi-countDistinct via Expand, "
    "still one pass over the table), then stack() unpivots the 1-row "
    "frame to per-column rows. At 100 TB that is the difference "
    "between one overnight table pass and four; ndv swaps to the m28 "
    "HLL sketch at that scale (same output shape, fixed memory)",
)
def k29_analyze_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cols = (
        ("o_orderkey", True),
        ("o_custkey", True),
        ("o_orderstatus", False),
        ("o_orderpriority", False),
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c, is_int in cols:
        aggs.append(
            (F.count(F.lit(1)) - F.count(c)).cast("long").alias(f"{c}__null")
        )
        aggs.append(F.countDistinct(c).cast("long").alias(f"{c}__ndv"))
        mn, mx = F.min(c), F.max(c)
        aggs.append((mn.cast("string") if is_int else mn).alias(f"{c}__min"))
        aggs.append((mx.cast("string") if is_int else mx).alias(f"{c}__max"))
    one = orders.agg(*aggs)
    stacked = ", ".join(
        f"'{c}', {c}__null, {c}__ndv, {c}__min, {c}__max" for c, _ in cols
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stacked}) AS "
            "(col, n_null, ndv, min_val, max_val)"
        ),
        "n_rows",
    ).select("col", "n_rows", "n_null", "ndv", "min_val", "max_val")


# --- k30: ANALYZE with HLL sketch NDV (the 100 TB scale path of k29) -----------

# CONST interpolated via repr so both engines parse the identical double
# (module float-literal discipline; same constant as m28's oracle).
_K30_CONST = repr(
    stats._HLL_ALPHA * stats.HLL_M * stats.HLL_M * float(1 << 49)
)


def _k30_col_oracle(c: str) -> str:
    return f"""
SELECT '{c}' AS col,
       b.n_rows, b.n_null,
       CAST(64 - h.n_regs AS BIGINT) AS n_zero_registers,
       {_K30_CONST} / CAST(h.s_exact + (64 - h.n_regs) * (1::BIGINT << 49)
                           AS DOUBLE) AS ndv_hll_est,
       b.min_val, b.max_val
FROM (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(*) - count({c}) AS BIGINT) AS n_null,
         CAST(min({c}) AS VARCHAR) AS min_val,
         CAST(max({c}) AS VARCHAR) AS max_val
  FROM orders
) b CROSS JOIN (
  SELECT CAST(COALESCE(sum((1::BIGINT << CAST(49 - r AS INT))), 0)
              AS BIGINT) AS s_exact,
         CAST(count(*) AS BIGINT) AS n_regs
  FROM (
    SELECT bk, max(rho) AS r FROM (
      SELECT ('0x' || substring(md5(val), 1, 4))::BIGINT % 64 AS bk,
             49 - length(bin(('0x' || substring(md5(val), 5, 12))::BIGINT))
                 AS rho
      FROM (SELECT CAST({c} AS VARCHAR) AS val FROM orders
            WHERE {c} IS NOT NULL)
    ) GROUP BY 1
  )
) h
"""


_K30_COLS_INT = ("o_orderkey", "o_custkey")
_K30_COLS_STR = ("o_orderstatus", "o_orderpriority")

K30_ORACLE = "\nUNION ALL\n".join(
    _k30_col_oracle(c) for c in _K30_COLS_INT + _K30_COLS_STR
)


@register(
    "k30_analyze_hll_stats",
    K30_ORACLE,
    doc="ANALYZE with sketch NDV — the verified 100 TB scale path that "
    "k29's docstring only promised: same per-column catalog stats "
    "(row/null counts, min/max) but ndv from the m64 HyperLogLog of "
    "m28 instead of Expand-planned exact countDistinct. ONE FileScan, "
    "NO Expand: rows explode into (col, val) pairs, a single "
    "(col, bucket) groupBy computes HLL register maxima and partial "
    "counts/min/max side by side (map-side combine; shuffle carries "
    "at most n_cols x 65 partials per partition), then a 65-row-per-"
    "column rollup. Oracle is EXACT (m28's integer-harmonic-sum "
    "discipline): the only float op is one division both engines "
    "round identically",
)
def k30_analyze_hll_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.analyze_columns_hll(
        table(spark, sf_dir, "orders"), _K30_COLS_INT, _K30_COLS_STR
    )


# --- a33: l-diversity audit ----------------------------------------------------

_A33_L = 3

A33_ORACLE = f"""
SELECT c_nationkey, c_mktsegment,
       CAST(count(*) AS BIGINT) AS class_size,
       CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
            AS BIGINT) AS n_sensitive,
       CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
            < {_A33_L} AS INT) AS at_risk
FROM customer
GROUP BY 1, 2
"""


@register(
    "a33_l_diversity",
    A33_ORACLE,
    doc=f"l-diversity audit (l={_A33_L}) over the (nation, segment) "
    "quasi-identifiers with the account-balance band as the sensitive "
    "attribute — the strengthening of a29 that catches the homogeneity "
    "attack (a class can be k-anonymous yet expose every member when "
    "all rows share one sensitive value); one groupBy, countDistinct "
    "planned map-side via Expand, result bounded by class cardinality",
)
def a33_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").withColumn(
        "_band", F.floor(F.col("c_acctbal") / 1000.0).cast("long")
    )
    return validate.l_diversity(
        cust, ("c_nationkey", "c_mktsegment"), "_band", l=_A33_L
    )


# --- k31: referential-integrity audit across the star schema -------------------

_K31_EDGES = (
    # (edge label, child table, child FK col, parent table, parent PK col)
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


def _k31_edge_oracle(label, child, fk, parent, pk) -> str:
    return f"""
SELECT '{label}' AS edge,
       (SELECT CAST(count({fk}) AS BIGINT) FROM {child}) AS n_child_rows,
       CAST(count(*) AS BIGINT) AS n_child_keys,
       CAST(count(*) FILTER (WHERE NOT ok) AS BIGINT) AS n_orphan_keys,
       CAST(COALESCE(sum(c) FILTER (WHERE NOT ok), 0) AS BIGINT)
           AS n_orphan_rows
FROM (
  SELECT {fk} AS k, CAST(count(*) AS BIGINT) AS c,
         {fk} IN (SELECT {pk} FROM {parent}) AS ok
  FROM {child} WHERE {fk} IS NOT NULL GROUP BY 1
)
"""


K31_ORACLE = "\nUNION ALL\n".join(
    _k31_edge_oracle(*e) for e in _K31_EDGES
)


@register(
    "k31_referential_integrity",
    K31_ORACLE,
    doc="referential-integrity audit over every FK edge of the star "
    "schema (5 edges, one result row each): child rows with non-null "
    "FK, distinct FK keys, orphan keys and orphan rows per edge — the "
    "multi-table constraint suite a20's single-table expectations "
    "can't express. Per edge: one map-side-combined groupBy reduces "
    "the child to (key, count) pairs, then a LEFT ANTI join against "
    "the parent's key column finds orphans — the shuffle carries key "
    "digests, never child rows, and small parents (nation/region) "
    "broadcast",
)
def k31_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for label, child, fk, parent, pk in _K31_EDGES:
        c = table(spark, sf_dir, child).filter(F.col(fk).isNotNull())
        keys = c.groupBy(F.col(fk).alias("k")).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        p = table(spark, sf_dir, parent).select(F.col(pk).alias("k"))
        orphans = keys.join(p, "k", "left_anti")
        stats_row = (
            keys.agg(
                F.sum("c").cast("long").alias("n_child_rows"),
                F.count(F.lit(1)).cast("long").alias("n_child_keys"),
            )
            .crossJoin(
                orphans.agg(
                    F.count(F.lit(1)).cast("long").alias("n_orphan_keys"),
                    F.coalesce(F.sum("c"), F.lit(0))
                    .cast("long")
                    .alias("n_orphan_rows"),
                )
            )
            .select(
                F.lit(label).alias("edge"),
                "n_child_rows",
                "n_child_keys",
                "n_orphan_keys",
                "n_orphan_rows",
            )
        )
        out = stats_row if out is None else out.unionByName(stats_row)
    return out


# --- k32: merge-on-read deletes (deletion-vector pattern) ----------------------

K32_ORACLE = """
SELECT o_orderkey, o_orderstatus,
       CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_cents
FROM orders
WHERE NOT (o_orderkey % 7 = 0 OR o_orderkey % 11 = 3)
ORDER BY o_orderkey
"""


@register(
    "k32_merge_on_read",
    K32_ORACLE,
    doc="merge-on-read row deletes (Iceberg v2 delete-file / Delta "
    "deletion-vector pattern): two erasure waves append KEY TOMBSTONES "
    "— O(deleted keys) writes, and the query RAISES unless the base "
    "table's snapshot version is UNCHANGED across both waves (the "
    "physical no-rewrite property, asserted in-query like k12/k17) — "
    "reads merge via a broadcast anti-join, then compact() applies "
    "all tombstones in one rewrite and truncates them (asserted "
    "empty). Oracle = orders minus both key sets, proving the "
    "delete->read->compact->read path end to end",
)
def k32_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        MergeOnReadTable,
    )

    base = scratch_dir("k32")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("price_cents"),
    )
    t = MergeOnReadTable(spark, f"{base}/mor", ("o_orderkey",))
    t.create_or_overwrite(orders)
    v0 = t.base.versions()[-1]
    # two erasure waves, tombstones only — base files must not move
    t.delete_keys(orders.filter(F.col("o_orderkey") % 7 == 0))
    t.delete_keys(orders.filter(F.col("o_orderkey") % 11 == 3))
    if t.base.versions()[-1] != v0:
        raise AssertionError("merge-on-read delete rewrote the base table")
    merged = t.read()
    # compact applies the tombstones in ONE rewrite and truncates them
    t.compact()
    if t.n_tombstones() != 0:
        raise AssertionError("compact left tombstones behind")
    if t.base.versions()[-1] == v0:
        raise AssertionError("compact did not produce a new base snapshot")
    compacted = t.read()
    # the merged (pre-compact) and applied (post-compact) views must be
    # identical — return the post-compact read, but fail loudly if the
    # pre-compact anti-join view disagreed on the row count
    if merged.count() != compacted.count():
        raise AssertionError("MoR read != compacted read")
    return compacted


# --- a38: order-total reconciliation audit -------------------------------------

A38_ORACLE = """
WITH li AS (
  SELECT l_orderkey,
         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                             * (1 + l_tax) * 100.0 + 0.5) AS BIGINT))
              AS BIGINT) AS recomputed_cents,
         CAST(count(*) AS BIGINT) AS n_lines
  FROM lineitem GROUP BY 1
)
SELECT o.o_orderkey,
       CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS total_cents,
       CAST(COALESCE(li.recomputed_cents, 0) AS BIGINT) AS recomputed_cents,
       CAST(COALESCE(li.n_lines, 0) AS BIGINT) AS n_lines,
       CAST(COALESCE(li.recomputed_cents, 0)
            - CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT)
            AS BIGINT) AS diff_cents,
       CAST(COALESCE(li.recomputed_cents, 0)
            = CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT)
            AS INT) AS reconciled
FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
"""


@register(
    "a38_totalprice_reconciliation",
    A38_ORACLE,
    doc="denormalization-consistency audit: recompute each order's "
    "total from its line items (the TPC-H charge formula "
    "extendedprice * (1-discount) * (1+tax), summed in exact integer "
    "cents) and reconcile against the stored o_totalprice — the "
    "fact-vs-rollup drift check every warehouse runs after backfills. "
    "Every order is emitted with its diff so the audit is row-"
    "auditable, not just a count; orders with no line items reconcile "
    "only if their stored total is zero. One key shuffle (lineitem "
    "groupBy), orders side joins on the grouped frame; exact-cents "
    "discipline keeps the float product a fixed-shape mul chain with "
    "no FMA surface (no add inside, then one floor)",
)
def a38_totalprice_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    charge_cents = F.floor(
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * (F.lit(1.0) + F.col("l_tax"))
        * F.lit(100.0)
        + F.lit(0.5)
    ).cast("long")
    per_order = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.sum(charge_cents).cast("long").alias("recomputed_cents"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )
    total_cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
    return orders.join(per_order, "o_orderkey", "left").select(
        "o_orderkey",
        total_cents.alias("total_cents"),
        F.coalesce(F.col("recomputed_cents"), F.lit(0))
        .cast("long")
        .alias("recomputed_cents"),
        F.coalesce(F.col("n_lines"), F.lit(0)).cast("long").alias("n_lines"),
        (F.coalesce(F.col("recomputed_cents"), F.lit(0)) - total_cents)
        .cast("long")
        .alias("diff_cents"),
        (F.coalesce(F.col("recomputed_cents"), F.lit(0)) == total_cents)
        .cast("int")
        .alias("reconciled"),
    )


# --- k33: snapshot retention plan -------------------------------------------

_K33_KEEP_LAST = 7

K33_ORACLE = f"""
WITH v AS (
  SELECT DISTINCT o_orderdate AS version_ts FROM orders
), r AS (
  SELECT version_ts,
         CAST(row_number() OVER (ORDER BY version_ts DESC) AS BIGINT) AS rn,
         date_trunc('week', version_ts) AS wk
  FROM v
), older AS (
  SELECT * FROM r WHERE rn > {_K33_KEEP_LAST}
), wmax AS (
  SELECT wk, max(version_ts) AS wlatest FROM older GROUP BY wk
)
SELECT r.version_ts, r.rn,
       CASE WHEN r.rn <= {_K33_KEEP_LAST} THEN 'recent'
            WHEN r.version_ts = w.wlatest THEN 'weekly'
            ELSE 'expire' END AS keep_reason,
       CAST(CASE WHEN r.rn <= {_K33_KEEP_LAST} THEN 1
                 WHEN r.version_ts = w.wlatest THEN 1
                 ELSE 0 END AS INT) AS keep_flag
FROM r LEFT JOIN wmax w ON r.wk = w.wk
"""


@register(
    "k33_retention_plan",
    K33_ORACLE,
    doc="snapshot retention plan — the expire-snapshots policy every "
    "table format ships (keep the newest N, thin everything older to "
    "one snapshot per calendar week, expire the rest), computed as a "
    "PLAN (version, keep_reason, keep_flag) a vacuum job executes. "
    "Versions here are the distinct order dates standing in for a "
    "snapshot catalog. All ranking/thinning runs on the version-"
    "cardinality frame (a catalog is thousands of rows at any table "
    "size — whitelisted bounded global window, the k30/a35 class); "
    "the ISO Monday week boundary agrees between Spark and DuckDB "
    "date_trunc. Hand-solved boundary test in tests/test_warehouse.py",
)
def k33_retention_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    v = (
        table(spark, sf_dir, "orders")
        .select(F.col("o_orderdate").alias("version_ts"))
        .distinct()
    )
    r = v.select(
        "version_ts",
        F.row_number()
        .over(Window.orderBy(F.col("version_ts").desc()))
        .cast("long")
        .alias("rn"),
        F.date_trunc("week", F.col("version_ts")).alias("wk"),
    )
    older = r.filter(F.col("rn") > _K33_KEEP_LAST)
    wmax = older.groupBy("wk").agg(F.max("version_ts").alias("wlatest"))
    keep_reason = (
        F.when(F.col("rn") <= _K33_KEEP_LAST, F.lit("recent"))
        .when(F.col("version_ts") == F.col("wlatest"), F.lit("weekly"))
        .otherwise(F.lit("expire"))
    )
    return r.join(F.broadcast(wmax), "wk", "left").select(
        "version_ts",
        "rn",
        keep_reason.alias("keep_reason"),
        F.when(F.col("rn") <= _K33_KEEP_LAST, F.lit(1))
        .when(F.col("version_ts") == F.col("wlatest"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("keep_flag"),
    )
