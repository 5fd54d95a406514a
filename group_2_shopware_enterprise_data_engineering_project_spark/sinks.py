"""Sinks: hour-partitioned parquet (K1), partition registration (K9).
Partitioned append/overwrite (K2/K3) and the MERGE sinks (K4/K5) live
in operators/merge.py; quarantine/DLQ (K6/K7) in operators/validate.py.

K1 reference parity: the WEB/CRM lambdas group records by
(year, month, day, hour) of the event/ingestion time and write one
snappy parquet file per partition per micro-batch (reference
src/streaming/WEB/services/lambda/transformation.py:131-168,
src/streaming/CRM/services/consumer/lambda_function.py:159-195).
In Spark that is one ``partitionBy`` write — the dynamic partition
insert handles grouping, and Hive-style ``year=YYYY/month=MM/...``
directories come out identical to the reference layout.

K9: with a Hive-style layout the catalog needs new partitions
registered (reference src/streaming/WEB/services/lambda/s3toathena.py:67-76
issues ALTER TABLE ADD PARTITION per hour). Spark-side, MSCK REPAIR
discovers them all — or skip the problem entirely by reading the path.

Scale: a partitioned write shuffles nothing by itself, but thousands of
tasks x thousands of hour-partitions would emit a file per (task,
partition) pair. `compact=True` repartitions by the partition columns
first so each hour lands as one file per shuffle partition — the
many-small-files killer at 100 TB.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from group_2_shopware_enterprise_data_engineering_project_spark.functions.timefn import (
    hour_partition_cols,
)

HOUR_PARTITION_KEYS = ("year", "month", "day", "hour")


def with_hour_partitions(df: DataFrame, ts_col: str) -> DataFrame:
    """Add zero-padded (year, month, day, hour) columns from ts_col."""
    cols = hour_partition_cols(ts_col)
    for name, col in cols.items():
        df = df.withColumn(name, col)
    return df


def write_hour_partitioned(
    df: DataFrame,
    ts_col: str,
    path: str,
    mode: str = "append",
    compact: bool = True,
) -> None:
    """K1 — land rows under year=/month=/day=/hour= of `ts_col`.

    ``compact`` clusters rows by the partition keys with a REBALANCE
    hint (the merge.py `_write` idiom) rather than
    ``repartition(keys)``: same one-file-per-hour outcome on
    well-behaved data, but AQE can SPLIT an oversized hour instead of
    pinning it to a single writer task — at scale a hot hour is
    exactly where the straggler/OOM lives (falls back to
    repartition(keys) on an AQE-off session, where the hint would be
    silently dropped). ``compact=False`` keeps the incoming task
    layout (k12's deliberate small-file pathology)."""
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        _cluster_for_partitioned_write,
    )

    out = with_hour_partitions(df, ts_col)
    if compact:
        out = _cluster_for_partitioned_write(out, HOUR_PARTITION_KEYS)
    out.write.mode(mode).partitionBy(*HOUR_PARTITION_KEYS).parquet(path)


def read_hour_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a K1 layout back; partition columns come back as columns
    and partition-key equality predicates prune directories (P14).

    The partition keys are pinned to STRING via an explicit user
    schema so `month=07` stays the zero-padded STRING the reference's
    layout defines (type inference would parse it to int 7). Keeping
    the raw partition column — rather than re-deriving a padded string
    with lpad — is what keeps filters on it eligible for pruning: a
    predicate on a derived expression never reaches the scan's
    PartitionFilters. A user-specified schema also means NO session
    conf is touched (the previous partitionColumnTypeInference
    set-then-restore was a session-global mutation that could flip a
    concurrent reader's partition-column types mid-plan).
    """
    import os as _os

    from pyspark.sql.types import StringType, StructField, StructType

    # One leaf data file read as a single-file scan (no partition dirs
    # in its path => no partition columns, no inference) yields the
    # data schema; footer-only work, cheap at any scale.
    leaf = None
    for root, dirs, files in _os.walk(path):
        # never descend into committer staging (_temporary) or metadata
        # dirs — a half-written part file there has no footer and would
        # fail the schema probe (the old conf-based path only ever read
        # committed data)
        dirs[:] = [d for d in sorted(dirs) if not d.startswith(("_", "."))]
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                leaf = _os.path.join(root, f)
                break
        if leaf:
            break
    if leaf is None:
        raise FileNotFoundError(f"no parquet files under {path}")
    data_schema = spark.read.parquet(leaf).schema
    full = StructType(
        [f for f in data_schema.fields if f.name not in HOUR_PARTITION_KEYS]
        + [StructField(k, StringType(), True) for k in HOUR_PARTITION_KEYS]
    )
    return spark.read.schema(full).option("basePath", path).parquet(path)


def register_partitions(spark: SparkSession, table_name: str) -> None:
    """K9 — sync the catalog with on-disk Hive-style partitions.
    One statement replaces the reference's per-hour ALTER TABLE loop."""
    spark.sql(f"MSCK REPAIR TABLE {table_name}")


@dataclass
class CompactionStats:
    """Per-run compaction accounting (the numbers OPTIMIZE reports)."""

    leaves_touched: int
    leaves_skipped: int
    files_before: int
    files_after: int
    bytes_before: int


COMPACT_MIN_FILES = 2
COMPACT_CONCURRENCY = 16
_COMPACT_TMP = ".compact.tmp"
_COMPACT_OLD = ".compact.old"


def _leaf_parquet_dirs(path: str) -> list[str]:
    """Every directory under `path` that directly holds parquet files —
    the partition leaves of a Hive layout, or `path` itself for a flat
    table. In-flight compaction work dirs (*.compact.tmp/.old) are
    NEVER leaves — treating a stale one as a partition would compact
    garbage. Pure filesystem-metadata walk (at table scale this listing
    is the table manifest, the same planning input Delta's OPTIMIZE
    uses); no data is read."""
    leaves = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [
            d
            for d in dirs
            if not (d.endswith(_COMPACT_TMP) or d.endswith(_COMPACT_OLD))
        ]
        if any(f.endswith(".parquet") for f in files):
            leaves.append(root)
    return sorted(leaves)


def _recover_interrupted_compaction(path: str) -> None:
    """Crash recovery, run before planning: a leaf's `.compact.old`
    with the leaf itself MISSING means a crash hit between the two
    renames — restore the old data (rename back). A `.compact.old`
    with the leaf present means the swap completed but cleanup didn't
    — drop it. Stray `.compact.tmp` dirs are always incomplete
    rewrites — drop them. After this pass the table is exactly its
    pre-crash committed state and the run proceeds normally
    (idempotent resume)."""
    for root, dirs, _files in os.walk(path):
        for d in list(dirs):
            full = os.path.join(root, d)
            if d.endswith(_COMPACT_TMP):
                shutil.rmtree(full, ignore_errors=True)
                dirs.remove(d)
            elif d.endswith(_COMPACT_OLD):
                leaf = full[: -len(_COMPACT_OLD)]
                if os.path.exists(leaf):
                    shutil.rmtree(full, ignore_errors=True)
                else:
                    os.rename(full, leaf)
                dirs.remove(d)


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> CompactionStats:
    """K12 (beyond-reference) — small-file compaction, the table
    maintenance that keeps a streamed-into / frequently-merged table
    scannable: each partition leaf with >= ``COMPACT_MIN_FILES`` files is
    rewritten into ceil(bytes / target_file_bytes) files.

    Why it matters at 100 TB: a micro-batch landing one file per
    (task x partition x trigger) makes a day's hot partition thousands
    of small files, and scan cost becomes per-file overhead (open +
    footer + seek) instead of bytes. Compaction restores
    ~target-sized files so `maxPartitionBytes` splitting works again.

    Shape: PLANNING is driver-side filesystem metadata (file counts +
    sizes — never data); each leaf REWRITE is a distributed
    read→repartition(n)→write of only that leaf, so per-leaf task
    memory is bounded by target_file_bytes regardless of table size.
    Leaves are independent, so rewrites are submitted as
    ``COMPACT_CONCURRENCY`` CONCURRENT Spark jobs (the Spark scheduler
    interleaves them across executors) — a sequential leaf loop would
    serialize thousands of sub-second jobs behind driver latency,
    which is the actual bottleneck of naive compactors.

    Crash contract (honest version): the per-leaf swap is
    write-to-temp + two renames, which is NOT a single atomic step —
    a crash between the renames leaves the leaf's data parked in
    `<leaf>.compact.old`. Every run therefore begins with a recovery
    pass that restores parked leaves and drops incomplete temp dirs,
    so data is never lost and a re-run resumes idempotently; but a
    concurrent READER during the swap window can see the leaf absent.
    Run compaction when the table has no concurrent readers, or put a
    snapshot/manifest layer in front (operators/merge.py's
    ParquetUpsertTable does exactly that — its manifest swap IS
    atomic).
    """
    from concurrent.futures import ThreadPoolExecutor

    stats = CompactionStats(0, 0, 0, 0, 0)
    _recover_interrupted_compaction(path)
    plans: list[tuple[str, int]] = []  # (leaf, n_out) needing rewrite
    for leaf in _leaf_parquet_dirs(path):
        files = glob.glob(os.path.join(leaf, "*.parquet"))
        n_bytes = sum(os.path.getsize(f) for f in files)
        stats.files_before += len(files)
        stats.bytes_before += n_bytes
        n_out = max(1, math.ceil(n_bytes / target_file_bytes))
        if len(files) < COMPACT_MIN_FILES or n_out >= len(files):
            stats.leaves_skipped += 1
            stats.files_after += len(files)
        else:
            plans.append((leaf, n_out))

    def rewrite(plan: tuple[str, int]) -> int:
        leaf, n_out = plan
        tmp = leaf + _COMPACT_TMP
        old = leaf + _COMPACT_OLD
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        spark.read.parquet(leaf).repartition(n_out).write.mode(
            "overwrite"
        ).parquet(tmp)
        # commit point: two renames; readers see old files or new, never
        # a mixture (rename is atomic per directory on one filesystem)
        os.rename(leaf, old)
        os.rename(tmp, leaf)
        shutil.rmtree(old)
        return len(glob.glob(os.path.join(leaf, "*.parquet")))

    if plans:
        with ThreadPoolExecutor(max_workers=COMPACT_CONCURRENCY) as pool:
            for n_files_after in pool.map(rewrite, plans):
                stats.leaves_touched += 1
                stats.files_after += n_files_after
    return stats


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int,
    sort_cols: tuple[str, ...] = (),
) -> None:
    """Hash-bucketed catalog table: co-locates rows by join/agg key at
    WRITE time so repeated equi-joins and groupBys on the bucket key
    read back shuffle-free — both sides of a bucketed⋈bucketed join
    (same key, same bucket count) skip their Exchange entirely, the
    pre-partitioning strategy for fact⋈fact joins too big to broadcast.
    Pinned by tests/test_partitioning.py::test_bucketed_join_elides_both_exchanges.

    `sort_cols` additionally sorts within buckets (sort-merge joins then
    skip the per-task sort as well).
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


# --- training shard writer (dataloader-facing output contract) -------------


def write_training_shards(
    df: DataFrame,
    path: str,
    shard_col: str = "shard",
    max_records_per_file: int | None = None,
) -> dict:
    """Write a corpus as numbered training shards + a JSON manifest —
    the contract a distributed dataloader consumes (shard list with
    row counts, so workers can split work without listing storage).

    One shuffle on the shard id (each shard lands as one task's
    write, so shard files are contiguous and shard-local);
    ``max_records_per_file`` caps file size for streaming loaders.
    The manifest is written LAST, so a partial job leaves no manifest
    and a consumer never sees an incomplete shard set (the same
    commit-marker discipline as the snapshot store).

    Returns the manifest dict: {"shards": [{shard, n_rows, files}...],
    "total_rows": N}.
    """
    import json

    w = (
        df.repartition(F.col(shard_col))
        .write.mode("overwrite")
        .partitionBy(shard_col)
    )
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(path)

    spark = df.sparkSession
    back = spark.read.parquet(path)
    counts = {
        r["shard"]: r["n"]
        for r in back.groupBy(F.col(shard_col).alias("shard"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    shards = []
    for shard in sorted(counts):
        files = sorted(
            os.path.basename(f)
            for f in glob.glob(os.path.join(path, f"{shard_col}={shard}", "*.parquet"))
        )
        shards.append(
            {"shard": int(shard), "n_rows": int(counts[shard]), "files": files}
        )
    manifest = {"shards": shards, "total_rows": int(sum(counts.values()))}
    tmp = os.path.join(path, "_MANIFEST.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(path, "_MANIFEST.json"))
    return manifest
