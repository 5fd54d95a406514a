"""MERGE/upsert operators (K4 replace, K5 additive).

The reference uses Delta Lake MERGE (reference
inventory_transform.py:265-275 replace; transfom_pos.py:140-152
additive). This module is the pure-Spark equivalent SURVEY §4
specifies: union + window keep-priority (K4) / union + re-aggregate
(K5), stored in `ParquetUpsertTable`, whose manifest swap stands in
for the Delta log's atomic commit.

Scale notes: both pure-Spark forms are one shuffle on the merge key —
the same cost profile as Delta's join-based MERGE. The physical
rewrite-the-table step is inherent to upserts on immutable storage;
Delta/Iceberg make it transactional, the parquet fallback makes it
explicit (write new snapshot, swap). At 100 TB you'd partition the
target so the MERGE only rewrites touched partitions — `partition_by`
threads through to the writer for exactly that.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _align_to(df: DataFrame, ref: DataFrame) -> DataFrame:
    """Project df onto ref's column set: columns df lacks appear as
    typed NULLs, columns ref lacks are dropped, order matches ref."""
    have = set(df.columns)
    out = df
    for c in ref.columns:
        if c not in have:
            out = out.withColumn(c, F.lit(None).cast(ref.schema[c].dataType))
    return out.select(*ref.columns)


def evolve_schemas(
    target: DataFrame, source: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Schema evolution for MERGE (Delta's autoMerge semantics): the
    merged schema is the union of both; new source columns read as NULL
    in historical rows, columns the source dropped read as NULL in new
    rows. Pure projection — no data rewrite beyond the merge itself."""
    t_have, s_have = set(target.columns), set(source.columns)
    for c in source.columns:
        if c not in t_have:
            target = target.withColumn(
                c, F.lit(None).cast(source.schema[c].dataType)
            )
    for c in target.columns:
        if c not in s_have:
            source = source.withColumn(
                c, F.lit(None).cast(target.schema[c].dataType)
            )
    return target, source.select(*target.columns)


def snapshot_diff(
    old: DataFrame, new: DataFrame, key_cols: tuple[str, ...]
) -> DataFrame:
    """CDC classification between two table states: one row per
    changed key with ``_change_type`` in (insert, update, delete) and
    the row's columns (post-image; pre-image for deletes). Unchanged
    keys emit nothing.

    Distributed: full-outer join on the key comparing non-key columns
    as single structs with NULL-SAFE equality (plain != on a
    NULL-bearing struct yields NULL and would silently drop the row) —
    one shuffle, no collect, any snapshot size. If schemas evolved,
    pass ``old`` already aligned (see ``_align_to``).
    """
    keys = list(key_cols)
    data_cols = [c for c in new.columns if c not in key_cols]
    o = old.select(*keys, F.struct(*data_cols).alias("_old"))
    n = new.select(*keys, F.struct(*data_cols).alias("_new"))
    j = o.join(n, keys, "full_outer")
    change = (
        F.when(F.col("_old").isNull(), "insert")
        .when(F.col("_new").isNull(), "delete")
        .when(~F.col("_old").eqNullSafe(F.col("_new")), "update")
    )
    img = F.coalesce(F.col("_new"), F.col("_old"))
    return (
        j.withColumn("_change_type", change)
        .filter(F.col("_change_type").isNotNull())
        .select(
            *keys,
            "_change_type",
            *[img.getField(c).alias(c) for c in data_cols],
        )
    )


def snapshot_diff_images(
    old: DataFrame, new: DataFrame, key_cols: tuple[str, ...]
) -> DataFrame:
    """Delta-CDF-shaped change stream: one row per image with
    ``_change_type`` in (insert, delete, update_preimage,
    update_postimage). Updates emit BOTH images — the shape downstream
    incremental maintenance needs, since retracting an update requires
    the pre-image that ``snapshot_diff``'s single post-image row drops.

    Same single full-outer shuffle as ``snapshot_diff``; the image
    fan-out is a per-row explode of at most 2 structs (map-side, no
    extra exchange).
    """
    keys = list(key_cols)
    data_cols = [c for c in new.columns if c not in key_cols]
    o = old.select(*keys, F.struct(*data_cols).alias("_old"))
    n = new.select(*keys, F.struct(*data_cols).alias("_new"))
    j = o.join(n, keys, "full_outer")
    pair = lambda t, img: F.struct(  # noqa: E731
        F.lit(t).alias("t"), img.alias("img")
    )
    images = (
        F.when(F.col("_old").isNull(), F.array(pair("insert", F.col("_new"))))
        .when(F.col("_new").isNull(), F.array(pair("delete", F.col("_old"))))
        .when(
            ~F.col("_old").eqNullSafe(F.col("_new")),
            F.array(
                pair("update_preimage", F.col("_old")),
                pair("update_postimage", F.col("_new")),
            ),
        )
    )
    e = j.select(*keys, F.explode(images).alias("_e"))
    return e.select(
        *keys,
        F.col("_e.t").alias("_change_type"),
        *[F.col("_e.img").getField(c).alias(c) for c in data_cols],
    )


def incremental_agg(
    base_agg: DataFrame,
    changes: DataFrame,
    group_cols: tuple[str, ...],
    value_col: str = "value",
) -> DataFrame:
    """Incremental view maintenance for a decomposable aggregate
    (count n_rows + integer-cents sum value_cents per group): apply a
    ``snapshot_diff_images`` change stream to a previously materialized
    aggregate WITHOUT rescanning the base table — the cost is
    O(changed rows), not O(table). insert/update_postimage contribute
    +1/+cents, delete/update_preimage retract -1/-cents; groups whose
    maintained count reaches zero drop (exactly what a recompute would
    produce). At 100 TB this turns an hourly full-table re-aggregation
    into a delta-sized job; the result is BIT-IDENTICAL to a fresh
    aggregate because the cents sums are order-free BIGINTs (the k13
    oracle proves maintained == recomputed).

    One map-side-combining shuffle over the changes, broadcast-or-
    shuffle merge with the (group-cardinality-sized) base aggregate.
    """
    gcols = list(group_cols)
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    cents = F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("long")
    delta = changes.groupBy(*gcols).agg(
        F.sum(sign).cast("long").alias("_dn"),
        F.sum(sign * cents).cast("long").alias("_dc"),
    )
    # NULL-SAFE group equality: groupBy treats NULL as a real group, so
    # the merge join must too — a plain `on=gcols` full outer would
    # never match NULL groups and emit two divergent rows for them
    # (groupBy-vs-join NULL semantics mismatch).
    b, d = base_agg.alias("_b"), delta.alias("_d")
    cond = None
    for g in gcols:
        eq = F.col(f"_b.{g}").eqNullSafe(F.col(f"_d.{g}"))
        cond = eq if cond is None else (cond & eq)
    merged = b.join(d, cond, "full_outer").select(
        *[
            F.when(
                F.col("_dn").isNotNull(), F.col(f"_d.{g}")
            ).otherwise(F.col(f"_b.{g}")).alias(g)
            for g in gcols
        ],
        (
            F.coalesce(F.col("n_rows"), F.lit(0))
            + F.coalesce(F.col("_dn"), F.lit(0))
        ).alias("n_rows"),
        (
            F.coalesce(F.col("value_cents"), F.lit(0))
            + F.coalesce(F.col("_dc"), F.lit(0))
        ).alias("value_cents"),
    )
    return merged.filter(F.col("n_rows") > 0)


def merge_replace(
    target: DataFrame,
    source: DataFrame,
    key_cols: tuple[str, ...],
    order_col: str | None = None,
    *tiebreak_desc_cols: str,
) -> DataFrame:
    """K4 — whenMatchedUpdateAll / whenNotMatchedInsertAll semantics
    (reference inventory_transform.py:265-275): source row replaces the
    target row with the same key; unmatched source rows insert.

    If `order_col` is given, ties are resolved by recency (the
    inventory pipeline dedups source to latest-per-key first — this
    folds that into the merge); otherwise source strictly wins.
    Single shuffle on key_cols.
    """
    s = source.withColumn("_pri", F.lit(1))
    t = target.withColumn("_pri", F.lit(2))
    u = s.unionByName(t)
    order = [F.col("_pri").asc()]
    if order_col:
        order = [F.col("_pri").asc(), F.col(order_col).desc()] + [
            F.col(c).desc() for c in tiebreak_desc_cols
        ]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        u.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_pri")
    )


def merge_additive(
    target: DataFrame,
    source: DataFrame,
    key_cols: tuple[str, ...],
    sum_cols: tuple[str, ...],
) -> DataFrame:
    """K5 — accumulating KPI merge (reference transfom_pos.py:140-152):
    on key match `total = target.total + source.total`, else insert.
    Union + re-aggregate: order-independent, idempotent per batch,
    one shuffle on key_cols.
    """
    cols = list(key_cols) + list(sum_cols)
    u = target.select(*cols).unionByName(source.select(*cols))
    return u.groupBy(*key_cols).agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    )


_MANIFEST = "_MANIFEST.json"
_COMMIT_STAMP = "_COMMITTED_AT.json"
_SCHEMA = "_SCHEMA.json"
_SNAPSHOT_RE = re.compile(r"^v(\d{6})$")


# Below this Catalyst size estimate a partitioned write's cost is the
# per-FILE writer machinery (parquet writer open + footer + commit
# rename per partition value, ~10-20 ms each), not bytes — the regime
# where AQE's byte-based coalescing picks too few writer tasks. At or
# under this bound a full-cores fan-out is always safe: even a
# maximally hot value pins at most the whole (small) frame on one task.
_SMALL_WRITE_MAX_BYTES = 256 << 20


def _cluster_for_partitioned_write(
    df: DataFrame, partition_by: tuple[str, ...]
) -> DataFrame:
    """Cluster rows by the partition columns ahead of a partitioned
    write. Three regimes, picked from metadata only (no job):

    - AQE off: plain repartition(cols) — the REBALANCE hint is
      resolved by ResolveCoalesceHints ONLY when
      spark.sql.adaptive.enabled is true; silently dropping it would
      revert the write to one file per (task, value).
    - Small frame (Catalyst estimate <= _SMALL_WRITE_MAX_BYTES):
      repartition(n, cols) with the session's shuffle-partition count
      EXPLICIT, which AQE does not coalesce. Byte-based coalescing is
      wrong in this regime: a frame a few MB over the 1 MB
      minPartitionSize floor coalesces to 1-3 writer tasks that then
      write hundreds of partition-value files SERIALLY (measured at
      sf0.1: the 720-hour K1 write ran as 3 tasks, ~15 s of executor
      time that 32 tasks spread to ~0.5 s wall) — the per-file writer
      machinery, invisible to byte statistics, dominates. Hot-value
      pinning is harmless here by construction (one task holds at most
      the whole small frame).
    - Large frame: REBALANCE by the partition columns — AQE coalesces
      small value groups AND splits oversized ones, so at scale a hot
      value never pins a single writer task.

    Shared by merge.py's `_write` and sinks.write_hour_partitioned."""
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.hints import (
        estimated_plan_bytes,
    )

    spark = df.sparkSession
    aqe = str(spark.conf.get("spark.sql.adaptive.enabled", "true")).lower()
    if aqe != "true":
        return df.repartition(*[F.col(c) for c in partition_by])
    if estimated_plan_bytes(df) <= _SMALL_WRITE_MAX_BYTES:
        n = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        return df.repartition(n, *[F.col(c) for c in partition_by])
    return df.hint("rebalance", *partition_by)


class ParquetUpsertTable:
    """A partitioned parquet table with MERGE semantics and an atomic
    snapshot commit — the pure-Spark stand-in for the reference's Delta
    tables (which get this from the Delta log; reference
    inventory_transform.py:265-275).

    Layout: ``path/_MANIFEST.json`` names the active snapshot subdir
    (``v000001``, ``v000002``, ...); a table exists exactly when its
    manifest does. Full-table merges write the merged result to a NEW
    snapshot directory while the old one is still being read (no
    read-overwrite hazard, no defensive materialization), then commit
    by atomically replacing the manifest (``os.replace``, `_commit` —
    the only manifest writer). A crash at any point before the manifest
    swap leaves the previous snapshot fully intact; orphaned
    half-written snapshot dirs are overwritten by the next merge and
    pruned after commit. Single-writer by design — same as the
    reference's per-pipeline Delta tables.

    Partition-scoped merges (`_scoped_merge`) still rewrite touched
    partitions in place inside the active snapshot: that path's rewrite
    surface is the batch's partitions only, and Spark's committer stages
    files in ``_temporary`` until job commit, so old files are replaced
    only at the final rename step. A txn-guarded merge never takes it:
    its batch id must commit in the same manifest swap as its data.
    """

    def __init__(
        self,
        spark,
        path: str,
        partition_by: tuple[str, ...] = (),
        clock=None,
    ):
        self.spark = spark
        self.path = path
        self.partition_by = tuple(partition_by)
        # injectable commit clock (epoch seconds) so timestamp time
        # travel is testable with a pinned clock
        self._clock = clock or time.time
        # the manifest's stored spec (written by every commit) is
        # authoritative for an EXISTING table: a re-opened handle keeps
        # writing the committed layout even if constructed without
        # partition_by. Changing the spec goes through
        # `evolve_partitioning`, never the constructor — a CONFLICTING
        # explicit argument is an error, not a silent override in
        # either direction.
        stored = self._read_manifest()
        if stored is None:
            # Only this class creates tables, so a directory holding
            # data but no manifest is not one of them; the first commit
            # would hide it behind v000001. Hidden names and snapshot
            # dirs (an orphan left by a crash before the first swap)
            # are not data and stay writable.
            if os.path.isdir(path) and any(
                not (n.startswith(("_", ".")) or _SNAPSHOT_RE.match(n))
                for n in os.listdir(path)
            ):
                raise ValueError(
                    f"{path} holds files but no {_MANIFEST}; it is not a "
                    "table this class committed"
                )
        elif "partition_by" in stored:
            stored_spec = tuple(stored["partition_by"])
            if partition_by and tuple(partition_by) != stored_spec:
                raise ValueError(
                    f"table at {path} is committed with partition spec "
                    f"{stored_spec}, not {tuple(partition_by)}; use "
                    "evolve_partitioning to change the layout"
                )
            self.partition_by = stored_spec

    def _begin_write(self, txn: tuple[str, int] | None = None) -> bool:
        """Prologue of every write. Re-adopts the manifest's stored
        partition spec: another handle may have evolved the layout since
        this one was constructed, and writing with a stale in-memory
        spec would either silently revert the evolution (snapshot path)
        or mix layouts inside the active snapshot (scoped path). Returns
        False when ``txn`` is a replay — its batch id is already
        committed — and the write must be a no-op."""
        m = self._read_manifest()
        if m is not None and "partition_by" in m:
            self.partition_by = tuple(m["partition_by"])
        return txn is None or txn[1] > self.last_txn(txn[0])

    # -- snapshot bookkeeping (driver-side O(1) metadata ops) ------------

    def _manifest_file(self) -> str:
        return os.path.join(self.path, _MANIFEST)

    def _active(self) -> tuple[int, str] | None:
        """(version, snapshot dir) of the committed snapshot, or None."""
        m = self._read_manifest()
        try:
            return int(m["version"]), os.path.join(self.path, m["dir"])
        except (TypeError, ValueError, KeyError):
            return None

    def _data_dir(self) -> str | None:
        """Directory of the committed snapshot, or None before the
        first commit."""
        act = self._active()
        return act[1] if act else None

    def _read_manifest(self) -> dict | None:
        try:
            with open(self._manifest_file()) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def _commit(
        self,
        version: int,
        dir_name: str,
        txn: tuple[str, int] | None = None,
    ) -> None:
        """Atomically point the manifest at a fully-written snapshot.
        os.replace is atomic on POSIX — readers see either the old or
        the new manifest, never a partial one. A per-snapshot commit
        stamp is written first (inside the snapshot dir) so
        `read_as_of` can map timestamps to versions for every retained
        snapshot, not only the active one.

        ``txn=(app_id, batch_id)`` stamps a streaming transaction in
        the SAME manifest write (the Delta txn appId/version pattern):
        data swap and batch-id record are one atomic os.replace, so a
        crash can never commit data without its batch id — the
        exactly-once property `accumulating_kpi_sink` relies on.
        Existing txn stamps from other app_ids are carried forward —
        a read-modify-write, so two CONCURRENT writers could each drop
        the other's stamp (the class is single-writer)."""
        stamp = os.path.join(self.path, dir_name, _COMMIT_STAMP)
        with open(stamp, "w") as f:
            json.dump({"committed_at": float(self._clock())}, f)
        prev = self._read_manifest() or {}
        txns = dict(prev.get("txns", {}))
        if txn is not None:
            txns[txn[0]] = int(txn[1])
        tmp = self._manifest_file() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "version": version,
                    "dir": dir_name,
                    "txns": txns,
                    # committed alongside the data it describes: a
                    # re-opened handle writes the same layout, and
                    # `evolve_partitioning` changes it atomically with
                    # the rewritten snapshot
                    "partition_by": list(self.partition_by),
                },
                f,
            )
        os.replace(tmp, self._manifest_file())

    def last_txn(self, app_id: str) -> int:
        """Last batch id committed for ``app_id`` (-1 if none) — read
        from the manifest, where it was stamped atomically with the
        data it belongs to."""
        m = self._read_manifest() or {}
        try:
            return int(m.get("txns", {}).get(app_id, -1))
        except (TypeError, ValueError):
            return -1

    def _committed_at(self, version: int) -> float:
        """Commit time of a retained snapshot; falls back to the dir
        mtime for snapshots written before commit stamps existed."""
        d = os.path.join(self.path, f"v{version:06d}")
        try:
            with open(os.path.join(d, _COMMIT_STAMP)) as f:
                return float(json.load(f)["committed_at"])
        except (OSError, ValueError, KeyError):
            return os.path.getmtime(d)

    def _prune(self, keep: int = 2) -> None:
        """Drop snapshot dirs older than the last `keep` (the active one
        plus one rollback). Best-effort: pruning failures never fail the
        committed merge."""
        act = self._active()
        if act is None:
            return
        for name in os.listdir(self.path):
            m = _SNAPSHOT_RE.match(name)
            if m and int(m.group(1)) <= act[0] - keep:
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)

    def _snapshot_write(
        self, df: DataFrame, txn: tuple[str, int] | None = None, audit=None
    ):
        """Write df as the next snapshot, then commit + prune. The write
        streams from the old snapshot (lazy) — safe because it targets a
        different directory. ``audit`` (optional) gets the staged
        snapshot as read back from disk before the commit; raising
        there leaves the active snapshot untouched. Returns its
        result."""
        act = self._active()
        version = (act[0] + 1) if act else 1
        dir_name = f"v{version:06d}"
        dest = os.path.join(self.path, dir_name)
        self._stage(df, dest)
        result = audit(self.spark.read.parquet(dest)) if audit else None
        self._commit(version, dir_name, txn=txn)
        self._prune()
        return result

    def _stage(self, df: DataFrame, dest: str) -> None:
        """Write df as a new snapshot dir, not yet committed. The dir
        also keeps df's schema in read order (partition columns last):
        an empty frame written partitioned leaves no data file to infer
        it from (see `read`)."""
        self._write(df, "overwrite", dest)
        schema = T.StructType(
            [f for f in df.schema if f.name not in self.partition_by]
            + [f for f in df.schema if f.name in self.partition_by]
        )
        with open(os.path.join(dest, _SCHEMA), "w") as f:
            f.write(schema.json())

    def exists(self) -> bool:
        """True once a snapshot is committed — a manifest read, no job."""
        return self._active() is not None

    def read(self) -> DataFrame:
        """The committed snapshot. One committed from an empty frame
        with partition columns has no data files (Spark writes none), so
        Spark cannot infer its schema; it reads as an empty frame of the
        schema `_stage` kept, and later merges and appends build on it
        like on any other snapshot."""
        data_dir = self._data_dir()
        if data_dir is None:
            raise ValueError(f"no committed table at {self.path}")
        try:
            return self.spark.read.parquet(data_dir)
        except AnalysisException:
            schema_file = os.path.join(data_dir, _SCHEMA)
            if self._data_files() or not os.path.exists(schema_file):
                raise
            with open(schema_file) as f:
                schema = T.StructType.fromJson(json.load(f))
            return self.spark.createDataFrame([], schema)

    def _data_files(self) -> list[tuple[str, int]]:
        """(path, size) of every data file a `read()` scans, listed the
        way Spark's file index does: names starting with ``_`` (unless
        they hold ``=``) or ``.`` are hidden — ``_temporary`` staging,
        ``_SUCCESS``, ``.crc`` — and only partition directories
        (``col=value``) are descended. Local-filesystem walk by design
        (this table's commit protocol is os.replace); an object-store
        port would read the same listing its reader does."""
        files: list[tuple[str, int]] = []

        def walk(d: str) -> None:
            with os.scandir(d) as entries:
                for e in entries:
                    n = e.name
                    if (n.startswith("_") and "=" not in n) or n.startswith("."):
                        continue
                    if e.is_dir():
                        if "=" in n:
                            walk(e.path)
                    else:
                        files.append((e.path, e.stat().st_size))

        root = self._data_dir()
        if root is not None and os.path.isdir(root):
            walk(root)
        return files

    def data_bytes(self) -> int:
        """On-disk bytes of the committed snapshot's data files — a
        metadata-only size probe (no Spark job, no scan), the same
        signal Iceberg/Delta keep in their manifests to size-gate
        broadcast decisions."""
        return sum(size for _path, size in self._data_files())

    def row_count(self) -> int:
        """Rows of the committed snapshot, summed from the parquet
        footers of its data files on the driver — the same number as
        ``read().count()`` without its schema-inference and count jobs
        (Iceberg/Delta keep per-file row counts in their manifests for
        the same reason). Zero-byte files hold no rows (Spark's reader
        skips them too)."""
        import pyarrow.parquet as pq

        return sum(
            pq.read_metadata(path).num_rows
            for path, size in self._data_files()
            if size > 0
        )

    # -- time travel + CDC over retained snapshots -----------------------

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Explicit retention control (the Delta VACUUM analog): drop
        all but the newest `keep_last` committed snapshots and return
        the versions removed. keep_last >= 1 always — the active
        snapshot is never removable (time travel to vacuumed versions
        raises, exactly like a vacuumed Delta table). Merges already
        auto-prune to a depth-2 rollback window; vacuum is for
        reclaiming space on long-retention tables or tightening to
        keep_last=1 before an archival copy."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (active snapshot stays)")
        before = self.versions()
        self._prune(keep=keep_last)
        return [v for v in before if v not in self.versions()]

    def versions(self) -> list[int]:
        """Committed snapshot versions still on disk, oldest first.
        Excludes orphaned future dirs (written but never committed —
        a crash between write and manifest swap leaves one)."""
        act = self._active()
        if act is None:
            return []
        found = []
        for name in os.listdir(self.path):
            m = _SNAPSHOT_RE.match(name)
            if m and int(m.group(1)) <= act[0]:
                found.append(int(m.group(1)))
        return sorted(found)

    def read_as_of(self, as_of: float) -> DataFrame:
        """Timestamp time travel (the Delta `timestampAsOf` analog):
        read the newest retained snapshot committed at or before
        ``as_of`` (epoch seconds). Raises if every retained snapshot
        is newer — exactly like Delta when the requested time predates
        the earliest available version."""
        eligible = [
            v for v in self.versions() if self._committed_at(v) <= as_of
        ]
        if not eligible:
            raise ValueError(
                f"no retained snapshot committed at or before {as_of}; "
                f"earliest retained: "
                f"{[(v, self._committed_at(v)) for v in self.versions()]}"
            )
        return self.read_version(max(eligible))

    def read_version(self, version: int) -> DataFrame:
        """Time travel: read a retained snapshot (the active version
        plus the rollback window `_prune` keeps). The Delta/Iceberg
        `versionAsOf` idea, done with the manifest layout."""
        if version not in self.versions():
            raise ValueError(
                f"version {version} not retained; available: {self.versions()}"
            )
        return self.spark.read.parquet(
            os.path.join(self.path, f"v{version:06d}")
        )

    def table_changes(
        self, v_from: int, v_to: int, key_cols: tuple[str, ...]
    ) -> DataFrame:
        """CDC between two retained snapshots: one row per changed key
        with ``_change_type`` in (insert, update, delete) plus the
        row's current columns (post-image; pre-image for deletes).

        Distributed: a full-outer join on the key comparing non-key
        columns as single structs with null-safe equality — one
        shuffle, no collect, works at any snapshot size. This is the
        incremental-consumer primitive (Delta CDF's role): downstream
        jobs process table deltas instead of re-reading 100 TB.
        """
        old, new = self.read_version(v_from), self.read_version(v_to)
        old = _align_to(old, new)  # evolved columns read as NULL pre-image
        return snapshot_diff(old, new, key_cols)

    def _write(
        self,
        df: DataFrame,
        mode: str,
        dest: str,
        options: dict[str, str] | None = None,
    ) -> None:
        if self.partition_by:
            # Cluster rows by the partition columns before a partitioned
            # write: without this every write task holds rows of many
            # partition values and emits one file per (task, value) —
            # tasks x values tiny files per write (measured at sf0.1:
            # 366 files for a 58-date snapshot; 1,856 on a 58-value
            # synthetic). REBALANCE (not repartition) so AQE both
            # coalesces small partition groups AND splits oversized
            # ones — a hot partition value never pins a single writer
            # task the way repartition(cols) would at scale. The hint
            # only RESOLVES under AQE (ResolveCoalesceHints guards
            # REBALANCE on adaptiveExecutionEnabled) — on an AQE-off
            # session it would be silently dropped and the write would
            # revert to the tasks x values pathology, so fall back to
            # repartition(cols) there (clustering preserved; only the
            # hot-value split is lost, which AQE-off forfeits anyway).
            df = _cluster_for_partitioned_write(df, self.partition_by)
        w = df.write.mode(mode)
        for k, v in (options or {}).items():
            w = w.option(k, v)
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(dest)

    def _scoped_merge(self, source: DataFrame, merge_fn) -> None:
        """Partition-scoped MERGE: read, merge, and dynamically
        overwrite ONLY the partitions the source touches — the rewrite
        surface is per-batch data volume, not table volume (at 100 TB
        the difference between the two is the whole ballgame).

        Only valid when every partition column is part of the merge
        key (`_partition_scoped_ok`): then a key can never move between
        partitions, so rows in untouched partitions are provably
        unaffected. Otherwise callers take the full merge, which is
        also what Delta's join-based MERGE does absent file pruning."""
        touched = source.select(*self.partition_by).distinct()
        merged = merge_fn(
            self.read().join(F.broadcast(touched), list(self.partition_by), "semi")
        )
        merged = merged.localCheckpoint(eager=True)
        # Dynamic partition overwrite as a PER-WRITE DataFrameWriter
        # option (takes precedence over the session conf since Spark
        # 2.4 / SPARK-25107) — the previous set-then-restore of the
        # session-global conf raced under concurrent harnesses: another
        # thread's overwrite landing inside the window would wipe
        # untouched partitions (or this one would, if the restore ran
        # first). No session state is mutated now.
        self._write(
            merged,
            "overwrite",
            self._data_dir(),
            options={"partitionOverwriteMode": "dynamic"},
        )

    def _partition_scoped_ok(
        self, key_cols: tuple[str, ...], txn: tuple[str, int] | None
    ) -> bool:
        """Scoped merges rewrite partitions in place, outside any
        manifest swap, so a txn-guarded merge never takes them."""
        return (
            txn is None
            and bool(self.partition_by)
            and set(self.partition_by) <= set(key_cols)
        )

    def create_or_overwrite(
        self, df: DataFrame, txn: tuple[str, int] | None = None
    ) -> None:
        """K3 — first-write bootstrap (reference transfom_pos.py:156-159).
        Snapshot-committed, so overwriting an existing table is atomic;
        ``txn=`` rides the same manifest swap (a replay is a no-op)."""
        if self._begin_write(txn):
            self._snapshot_write(df, txn=txn)

    def append(self, df: DataFrame) -> None:
        """K2 — partitioned append (reference transfom_pos.py:165-168).
        Appends add files to the active snapshot; existing files are
        never rewritten, so a crash leaves at worst staged _temporary
        files, not data loss."""
        self._begin_write()
        if not self.exists():
            self._snapshot_write(df)
            return
        self._write(df, "append", self._data_dir())

    def compact(self, target_partitions: int | None = None) -> None:
        """Small-files compaction: rewrite the table as a NEW snapshot
        with coalesced files, committed atomically — readers of the old
        snapshot are unaffected until the manifest swap. Many small
        appends / per-batch merges accrete files; at scale the fix is a
        maintenance rewrite (Delta OPTIMIZE's role), which the versioned
        snapshot layout makes safe to run online.

        For a partitioned table rows are re-clustered by the partition
        columns (the REBALANCE in `_write`) so each partition value
        lands as ~one right-sized file; `target_partitions` bounds the
        file count for the unpartitioned case (default:
        spark.sql.shuffle.partitions).
        """
        self._begin_write()
        df = self.read()
        if not self.partition_by:
            df = (
                df.repartition(target_partitions)
                if target_partitions
                else df.coalesce(
                    int(self.spark.conf.get("spark.sql.shuffle.partitions", "200"))
                )
            )
        self._snapshot_write(df)

    def write_audit_publish(self, df: DataFrame, audit_fn) -> DataFrame:
        """Write-audit-publish (Iceberg WAP / DLT-expectations role):
        STAGE the next snapshot on disk, AUDIT the staged files, and
        PUBLISH (the atomic manifest commit) only if every constraint
        passed. ``audit_fn`` maps the staged DataFrame to a report
        with a boolean ``passed`` column (e.g.
        ``validate.expectation_report``); any False row raises and
        leaves the ACTIVE snapshot untouched — readers never see
        unaudited data, and the failed staging dir is simply
        overwritten by the next write (same orphan story as a crashed
        merge).

        The audit deliberately runs against the STAGED PARQUET, not
        the input plan: what gets audited is byte-for-byte what
        readers would see, so writer-side surprises (schema coercion,
        shortest-repr roundtrips) are inside the checked surface.
        Returns the audit report of a successful publish."""

        def audit(staged: DataFrame) -> DataFrame:
            report = audit_fn(staged)
            failures = [
                r.constraint_name
                for r in report.filter(~F.col("passed")).collect()
            ]
            if failures:
                raise ValueError(
                    f"audit failed, snapshot NOT published: {failures}"
                )
            return report

        self._begin_write()
        return self._snapshot_write(df, audit=audit)

    def delete_where(self, condition) -> None:
        """DELETE: commit a new snapshot without the matching rows —
        the first half of the lakehouse hard-delete (GDPR / right-to-
        be-forgotten) flow. Like Delta, DELETE alone does NOT remove
        the data from history: retained older snapshots still contain
        the rows until `vacuum` drops them, so a compliance purge is
        ``delete_where(cond)`` followed by ``vacuum(keep_last=1)`` —
        after which no retained snapshot can serve the deleted rows
        (k24 asserts exactly this). Cost is one filtered rewrite of
        the active snapshot; the filter is a plain predicate, so
        partition pruning applies when it touches partition columns.

        NULL predicate rows are KEPT (SQL DELETE semantics: only rows
        where the condition is TRUE are removed — a bare ``~cond``
        would silently drop the NULLs too).
        """
        self._begin_write()
        self._snapshot_write(
            self.read().filter(~F.coalesce(condition, F.lit(False)))
        )

    def delete_keys(
        self,
        keys: DataFrame,
        key_cols: tuple[str, ...],
        txn: tuple[str, int] | None = None,
    ) -> None:
        """DELETE by key FRAME (anti-join) — the purge-feed form of
        `delete_where`: the keys to forget arrive as data (a stream of
        erasure requests), not as a predicate literal, so collecting
        them into an IN-list would bottleneck on the driver at scale.
        One anti-join rewrite of the active snapshot, committed as the
        next snapshot; ``txn=`` rides the same atomic manifest swap,
        making a replayed purge batch a no-op — and a replay would also
        be harmless (deleting already-deleted keys), so this path is
        doubly idempotent. NULL keys never match an anti-join (SQL
        semantics), mirroring `delete_where`'s NULL-predicate rule.
        `vacuum(keep_last=1)` still applies for the compliance-grade
        history purge (see k24)."""
        if not self._begin_write(txn):
            return
        self._snapshot_write(
            self.read().join(keys.select(*key_cols), list(key_cols), "left_anti"),
            txn=txn,
        )

    def apply_cdc(
        self,
        changes: DataFrame,
        key_cols: tuple[str, ...],
        seq_col: str,
        op_col: str = "op",
        txn: tuple[str, int] | None = None,
    ) -> None:
        """Apply a CDC change batch (`merge_cdc` semantics: latest
        change per key; D deletes, I/U replace-or-insert) as ONE atomic
        snapshot — inserts, updates, and deletes of a batch land
        together or not at all, and ``txn=`` rides the same manifest
        swap, so a replayed batch is a no-op. Two separate
        delete-then-upsert snapshots would expose a mid-batch state
        (deletes visible, updates not) plus a second replay window —
        exactly what a streaming CDC consumer must not do."""
        if not self._begin_write(txn):
            return
        self._snapshot_write(
            merge_cdc(self.read(), changes, key_cols, seq_col, op_col),
            txn=txn,
        )

    def evolve_partitioning(self, new_partition_by: tuple[str, ...]) -> None:
        """Partition-spec evolution (Iceberg's ALTER TABLE ... WRITE
        ORDERED/PARTITIONED BY role): rewrite the active snapshot under
        ``new_partition_by`` as the NEXT snapshot and commit atomically
        — readers see the old layout until the manifest swap, retained
        older snapshots keep their own layout (each snapshot dir is
        self-describing parquet, so time travel across the evolution
        boundary just works), and the new spec rides in the same
        manifest write as the data, after which every handle on the
        table (including ones constructed without partition_by) writes
        the new layout.

        The rewrite is one full-table shuffle clustered by the new
        partition columns — the honest cost of re-laying-out data; at
        scale it runs online exactly like `compact` (old snapshot
        serves reads throughout). A query-layer migration that needs
        only FUTURE data in the new layout should instead write a new
        table and union over both — this method is for when the table
        identity must be preserved.
        """
        self._begin_write()
        new_spec = tuple(new_partition_by)
        df = self.read()
        missing = [c for c in new_spec if c not in df.columns]
        if missing:
            raise ValueError(f"partition columns not in table: {missing}")
        if new_spec:
            df = df.repartition(*[F.col(c) for c in new_spec])
        old = self.partition_by
        self.partition_by = new_spec
        try:
            self._snapshot_write(df)
        except BaseException:
            self.partition_by = old
            raise

    def upsert_replace(
        self,
        source: DataFrame,
        key_cols: tuple[str, ...],
        order_col: str | None = None,
        evolve_schema: bool = False,
        txn: tuple[str, int] | None = None,
    ) -> None:
        """K4 against stored state. Partition-scoped when the partition
        columns are part of the key; full read-merge-overwrite
        otherwise (keys may move partitions, e.g. inventory rows whose
        last_updated_date advances).

        ``evolve_schema=True`` (Delta autoMerge semantics) widens the
        table to the union of both schemas. A widening merge always
        takes the full-snapshot path: a scoped merge would leave
        untouched partitions under the old schema, forcing mergeSchema
        reads on every consumer forever.

        ``txn=(app_id, batch_id)``: idempotent-replay guard — the merge
        is a NO-OP if ``batch_id <= last_txn(app_id)``, and otherwise
        takes the snapshot path, whose manifest swap commits the batch
        id together with the data."""
        if not self._begin_write(txn):
            return
        if not self.exists():
            self._snapshot_write(source, txn=txn)
            return
        target = self.read()
        if evolve_schema and set(target.columns) != set(source.columns):
            target, source = evolve_schemas(target, source)
        elif self._partition_scoped_ok(key_cols, txn):
            self._scoped_merge(
                source, lambda tgt: merge_replace(tgt, source, key_cols, order_col)
            )
            return
        # New snapshot dir: streams lazily from the old snapshot and
        # commits via manifest swap — no read-overwrite hazard, no
        # defensive materialization.
        self._snapshot_write(
            merge_replace(target, source, key_cols, order_col), txn=txn
        )

    def upsert_additive(
        self,
        source: DataFrame,
        key_cols: tuple[str, ...],
        sum_cols: tuple[str, ...],
        txn: tuple[str, int] | None = None,
    ) -> None:
        """K5 against stored state. The KPI shape (partition col in the
        key, e.g. (product_id, date) partitioned by date) takes the
        partition-scoped path: a daily batch rewrites one date, not the
        table's history.

        ``txn=(app_id, batch_id)``: exactly-once guard for this
        NON-idempotent merge — no-op if ``batch_id <= last_txn(app_id)``.
        A guarded merge always takes the snapshot path, so the batch id
        is part of the same atomic manifest swap as the data (Delta txn
        pattern) and a crash can never commit the add without its id.
        The price on a partitioned KPI table is a full-table rewrite per
        batch instead of the touched partitions."""
        if not self._begin_write(txn):
            return
        if not self.exists():
            # bootstrap through the SAME normalization as every later
            # merge (key+sum columns, one row per key): writing raw
            # source would leave a first snapshot whose schema/grain
            # silently differs from snapshot 2+ (merge_additive
            # projects to key+sum and re-aggregates)
            self._snapshot_write(
                merge_additive(
                    source.limit(0), source, key_cols, sum_cols
                ),
                txn=txn,
            )
            return
        if self._partition_scoped_ok(key_cols, txn):
            self._scoped_merge(
                source, lambda tgt: merge_additive(tgt, source, key_cols, sum_cols)
            )
            return
        self._snapshot_write(
            merge_additive(self.read(), source, key_cols, sum_cols), txn=txn
        )


def merge_cdc(
    target: DataFrame,
    changes: DataFrame,
    key_cols: tuple[str, ...],
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Apply a CDC change feed in one pass — the full
    ``MERGE ... WHEN MATCHED [AND op='D'] THEN DELETE / UPDATE /
    WHEN NOT MATCHED THEN INSERT`` shape (Delta's CDF-apply pattern,
    and the consumer side of `k22_time_travel_cdc`'s producer).

    ``changes`` carries the key columns, the target's payload columns,
    an ``op`` in ('I','U','D'), and a monotone ``seq``; only the
    LATEST change per key applies (ties on seq break by op descending —
    'U' over 'I' over 'D' — purely to make pathological same-seq feeds
    deterministic; well-formed feeds have unique seqs per key). Net
    effect: latest op D drops the key, latest I/U replaces-or-inserts
    its payload, untouched target rows pass through.

    One shuffle on the key columns serves the change-compaction window
    AND the union-merge (same partitioning); at 100 TB the feed is a
    day's changes, not the table, so the snapshot-path caller pairs
    this with partition scoping exactly like any other merge.
    """
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(seq_col).desc(), F.col(op_col).desc()
    )
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    payload = [c for c in target.columns]
    upserts = latest.filter(F.col(op_col).isin("I", "U")).select(*payload)
    deletes = latest.filter(F.col(op_col) == "D").select(*key_cols)
    merged = merge_replace(target, upserts, key_cols)
    return merged.join(deletes, list(key_cols), "left_anti")


class MergeOnReadTable:
    """Merge-on-read row deletes — the Iceberg v2 delete-file / Delta
    deletion-vector pattern, reproduced over two manifest-committed
    ``ParquetUpsertTable``s: deletes APPEND key tombstones to a side
    table (O(deleted keys) write cost) instead of rewriting data files
    (``delete_keys``' O(table) copy-on-write), and every read merges by
    anti-joining the tombstone set. ``compact()`` is the maintenance op
    that bounds read amplification: apply all accumulated tombstones in
    ONE base rewrite, then truncate them.

    Tombstones are KEYS, not file positions: engine-portable, stable
    under base compaction/clustering (a positional delete dies the
    moment its file is rewritten), and idempotent under replay
    (deleting a deleted key appends a tombstone the anti-join already
    honors). The trade vs positional deletion vectors is one hash join
    per read instead of a bitmap filter — the right trade for a
    key-addressed table; both sides inherit the snapshot tables'
    atomic manifest commits.

    The read join is SIZE-GATED, not assumed broadcastable: the
    broadcast hint is applied only while the tombstone snapshot's
    on-disk bytes (a metadata probe, no scan) stay under
    ``broadcast_max_bytes`` — the Spark autoBroadcastJoinThreshold
    default, conservative because parquet-encoded keys inflate several-
    fold when decoded into a broadcast hash table. Past the gate the
    anti-join runs unhinted and AQE picks the strategy — a GDPR purge
    wave that accrues hundreds of millions of tombstones between
    compactions degrades to a shuffled anti-join instead of a driver
    OOM. ``auto_compact_bytes`` (opt-in) bounds that regime: after any
    delete that pushes the tombstone table past it, ``compact()`` folds
    the tombstones into one base rewrite (txn stamps survive — the
    manifest carries them forward), so reads return to the broadcast
    fast path.

    Write amplification: delete = one tombstone append; read = base
    scan + size-gated anti-join; compact = one table rewrite, amortized
    over all deletes since the last compact.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: tuple[str, ...],
        broadcast_max_bytes: int = 10 << 20,
        auto_compact_bytes: int | None = None,
    ) -> None:
        self.spark = spark
        self.key_cols = tuple(key_cols)
        self.broadcast_max_bytes = int(broadcast_max_bytes)
        self.auto_compact_bytes = (
            None if auto_compact_bytes is None else int(auto_compact_bytes)
        )
        self.base = ParquetUpsertTable(spark, os.path.join(path, "base"))
        self.tombstones = ParquetUpsertTable(
            spark, os.path.join(path, "tombstones")
        )

    def create_or_overwrite(self, df: DataFrame) -> None:
        self.base.create_or_overwrite(df)
        self.tombstones.create_or_overwrite(
            df.select(*self.key_cols).limit(0)
        )

    def delete_keys(
        self, keys: DataFrame, txn: tuple[str, int] | None = None
    ) -> None:
        """Row-level delete WITHOUT touching the base table: append the
        (distinct, non-null) keys as tombstones. ``txn=`` rides the
        tombstone table's manifest commit, so a replayed erasure batch
        is a no-op there — and harmless anyway (idempotent merge)."""
        if not self.tombstones._begin_write(txn):
            return
        cleaned = keys.select(*self.key_cols).na.drop().distinct()
        if txn is None:
            self.tombstones.append(cleaned)
        else:
            self.tombstones.create_or_overwrite(
                self.tombstones.read().unionByName(cleaned).distinct(), txn=txn
            )
        if (
            self.auto_compact_bytes is not None
            and self.tombstones.data_bytes() > self.auto_compact_bytes
        ):
            self.compact()

    def read(self) -> DataFrame:
        tombs = self.tombstones.read().distinct()
        # size-gate the hint on the snapshot's on-disk bytes (metadata
        # probe, no job): below the gate, force the broadcast fast
        # path; above it, leave the join unhinted and let AQE choose —
        # never hand a 100-TB purge wave's key set to the driver
        if self.tombstones.data_bytes() <= self.broadcast_max_bytes:
            tombs = F.broadcast(tombs)
        return self.base.read().join(
            tombs, list(self.key_cols), "left_anti"
        )

    def n_tombstones(self) -> int:
        return self.tombstones.read().distinct().count()

    def compact(self) -> None:
        """Apply every accumulated tombstone in one base rewrite, then
        truncate the tombstone table — after this, reads are a plain
        base scan again (zero read amplification) and vacuum on both
        tables drops the pre-delete history for a compliance purge."""
        applied = self.read()
        self.base.create_or_overwrite(applied)
        self.tombstones.create_or_overwrite(
            self.base.read().select(*self.key_cols).limit(0)
        )
