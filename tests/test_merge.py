"""MERGE/upsert semantics (K4 replace, K5 additive) and the parquet
upsert table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
    ParquetUpsertTable,
    merge_additive,
    merge_replace,
)


def test_merge_replace_source_wins_and_inserts(spark):
    target = spark.createDataFrame([(1, "old"), (2, "keep")], "id long, v string")
    source = spark.createDataFrame([(1, "new"), (3, "ins")], "id long, v string")
    out = {r.id: r.v for r in merge_replace(target, source, ("id",)).collect()}
    assert out == {1: "new", 2: "keep", 3: "ins"}


def test_merge_replace_latest_by_order_col(spark):
    # source carries multiple versions per key; order_col picks latest
    target = spark.createDataFrame([(1, 100, "t")], "id long, ts long, v string")
    source = spark.createDataFrame(
        [(1, 50, "stale"), (1, 200, "fresh")], "id long, ts long, v string"
    )
    out = merge_replace(target, source, ("id",), "ts").collect()
    assert len(out) == 1 and out[0].v == "fresh"


def test_merge_additive_accumulates(spark):
    target = spark.createDataFrame([(1, "2025-01-01", 10.0)], "pid long, date string, total double")
    source = spark.createDataFrame(
        [(1, "2025-01-01", 5.0), (2, "2025-01-01", 7.0)],
        "pid long, date string, total double",
    )
    out = {
        (r.pid, r.date): r.total
        for r in merge_additive(target, source, ("pid", "date"), ("total",)).collect()
    }
    # matched key accumulates (reference transfom_pos.py:140-152); new key inserts
    assert out == {(1, "2025-01-01"): 15.0, (2, "2025-01-01"): 7.0}


def test_parquet_upsert_table_lifecycle(spark, tmp_path):
    path = str(tmp_path / "kpi")
    t = ParquetUpsertTable(spark, path)
    assert not t.exists()

    b1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "pid long, total double")
    t.upsert_additive(b1, ("pid",), ("total",))  # bootstrap
    assert t.exists()

    b2 = spark.createDataFrame([(1, 1.0), (3, 3.0)], "pid long, total double")
    t.upsert_additive(b2, ("pid",), ("total",))  # accumulate
    out = {r.pid: r.total for r in t.read().collect()}
    assert out == {1: 11.0, 2: 20.0, 3: 3.0}


def test_parquet_upsert_replace_lifecycle(spark, tmp_path):
    path = str(tmp_path / "inv")
    t = ParquetUpsertTable(spark, path)
    b1 = spark.createDataFrame([(1, 100, "a"), (2, 100, "b")], "id long, ts long, v string")
    t.upsert_replace(b1, ("id",), "ts")
    b2 = spark.createDataFrame([(2, 200, "b2"), (3, 100, "c")], "id long, ts long, v string")
    t.upsert_replace(b2, ("id",), "ts")
    out = {r.id: r.v for r in t.read().collect()}
    assert out == {1: "a", 2: "b2", 3: "c"}


def test_partition_scoped_additive_merge_leaves_other_partitions_untouched(spark, tmp_path):
    """When partition cols are part of the merge key, an upsert must
    dynamically overwrite ONLY the partitions the batch touches — at
    scale the rewrite surface is batch size, not table size."""
    import glob
    import os

    path = str(tmp_path / "kpi")
    t = ParquetUpsertTable(spark, path, partition_by=("date",))
    b1 = spark.createDataFrame(
        [(1, "2025-01-01", 10.0), (2, "2025-01-02", 20.0)],
        "pid long, date string, total double",
    )
    t.upsert_additive(b1, ("pid", "date"), ("total",))

    data_dir = t._data_dir()  # active snapshot dir
    untouched = sorted(glob.glob(f"{data_dir}/date=2025-01-02/*.parquet"))
    mtimes_before = [os.path.getmtime(f) for f in untouched]

    b2 = spark.createDataFrame([(1, "2025-01-01", 5.0)], "pid long, date string, total double")
    t.upsert_additive(b2, ("pid", "date"), ("total",))

    # scoped merge rewrites in place — same snapshot dir, no new version
    assert t._data_dir() == data_dir
    # partition-type inference reads the date= dirs back as DATE
    out = {(r.pid, str(r.date)): r.total for r in t.read().collect()}
    assert out == {(1, "2025-01-01"): 15.0, (2, "2025-01-02"): 20.0}
    # date=2025-01-02 files must be byte-identical and not rewritten
    assert sorted(glob.glob(f"{data_dir}/date=2025-01-02/*.parquet")) == untouched
    assert [os.path.getmtime(f) for f in untouched] == mtimes_before


def test_partition_scoped_replace_merge(spark, tmp_path):
    path = str(tmp_path / "t")
    t = ParquetUpsertTable(spark, path, partition_by=("date",))
    b1 = spark.createDataFrame(
        [(1, "2025-01-01", "a"), (2, "2025-01-01", "b"), (3, "2025-01-02", "c")],
        "id long, date string, v string",
    )
    t.upsert_replace(b1, ("id", "date"))
    b2 = spark.createDataFrame(
        [(1, "2025-01-01", "a2"), (4, "2025-01-01", "d")], "id long, date string, v string"
    )
    t.upsert_replace(b2, ("id", "date"))
    out = {r.id: r.v for r in t.read().collect()}
    assert out == {1: "a2", 2: "b", 3: "c", 4: "d"}


def test_snapshot_commit_crash_leaves_old_snapshot_intact(spark, tmp_path, monkeypatch):
    """Atomic-commit contract: a crash AFTER the new snapshot's files
    are written but BEFORE the manifest swap must leave the previous
    committed snapshot fully readable (the round-1 read-overwrite path
    could lose the whole table here)."""
    import pytest

    path = str(tmp_path / "t")
    t = ParquetUpsertTable(spark, path)
    b1 = spark.createDataFrame([(1, 100, "a"), (2, 100, "b")], "id long, ts long, v string")
    t.upsert_replace(b1, ("id",), "ts")
    before = {r.id: r.v for r in t.read().collect()}

    def crash(version, dir_name, txn=None):
        raise RuntimeError("injected crash before manifest swap")

    monkeypatch.setattr(t, "_commit", crash)
    b2 = spark.createDataFrame([(2, 200, "b2")], "id long, ts long, v string")
    with pytest.raises(RuntimeError, match="injected crash"):
        t.upsert_replace(b2, ("id",), "ts")

    # the failed merge is invisible: table still reads the old snapshot
    fresh = ParquetUpsertTable(spark, path)
    assert {r.id: r.v for r in fresh.read().collect()} == before

    # recovery: retrying the merge on a clean handle succeeds and the
    # orphaned half-committed snapshot dir is overwritten, then pruned
    fresh.upsert_replace(b2, ("id",), "ts")
    assert {r.id: r.v for r in fresh.read().collect()} == {1: "a", 2: "b2"}


def test_snapshot_prune_keeps_active_plus_rollback(spark, tmp_path):
    import os

    path = str(tmp_path / "t")
    t = ParquetUpsertTable(spark, path)
    for i in range(4):
        t.upsert_replace(
            spark.createDataFrame([(1, i, f"v{i}")], "id long, ts long, v string"),
            ("id",),
            "ts",
        )
    assert {r.v for r in t.read().collect()} == {"v3"}
    snaps = sorted(d for d in os.listdir(path) if d.startswith("v"))
    assert snaps == ["v000003", "v000004"]  # active + one rollback


def test_full_merge_fallback_when_keys_can_move_partitions(spark, tmp_path):
    """Inventory shape: key inventory_id, partition last_updated_date —
    an update MOVES the row to a new partition, so the scoped path is
    invalid and the full merge must run (old-partition copy removed)."""
    path = str(tmp_path / "inv")
    t = ParquetUpsertTable(spark, path, partition_by=("d",))
    b1 = spark.createDataFrame(
        [(1, 100, "2025-01-01"), (2, 100, "2025-01-01")], "id long, ts long, d string"
    )
    t.upsert_replace(b1, ("id",), "ts")
    b2 = spark.createDataFrame([(1, 200, "2025-02-09")], "id long, ts long, d string")
    t.upsert_replace(b2, ("id",), "ts")
    rows = {(r.id, str(r.d)) for r in t.read().collect()}
    assert rows == {(1, "2025-02-09"), (2, "2025-01-01")}  # no stale (1, 2025-01-01)


def test_compact_coalesces_files_and_preserves_data(spark, tmp_path):
    """Small-files compaction: many tiny appends -> one maintenance
    rewrite, snapshot-committed so it is safe while readers are live."""
    import glob

    path = str(tmp_path / "t")
    t = ParquetUpsertTable(spark, path)
    for i in range(5):
        t.append(
            spark.createDataFrame([(i * 10 + j, float(j)) for j in range(4)],
                                  "id long, v double")
        )
    before_files = glob.glob(f"{t._data_dir()}/*.parquet")
    before_rows = sorted((r.id, r.v) for r in t.read().collect())
    assert len(before_files) >= 5  # accreted per-append files

    t.compact(target_partitions=1)
    after_files = glob.glob(f"{t._data_dir()}/*.parquet")
    assert len(after_files) == 1
    assert sorted((r.id, r.v) for r in t.read().collect()) == before_rows


def test_compact_partitioned_reclusters_per_partition(spark, tmp_path):
    import glob

    path = str(tmp_path / "t")
    t = ParquetUpsertTable(spark, path, partition_by=("d",))
    for i in range(3):
        t.append(
            spark.createDataFrame(
                [(i * 10 + j, "2025-01-0%d" % (j % 2 + 1)) for j in range(4)],
                "id long, d string",
            )
        )
    before_rows = sorted((r.id, r.d) for r in t.read().collect())
    t.compact()
    for part in ("2025-01-01", "2025-01-02"):
        files = glob.glob(f"{t._data_dir()}/d={part}/*.parquet")
        assert len(files) == 1  # one file per partition after recluster
    assert sorted((r.id, r.d) for r in t.read().collect()) == before_rows


def test_time_travel_reads_retained_versions(spark, tmp_path):
    t = ParquetUpsertTable(spark, str(tmp_path / "t"))
    t.create_or_overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.upsert_replace(spark.createDataFrame([(1, "b")], "id long, v string"), ("id",))
    assert t.versions() == [1, 2]
    assert t.read_version(1).collect()[0].v == "a"
    assert t.read_version(2).collect()[0].v == "b"
    assert t.read().collect()[0].v == "b"  # read() == active version
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not retained"):
        t.read_version(99)


def test_table_changes_classifies_insert_update_delete(spark, tmp_path):
    t = ParquetUpsertTable(spark, str(tmp_path / "t"))
    t.create_or_overwrite(
        spark.createDataFrame(
            [(1, "keep"), (2, "old"), (3, "gone")], "id long, v string"
        )
    )
    t.create_or_overwrite(
        spark.createDataFrame([(1, "keep"), (2, "new"), (4, "ins")], "id long, v string")
    )
    got = {r.id: r._change_type for r in t.table_changes(1, 2, ("id",)).collect()}
    # unchanged key 1 emits nothing; 2 updated, 3 deleted, 4 inserted
    assert got == {2: "update", 3: "delete", 4: "insert"}
    vals = {r.id: r.v for r in t.table_changes(1, 2, ("id",)).collect()}
    assert vals[2] == "new" and vals[3] == "gone" and vals[4] == "ins"


def test_table_changes_null_fields_are_not_updates(spark, tmp_path):
    """Null-safe struct comparison: a row whose value stays NULL is
    unchanged, and NULL -> value is an update (plain != would yield
    NULL and drop it)."""
    t = ParquetUpsertTable(spark, str(tmp_path / "t"))
    t.create_or_overwrite(
        spark.createDataFrame([(1, None), (2, None)], "id long, v string")
    )
    t.create_or_overwrite(
        spark.createDataFrame([(1, None), (2, "set")], "id long, v string")
    )
    got = {r.id: r._change_type for r in t.table_changes(1, 2, ("id",)).collect()}
    assert got == {2: "update"}


def test_upsert_replace_schema_evolution(spark, tmp_path):
    t = ParquetUpsertTable(spark, str(tmp_path / "t"))
    t.create_or_overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    src = spark.createDataFrame([(2, "b2", 9.5)], "id long, v string, score double")
    t.upsert_replace(src, ("id",), evolve_schema=True)
    out = {r.id: (r.v, r.score) for r in t.read().collect()}
    # historical row widened with NULL; merged row carries the new column
    assert out == {1: ("a", None), 2: ("b2", 9.5)}
    # CDC across the widening still works (old snapshot lacks `score`)
    got = {r.id: r._change_type for r in t.table_changes(1, 2, ("id",)).collect()}
    assert got == {2: "update"}


def test_snapshot_diff_images_emits_both_update_images(spark):
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
        merge,
    )

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "k long, g string, v double"
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "x", 9.0), (4, "d", 4.0)], "k long, g string, v double"
    )
    rows = merge.snapshot_diff_images(old, new, ("k",)).collect()
    by = {(r.k, r._change_type): r for r in rows}
    # unchanged key 1 silent; update emits BOTH images; delete pre; insert post
    assert set(by) == {
        (2, "update_preimage"),
        (2, "update_postimage"),
        (3, "delete"),
        (4, "insert"),
    }
    assert by[(2, "update_preimage")].g == "b" and by[(2, "update_postimage")].g == "x"
    assert by[(3, "delete")].v == 3.0 and by[(4, "insert")].v == 4.0


def test_incremental_agg_matches_recompute_with_group_migration(spark):
    """The defining IVM property on the nasty cases: an update that
    MOVES a row between groups must retract from the old group and add
    to the new one, and a group whose last row is deleted must vanish
    — exactly what recomputing from the new snapshot yields."""
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
        merge,
    )

    old = spark.createDataFrame(
        [(1, "a", 1.00), (2, "a", 2.00), (3, "b", 3.00)],
        "k long, g string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.00), (2, "c", 2.50)],  # 2 migrates a->c, 3 deleted (b empties)
        "k long, g string, v double",
    )
    cents = F.floor(F.col("v") * 100 + F.lit(0.5)).cast("long")

    def agg(df):
        return df.groupBy("g").agg(
            F.count(F.lit(1)).alias("n_rows"), F.sum(cents).alias("value_cents")
        )

    maintained = merge.incremental_agg(
        agg(old),
        merge.snapshot_diff_images(old, new, ("k",)),
        ("g",),
        value_col="v",
    )
    got = {r.g: (r.n_rows, r.value_cents) for r in maintained.collect()}
    want = {r.g: (r.n_rows, r.value_cents) for r in agg(new).collect()}
    assert got == want == {"a": (1, 100), "c": (1, 250)}  # b is gone


def test_vacuum_retention_and_time_travel(spark, tmp_path):
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        ParquetUpsertTable,
    )

    t = ParquetUpsertTable(spark, str(tmp_path / "tbl"))
    for i in range(4):
        src = spark.createDataFrame(
            [(1, i, f"v{i}")], "id long, ts long, v string"
        )
        t.upsert_replace(src, ("id",), "ts")
    assert len(t.versions()) >= 2  # auto-prune keeps a rollback window

    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.vacuum(keep_last=0)

    removed = t.vacuum(keep_last=1)
    kept = t.versions()
    assert len(kept) == 1  # only the active snapshot remains
    assert set(removed).isdisjoint(kept)
    # active data intact; vacuumed versions refuse time travel
    assert t.read().collect()[0].v == "v3"
    if removed:
        with _pytest.raises(ValueError):
            t.read_version(removed[-1])


def test_read_as_of_timestamp_time_travel(spark, tmp_path):
    """Timestamp-based time travel with a pinned commit clock: a read
    as-of a time between two commits sees the FIRST snapshot; before
    the first commit raises; at/after the second sees the second."""
    ticks = iter([1000.0, 2000.0])
    t = ParquetUpsertTable(
        spark, str(tmp_path / "asof_tbl"), clock=lambda: next(ticks)
    )
    df1 = spark.createDataFrame([(1, "a")], "k long, v string")
    df2 = spark.createDataFrame([(1, "b")], "k long, v string")
    t.create_or_overwrite(df1)
    t.upsert_replace(df2, ("k",))

    assert [r.v for r in t.read_as_of(1500.0).collect()] == ["a"]
    assert [r.v for r in t.read_as_of(2000.0).collect()] == ["b"]
    assert [r.v for r in t.read_as_of(9e9).collect()] == ["b"]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.read_as_of(999.0)


def test_upsert_txn_replay_is_noop_and_atomic_with_manifest(spark, tmp_path):
    """Exactly-once txn guard: the batch id commits in the SAME manifest
    write as the data (snapshot path), replays are no-ops, and txn
    stamps survive later commits from other app ids."""
    import json
    import os

    path = str(tmp_path / "kpi_txn")
    t = ParquetUpsertTable(spark, path)

    b0 = spark.createDataFrame([(1, 10.0)], "pid long, total double")
    t.upsert_additive(b0, ("pid",), ("total",), txn=("stream:a", 0))
    b1 = spark.createDataFrame([(1, 5.0)], "pid long, total double")
    t.upsert_additive(b1, ("pid",), ("total",), txn=("stream:a", 1))
    assert {r.pid: r.total for r in t.read().collect()} == {1: 15.0}
    assert t.last_txn("stream:a") == 1
    assert t.last_txn("stream:other") == -1

    # replayed batch (same and older ids) -> no double-add
    t.upsert_additive(b1, ("pid",), ("total",), txn=("stream:a", 1))
    t.upsert_additive(b0, ("pid",), ("total",), txn=("stream:a", 0))
    assert {r.pid: r.total for r in t.read().collect()} == {1: 15.0}

    # the manifest file itself carries BOTH the active dir and the txn
    with open(os.path.join(path, "_MANIFEST.json")) as f:
        m = json.load(f)
    assert m["txns"] == {"stream:a": 1} and m["dir"].startswith("v")

    # a later commit from another app carries the stamp forward
    b2 = spark.createDataFrame([(2, 1.0)], "pid long, total double")
    t.upsert_additive(b2, ("pid",), ("total",), txn=("stream:b", 0))
    assert t.last_txn("stream:a") == 1 and t.last_txn("stream:b") == 0
    # and an untagged batch merge preserves txns too
    t.upsert_additive(b2, ("pid",), ("total",))
    assert t.last_txn("stream:a") == 1 and t.last_txn("stream:b") == 0


def test_upsert_txn_scoped_path_stamps_manifest(spark, tmp_path):
    """A txn-guarded merge on a table whose merges are otherwise
    partition-scoped takes the snapshot path: its batch id is stamped
    in the manifest swap of a NEW version, and replays skip. Without a
    txn the same merge is partition-scoped again (rewritten in place)."""
    path = str(tmp_path / "kpi_scoped_txn")
    t = ParquetUpsertTable(spark, path, partition_by=("date",))
    b0 = spark.createDataFrame(
        [(1, "2025-01-01", 10.0)], "pid long, date string, total double"
    )
    t.upsert_additive(b0, ("pid", "date"), ("total",), txn=("s", 0))
    b1 = spark.createDataFrame(
        [(1, "2025-01-01", 2.0)], "pid long, date string, total double"
    )
    t.upsert_additive(b1, ("pid", "date"), ("total",), txn=("s", 1))
    assert t.last_txn("s") == 1 and t.versions() == [1, 2]
    t.upsert_additive(b1, ("pid", "date"), ("total",), txn=("s", 1))  # replay
    assert t.versions() == [1, 2]
    # partition-type inference reads the date partition back as DATE —
    # compare on its string form
    out = {(r.pid, str(r.date)): r.total for r in t.read().collect()}
    assert out == {(1, "2025-01-01"): 12.0}

    data_dir = t._data_dir()
    t.upsert_additive(b1, ("pid", "date"), ("total",))  # scoped, in place
    assert t._data_dir() == data_dir and t.versions() == [1, 2]
    assert t.last_txn("s") == 1
    out = {(r.pid, str(r.date)): r.total for r in t.read().collect()}
    assert out == {(1, "2025-01-01"): 14.0}


def test_upsert_additive_bootstrap_normalizes_grain_and_schema(spark, tmp_path):
    """The first batch goes through the same key+sum normalization as
    every later merge: duplicate keys aggregate, extra columns drop —
    so snapshot 1 has the same schema and grain as snapshot N."""
    t = ParquetUpsertTable(spark, str(tmp_path / "boot"))
    b0 = spark.createDataFrame(
        [(1, 5.0, "x"), (1, 7.0, "y"), (2, 1.0, "z")],
        "pid long, total double, extra string",
    )
    t.upsert_additive(b0, ("pid",), ("total",))
    assert sorted(t.read().columns) == ["pid", "total"]
    assert {r.pid: r.total for r in t.read().collect()} == {1: 12.0, 2: 1.0}
    b1 = spark.createDataFrame([(1, 1.0)], "pid long, total double")
    t.upsert_additive(b1, ("pid",), ("total",))
    assert {r.pid: r.total for r in t.read().collect()} == {1: 13.0, 2: 1.0}


def test_partition_evolution_rewrites_layout_and_persists_spec(spark, tmp_path):
    import os

    path = str(tmp_path / "tbl")
    t = ParquetUpsertTable(spark, path, partition_by=("d",))
    src = spark.createDataFrame(
        [(i, f"d{i % 3}", f"p{i % 2}", i * 10) for i in range(12)],
        "id long, d string, p string, v long",
    )
    t.create_or_overwrite(src)
    v1_dir = t._data_dir()
    assert any(n.startswith("d=") for n in os.listdir(v1_dir))

    t.evolve_partitioning(("p",))
    v2_dir = t._data_dir()
    assert v2_dir != v1_dir
    assert any(n.startswith("p=") for n in os.listdir(v2_dir))
    assert not any(n.startswith("d=") for n in os.listdir(v2_dir))
    # content identical across the rewrite
    assert sorted(map(tuple, t.read().select("id", "d", "p", "v").collect())) == sorted(
        map(tuple, src.collect())
    )
    # time travel across the evolution boundary reads the OLD layout
    assert t.read_version(1).count() == 12

    # a re-opened handle without partition_by picks up the stored spec
    t2 = ParquetUpsertTable(spark, path)
    assert t2.partition_by == ("p",)
    more = spark.createDataFrame(
        [(100, "d9", "p0", 1)], "id long, d string, p string, v long"
    )
    t2.upsert_replace(more, ("id",))
    assert any(
        n.startswith("p=") for n in os.listdir(t2._data_dir())
    ) and not any(n.startswith("d=") for n in os.listdir(t2._data_dir()))
    assert t2.read().count() == 13

    import pytest as _pytest

    with _pytest.raises(ValueError):
        t2.evolve_partitioning(("nope",))


def test_delete_where_keeps_null_predicate_rows_and_purges_with_vacuum(
    spark, tmp_path
):
    t = ParquetUpsertTable(spark, str(tmp_path / "tbl"))
    src = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "drop"), (4, "drop")],
        "id long, tag string",
    )
    t.create_or_overwrite(src)
    t.delete_where(F.col("tag") == "drop")
    # NULL-tag row survives (SQL DELETE semantics), matches are gone
    assert sorted(r.id for r in t.read().collect()) == [1, 2]
    # pre-delete snapshot still serves the rows until vacuum
    assert t.read_version(1).count() == 4
    t.vacuum(keep_last=1)
    for v in t.versions():
        assert t.read_version(v).filter(F.col("tag") == "drop").count() == 0


def test_conflicting_constructor_spec_raises_and_stale_handle_adopts(
    spark, tmp_path
):
    import pytest as _pytest

    path = str(tmp_path / "tbl")
    a = ParquetUpsertTable(spark, path, partition_by=("d",))
    src = spark.createDataFrame(
        [(i, f"d{i % 2}", f"p{i % 3}", i) for i in range(6)],
        "id long, d string, p string, v long",
    )
    a.create_or_overwrite(src)
    # explicit spec conflicting with the committed one is an error,
    # not a silent override in either direction
    with _pytest.raises(ValueError):
        ParquetUpsertTable(spark, path, partition_by=("p",))
    # a handle opened BEFORE an evolution adopts the new spec on its
    # next write instead of silently reverting the layout
    b = ParquetUpsertTable(spark, path)
    b.evolve_partitioning(("p",))
    a.upsert_replace(
        spark.createDataFrame([(99, "d9", "p9", 9)], src.schema), ("id",)
    )
    assert a.partition_by == ("p",)
    import os

    leaf = os.listdir(a._data_dir())
    assert any(n.startswith("p=") for n in leaf)
    assert not any(n.startswith("d=") for n in leaf)
    assert a.read().count() == 7


def test_write_audit_publish_gates_the_commit(spark, tmp_path):
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import validate

    t = ParquetUpsertTable(spark, str(tmp_path / "tbl"))
    good = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double")
    bad = spark.createDataFrame([(3, -5.0), (3, 7.0)], "id long, v double")

    audit = lambda df: validate.expectation_report(  # noqa: E731
        df, unique_cols=["id"], bounds={"v": (0.0, 100.0)}
    )
    report = t.write_audit_publish(good, audit)
    assert report.filter(~F.col("passed")).count() == 0
    assert t.read().count() == 2
    v_before = t.versions()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="NOT published"):
        t.write_audit_publish(good.unionByName(bad), audit)
    # active snapshot untouched by the failed publish
    assert t.versions() == v_before
    assert sorted(r.id for r in t.read().collect()) == [1, 2]
    # next good publish lands normally over the orphaned staging dir
    t.write_audit_publish(good, audit)
    assert t.read().count() == 2


_KPI = "pid long, date string, total double"


def _kpi_rows(t: ParquetUpsertTable) -> list[tuple]:
    return sorted(
        (r.pid, str(r.date), r.total)
        for r in t.read().select("pid", "date", "total").collect()
    )


def _audit_passes(df):
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import validate

    return validate.expectation_report(df, unique_cols=["pid"])


# writer -> (write on a table holding _KPI rows (1, 01-01, 10.0) and
# (2, 01-02, 20.0) committed under txn ("s", 0); rows after it applied
# once; whether the write carries txn ("s", 1)). The table is
# partitioned by date and every key holds date, so without a txn the
# merges would be partition-scoped.
_SNAPSHOT_WRITERS = {
    "upsert_replace": (
        lambda t, spark: t.upsert_replace(
            spark.createDataFrame([(1, "2025-01-01", 5.0)], _KPI),
            ("pid", "date"),
            txn=("s", 1),
        ),
        [(1, "2025-01-01", 5.0), (2, "2025-01-02", 20.0)],
        True,
    ),
    "upsert_additive": (
        lambda t, spark: t.upsert_additive(
            spark.createDataFrame([(1, "2025-01-01", 5.0)], _KPI),
            ("pid", "date"),
            ("total",),
            txn=("s", 1),
        ),
        [(1, "2025-01-01", 15.0), (2, "2025-01-02", 20.0)],
        True,
    ),
    "delete_keys": (
        lambda t, spark: t.delete_keys(
            spark.createDataFrame([(2,)], "pid long"), ("pid",), txn=("s", 1)
        ),
        [(1, "2025-01-01", 10.0)],
        True,
    ),
    "apply_cdc": (
        lambda t, spark: t.apply_cdc(
            spark.createDataFrame(
                [("D", 2, None, 0.0, 1), ("I", 3, "2025-01-03", 7.0, 1)],
                "op string, pid long, date string, total double, seq long",
            ).withColumn("date", F.col("date").cast("date")),
            ("pid",),
            "seq",
            txn=("s", 1),
        ),
        [(1, "2025-01-01", 10.0), (3, "2025-01-03", 7.0)],
        True,
    ),
    "create_or_overwrite": (
        lambda t, spark: t.create_or_overwrite(
            spark.createDataFrame([(4, "2025-01-04", 1.0)], _KPI), txn=("s", 1)
        ),
        [(4, "2025-01-04", 1.0)],
        True,
    ),
    "write_audit_publish": (
        lambda t, spark: t.write_audit_publish(
            spark.createDataFrame([(4, "2025-01-04", 1.0)], _KPI), _audit_passes
        ),
        [(4, "2025-01-04", 1.0)],
        False,
    ),
    "evolve_partitioning": (
        lambda t, spark: t.evolve_partitioning(("pid",)),
        [(1, "2025-01-01", 10.0), (2, "2025-01-02", 20.0)],
        False,
    ),
}


@pytest.mark.parametrize("writer", sorted(_SNAPSHOT_WRITERS))
def test_commit_crash_keeps_state_and_replays_once(spark, tmp_path, monkeypatch, writer):
    """Every snapshot writer commits through the one manifest swap: a
    crash before it leaves the previous rows, versions and txn stamps
    as they were; the replay applies once; a second replay changes
    nothing (a txn-guarded one does not even commit)."""
    write, want, guarded = _SNAPSHOT_WRITERS[writer]
    path = str(tmp_path / "t")
    t = ParquetUpsertTable(spark, path, partition_by=("date",))
    t.upsert_additive(
        spark.createDataFrame(
            [(1, "2025-01-01", 10.0), (2, "2025-01-02", 20.0)], _KPI
        ),
        ("pid", "date"),
        ("total",),
        txn=("s", 0),
    )
    rows, versions = _kpi_rows(t), t.versions()

    def crash(version, dir_name, txn=None):
        raise RuntimeError("injected crash before manifest swap")

    monkeypatch.setattr(t, "_commit", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        write(t, spark)

    fresh = ParquetUpsertTable(spark, path)
    assert _kpi_rows(fresh) == rows
    assert fresh.versions() == versions
    assert fresh.last_txn("s") == 0

    write(fresh, spark)
    assert _kpi_rows(fresh) == want
    assert fresh.last_txn("s") == (1 if guarded else 0)
    versions = fresh.versions()
    write(fresh, spark)
    assert _kpi_rows(fresh) == want
    if guarded:
        assert fresh.versions() == versions


def test_merge_cdc_latest_wins_and_ops(spark):
    """One-pass CDC apply: D drops, U replaces, I inserts, only the
    latest change per key (seq desc) applies, untouched rows pass."""
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import merge_cdc

    tgt = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k long, v string"
    )
    feed = spark.createDataFrame(
        [
            ("D", 1, None, 1),          # delete key 1
            ("U", 2, "b2", 1),          # update key 2 ...
            ("U", 2, "b3", 2),          # ... then again: seq 2 wins
            ("I", 5, "e", 1),           # insert new key 5
            ("U", 3, "c2", 1),          # update then delete: D at seq 2 wins
            ("D", 3, None, 2),
        ],
        "op string, k long, v string, seq int",
    )
    out = {r.k: r.v for r in merge_cdc(tgt, feed, ("k",), "seq").collect()}
    assert out == {2: "b3", 4: "d", 5: "e"}


def test_delete_keys_txn_replay_and_null_keys(spark, tmp_path):
    """delete_keys: anti-join delete as the next atomic snapshot; txn
    replays skip; NULL keys in the purge feed never match."""
    t = ParquetUpsertTable(spark, str(tmp_path / "dk"))
    t.create_or_overwrite(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    )
    keys = spark.createDataFrame([(2,), (None,)], "k long")
    t.delete_keys(keys, ("k",), txn=("purge", 0))
    assert sorted(r.k for r in t.read().collect()) == [1, 3]
    # replay: no new snapshot, same content
    v = t.versions()
    t.delete_keys(keys, ("k",), txn=("purge", 0))
    assert t.versions() == v
    assert sorted(r.k for r in t.read().collect()) == [1, 3]


def test_apply_cdc_atomic_and_replayable(spark, tmp_path, monkeypatch):
    """apply_cdc: one atomic snapshot per batch (crash before the
    manifest swap leaves the ENTIRE old state — no delete-visible
    half-state), and txn replays are no-ops."""
    import pytest

    t = ParquetUpsertTable(spark, str(tmp_path / "cdc"))
    t.create_or_overwrite(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    )
    feed = spark.createDataFrame(
        [("D", 1, None, 1), ("U", 2, "b2", 1), ("I", 3, "c", 1)],
        "op string, k long, v string, seq long",
    )
    orig = t._commit

    def crash(version, dir_name, txn=None):
        raise RuntimeError("injected crash before manifest swap")

    monkeypatch.setattr(t, "_commit", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        t.apply_cdc(feed, ("k",), "seq", txn=("cdc", 0))
    monkeypatch.setattr(t, "_commit", orig)
    # crash left the FULL old state (delete not applied without the rest)
    assert {r.k: r.v for r in t.read().collect()} == {1: "a", 2: "b"}
    t.apply_cdc(feed, ("k",), "seq", txn=("cdc", 0))
    assert {r.k: r.v for r in t.read().collect()} == {2: "b2", 3: "c"}
    v = t.versions()
    t.apply_cdc(feed, ("k",), "seq", txn=("cdc", 0))  # replay: no-op
    assert t.versions() == v


def test_merge_on_read_deletes(spark, tmp_path):
    """MoR contract: deletes append tombstones without a base rewrite,
    reads anti-join them, replayed deletes are idempotent, and compact
    applies + truncates. (The k32 query asserts the same physically
    at sf scale; this pins the semantics on a toy frame.)"""
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        MergeOnReadTable,
    )

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k long, v string"
    )
    t = MergeOnReadTable(spark, str(tmp_path / "mor"), ("k",))
    t.create_or_overwrite(df)
    v0 = t.base.versions()[-1]

    kill = spark.createDataFrame([(2,), (5,), (None,)], "k long")
    t.delete_keys(kill)
    assert t.base.versions()[-1] == v0  # no base rewrite
    assert sorted(r.k for r in t.read().collect()) == [0, 1, 3, 4, 6, 7, 8, 9]
    # replay the same delete: harmless (idempotent), null keys ignored
    t.delete_keys(kill)
    assert t.n_tombstones() == 2
    assert t.read().count() == 8

    # txn-stamped replay is a manifest-checked no-op
    t.delete_keys(spark.createDataFrame([(7,)], "k long"), txn=("app", 1))
    t.delete_keys(spark.createDataFrame([(8,)], "k long"), txn=("app", 1))
    assert t.read().count() == 7  # second batch-1 delete ignored
    assert t.n_tombstones() == 3

    t.compact()
    assert t.n_tombstones() == 0
    assert t.base.versions()[-1] != v0
    assert sorted(r.k for r in t.read().collect()) == [0, 1, 3, 4, 6, 8, 9]


def test_merge_on_read_broadcast_size_gate(spark, tmp_path):
    """The read join's broadcast hint is size-gated on the tombstone
    snapshot's on-disk bytes: below the gate the analyzed plan carries
    the hint, past it the join is UNhinted (AQE picks the strategy —
    the 100-TB purge-wave guard). Results are identical either way."""
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        MergeOnReadTable,
    )

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "k long, v string"
    )
    kill = spark.createDataFrame([(i,) for i in range(0, 50, 2)], "k long")

    small = MergeOnReadTable(spark, str(tmp_path / "small"), ("k",))
    small.create_or_overwrite(df)
    small.delete_keys(kill)
    assert small.tombstones.data_bytes() <= small.broadcast_max_bytes
    plan = small.read()._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in plan  # fast path: hint applied

    # 1-byte gate: any real tombstone snapshot exceeds it
    big = MergeOnReadTable(
        spark, str(tmp_path / "big"), ("k",), broadcast_max_bytes=1
    )
    big.create_or_overwrite(df)
    big.delete_keys(kill)
    assert big.tombstones.data_bytes() > 1
    plan = big.read()._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan  # unhinted: AQE decides
    assert sorted(r.k for r in big.read().collect()) == list(range(1, 50, 2))


def test_merge_on_read_auto_compact(spark, tmp_path):
    """Opt-in auto-compact: a delete that pushes the tombstone table
    past ``auto_compact_bytes`` folds everything into one base rewrite
    and truncates the tombstones, returning reads to the broadcast
    fast path. Txn stamps survive compaction (the manifest carries
    them forward), so a replayed erasure batch stays a no-op."""
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        MergeOnReadTable,
    )

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "k long, v string"
    )
    t = MergeOnReadTable(
        spark, str(tmp_path / "ac"), ("k",), auto_compact_bytes=1
    )
    t.create_or_overwrite(df)
    v0 = t.base.versions()[-1]
    t.delete_keys(spark.createDataFrame([(3,)], "k long"), txn=("gdpr", 1))
    assert t.n_tombstones() == 0  # compacted away
    assert t.base.versions()[-1] != v0  # base rewritten once
    assert sorted(r.k for r in t.read().collect()) == [
        i for i in range(20) if i != 3
    ]
    # replay after compact: manifest still remembers batch 1
    t.delete_keys(spark.createDataFrame([(4,)], "k long"), txn=("gdpr", 1))
    assert t.read().count() == 19  # ignored — k=4 still present


def test_partitioned_write_clusters_by_partition_cols(spark, tmp_path):
    """A partitioned snapshot write REBALANCEs rows by the partition
    columns first (merge.py _write): every write task would otherwise
    hold rows of many partition values and emit one file per
    (task, value) — tasks x values tiny files per snapshot (366 for a
    58-date table at sf0.1 before the fix). Pins one data file per
    partition value at test scale; content unchanged."""
    import os

    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        ParquetUpsertTable,
    )

    df = (
        spark.range(2000)
        .selectExpr("id AS k", "CAST(id % 7 AS STRING) AS p", "id * 2 AS v")
        .repartition(8)  # many tasks, each holding every partition value
    )
    t = ParquetUpsertTable(spark, str(tmp_path / "t"), partition_by=("p",))
    t.create_or_overwrite(df)
    files_per_dir = {}
    for root, _dirs, files in os.walk(str(tmp_path / "t")):
        leaf = os.path.basename(root)
        if leaf.startswith("p="):
            files_per_dir[leaf] = sum(
                1 for f in files if f.endswith(".parquet")
            )
    assert len(files_per_dir) == 7
    assert all(n == 1 for n in files_per_dir.values()), files_per_dir
    assert t.read().count() == 2000


def test_cluster_for_partitioned_write_regimes(spark):
    """Three regimes of the pre-write clustering:
    - AQE off -> repartition(cols): the REBALANCE hint resolves only
      under AQE (ResolveCoalesceHints), silently no-oping otherwise
      and reverting writes to the tasks x values pathology (ADVICE
      r12);
    - small frame + AQE -> repartition(N, cols) with an EXPLICIT
      partition count AQE cannot coalesce: byte-based coalescing
      collapses a few-MB frame to 1-3 writer tasks that pay the
      per-file writer machinery serially;
    - large frame + AQE -> REBALANCE (coalesce small value groups,
      split hot ones at scale)."""
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
        _cluster_for_partitioned_write,
    )

    small = spark.range(100).selectExpr("id AS k", "CAST(id % 5 AS STRING) AS p")
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        off_plan = _cluster_for_partitioned_write(
            small, ("p",)
        )._jdf.queryExecution().optimizedPlan().toString()
        # repartition-by-expression survives optimization when AQE is off
        assert "RepartitionByExpression" in off_plan, off_plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    small_plan = _cluster_for_partitioned_write(
        small, ("p",)
    )._jdf.queryExecution().optimizedPlan().toString()
    assert f"RepartitionByExpression [p#" in small_plan and f", {n}" in small_plan, small_plan
    # range stats: 8 bytes x rows -> ~8 TB estimate, no scan involved
    big = spark.range(10**12).selectExpr("id AS k", "CAST(id % 5 AS STRING) AS p")
    big_plan = _cluster_for_partitioned_write(
        big, ("p",)
    )._jdf.queryExecution().analyzed().toString()
    assert "rebalance" in big_plan.lower(), big_plan


def _assert_footers_match_read(t: ParquetUpsertTable) -> None:
    """The footer listing is exactly the file set Spark's reader scans,
    and the footer row count and byte size agree with it."""
    import os
    from urllib.parse import unquote, urlparse

    df = t.read()
    scanned = {unquote(urlparse(u).path) for u in df.inputFiles()}
    assert {path for path, _size in t._data_files()} == scanned
    assert t.data_bytes() == sum(os.path.getsize(f) for f in scanned)
    assert t.row_count() == df.count()


def _plant_strays(data_dir: str, orphan_dir: str) -> None:
    """Copies of a real data file where a naive walk would count them:
    committer staging, a hidden file, a checksum, a marker, and an
    uncommitted snapshot dir."""
    import glob
    import os
    import shutil

    src = sorted(glob.glob(f"{data_dir}/**/part-*.parquet", recursive=True))[0]
    staged = os.path.join(data_dir, "_temporary", "0", "_temporary", "attempt_0")
    os.makedirs(staged)
    shutil.copy(src, os.path.join(staged, "part-99999-staged.snappy.parquet"))
    shutil.copy(src, os.path.join(data_dir, ".part-99999-hidden.snappy.parquet"))
    with open(os.path.join(data_dir, ".part-99999.snappy.parquet.crc"), "wb") as f:
        f.write(b"\0" * 12)
    open(os.path.join(data_dir, "_SUCCESS"), "w").close()
    os.makedirs(orphan_dir)
    shutil.copy(src, os.path.join(orphan_dir, "part-00000-orphan.snappy.parquet"))


def test_row_count_reads_footers_of_the_files_spark_scans(spark, tmp_path):
    import os

    rows = [(i, f"2025-01-0{1 + i % 3}", float(i)) for i in range(12)]
    schema = "pid long, date string, total double"

    flat = ParquetUpsertTable(spark, str(tmp_path / "flat"))
    flat.upsert_replace(spark.createDataFrame(rows, schema), ("pid",), "total")
    _assert_footers_match_read(flat)

    part = ParquetUpsertTable(spark, str(tmp_path / "part"), partition_by=("date",))
    part.create_or_overwrite(spark.createDataFrame(rows, schema))
    _assert_footers_match_read(part)
    # appended into the active snapshot: new files beside the old ones
    part.append(spark.createDataFrame(rows[:5], schema))
    _assert_footers_match_read(part)
    assert part.row_count() == 17

    kpi = ParquetUpsertTable(spark, str(tmp_path / "kpi"), partition_by=("date",))
    kpi.upsert_additive(spark.createDataFrame(rows, schema), ("pid", "date"), ("total",))
    scoped_dir = kpi._data_dir()
    kpi.upsert_additive(
        spark.createDataFrame([(0, "2025-01-01", 1.0), (50, "2025-01-01", 2.0)], schema),
        ("pid", "date"),
        ("total",),
    )
    assert kpi._data_dir() == scoped_dir  # rewritten in place (scoped path)
    _assert_footers_match_read(kpi)
    assert kpi.row_count() == 13

    for t in (flat, part, kpi):
        before = t.row_count()
        _plant_strays(t._data_dir(), os.path.join(t.path, "v000099"))
        _assert_footers_match_read(t)
        assert t.row_count() == before

    assert ParquetUpsertTable(spark, str(tmp_path / "absent")).row_count() == 0


def test_empty_partitioned_snapshot_reads_back_and_merges(spark, tmp_path):
    """Spark writes no data file for an empty partitioned frame; the
    committed snapshot still reads (as an empty frame of the written
    schema) and later merges build on it."""
    t = ParquetUpsertTable(spark, str(tmp_path / "kpi"), partition_by=("date",))
    schema = "pid long, date date, total double"
    t.upsert_additive(spark.createDataFrame([], schema), ("pid", "date"), ("total",))
    assert t.exists() and t._data_files() == []
    empty = t.read()
    assert empty.columns == ["pid", "total", "date"] and empty.count() == 0
    assert t.row_count() == 0
    b = spark.createDataFrame([(1, "2025-01-01", 2.0)], "pid long, date string, total double")
    t.upsert_additive(b.select("pid", F.col("date").cast("date"), "total"), ("pid", "date"), ("total",))
    assert [(r.pid, str(r.date), r.total) for r in t.read().collect()] == [(1, "2025-01-01", 2.0)]
    _assert_footers_match_read(t)


def _listing(root: str) -> dict[str, float]:
    import os

    return {
        os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
        for d, _dirs, files in os.walk(root)
        for f in files
    }


def test_constructor_refuses_a_parquet_dir_without_manifest(spark, tmp_path):
    """A plain parquet dir is not a table this class committed: opening
    it raises instead of hiding its files behind a first snapshot, and
    leaves them as they were."""
    path = str(tmp_path / "plain")
    spark.createDataFrame([(1, 10.0)], "pid long, total double").write.parquet(path)
    before = _listing(path)
    with pytest.raises(ValueError, match="_MANIFEST.json"):
        ParquetUpsertTable(spark, path)
    assert _listing(path) == before


def test_orphan_first_snapshot_is_overwritten_by_the_next_commit(
    spark, tmp_path, monkeypatch
):
    """A crash before the first manifest swap leaves a partitioned
    v000001 and no manifest. The path still opens as an absent table,
    and the next write commits over the orphan."""
    import os

    path = str(tmp_path / "t")
    t = ParquetUpsertTable(spark, path, partition_by=("date",))

    def crash(version, dir_name, txn=None):
        raise RuntimeError("injected crash before manifest swap")

    monkeypatch.setattr(t, "_commit", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        t.create_or_overwrite(spark.createDataFrame([(9, "2025-01-09", 9.0)], _KPI))
    assert sorted(os.listdir(path)) == ["v000001"]

    reopened = ParquetUpsertTable(spark, path, partition_by=("date",))
    assert not reopened.exists() and reopened.versions() == []
    assert reopened.row_count() == 0 and reopened.last_txn("s") == -1
    reopened.upsert_additive(
        spark.createDataFrame([(1, "2025-01-01", 10.0)], _KPI),
        ("pid", "date"),
        ("total",),
        txn=("s", 0),
    )
    assert reopened.versions() == [1] and reopened.last_txn("s") == 0
    assert _kpi_rows(reopened) == [(1, "2025-01-01", 10.0)]
