"""Job budget of the batch pipelines: `inventory.run` and `pos.run`
take their row accounting from a `DataFrame.observe` on the write that
already scans the batch and from the tables' parquet footers, so the
pipelines themselves submit no Spark job — every job belongs to a
`ParquetUpsertTable` call. Job counts repeat exactly from run to run,
so each run's total is pinned: a change that adds a job anywhere in a
pipeline fails here, and one that removes a job lowers the pin."""

from __future__ import annotations

import contextlib
import csv
import json
import os

from group_2_shopware_enterprise_data_engineering_project_spark.operators.merge import (
    ParquetUpsertTable,
)
from group_2_shopware_enterprise_data_engineering_project_spark.pipelines import (
    inventory,
    pos,
)

_GROUP = "spark.jobGroup.id"

# Total jobs of each run on the default test session (8 shuffle
# partitions, AQE on), measured on these inputs.
BUDGET = {
    ("inventory", "bootstrap"): 3,
    ("pos", "bootstrap"): 7,
    ("inventory", "append"): 5,
    ("pos", "append"): 12,
}


@contextlib.contextmanager
def _job_group(sc, group: str):
    prev = sc.getLocalProperty(_GROUP)
    sc.setLocalProperty(_GROUP, group)
    try:
        yield
    finally:
        sc.setLocalProperty(_GROUP, prev)


def _jobs(sc, group: str) -> int:
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _inputs(d, i: int) -> tuple[str, str]:
    """Batch i: 40 inventory rows over 30 keys and 40 POS rows over
    3 dates, a few of each invalid, a few POS rows duplicated."""
    inv, pos_csv = d / f"inv_{i}.jsonl", d / f"pos_{i}.csv"
    with open(inv, "w") as f:
        for k in range(40):
            f.write(json.dumps({
                "inventory_id": (k * 7 + i) % 30, "product_id": k % 30,
                "warehouse_id": k % 3, "stock_level": -1 if k % 13 == 0 else k,
                "restock_threshold": None, "last_updated": 1.7e9 + 3600 * i + k,
            }) + "\n")
    with open(pos_csv, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["transaction_id", "store_id", "product_id", "quantity",
                    "revenue", "discount_applied", "timestamp"])
        for k in range(40):
            w.writerow([f"t{i}_{k % 37}", 1, k % 9, 1 if k % 11 else "", 2.5, 0.0,
                        1.7e9 + 86400 * (k % 3)])
    return str(inv), str(pos_csv)


def test_pipelines_run_no_jobs_of_their_own(spark, tmp_path, monkeypatch):
    sc = spark.sparkContext
    table_group = "budget-table-calls"
    for name, fn in list(vars(ParquetUpsertTable).items()):
        if name.startswith("_") or not callable(fn):
            continue

        def in_table_group(*args, _fn=fn, **kwargs):
            with _job_group(sc, table_group):
                return _fn(*args, **kwargs)

        monkeypatch.setattr(ParquetUpsertTable, name, in_table_group)

    runs = {
        "inventory": lambda inv, _pos: inventory.run(spark, inv, str(tmp_path / "inv")),
        "pos": lambda _inv, p: pos.run(spark, p, str(tmp_path / "fact"), str(tmp_path / "kpi")),
    }
    own, total = {}, {}
    for i, path in enumerate(("bootstrap", "append")):
        inv_in, pos_in = _inputs(tmp_path, i)
        for pipeline, run in runs.items():
            group = f"budget-{pipeline}-{path}"
            table_before = _jobs(sc, table_group)
            with _job_group(sc, group):
                run(inv_in, pos_in)
            own[pipeline, path] = _jobs(sc, group)
            total[pipeline, path] = own[pipeline, path] + _jobs(sc, table_group) - table_before
    assert own == {k: 0 for k in BUDGET}
    assert total == BUDGET


def test_metadata_probes_run_no_job(spark, tmp_path):
    """Existence, txn, version, row and byte probes read only the
    manifest and parquet footers, so they submit no Spark job, on a
    committed table and on an absent path alike."""
    sc = spark.sparkContext
    committed = ParquetUpsertTable(spark, str(tmp_path / "kpi"), partition_by=("d",))
    committed.upsert_additive(
        spark.createDataFrame([(1, "a", 2.0), (2, "b", 3.0)], "k long, d string, n double"),
        ("k", "d"),
        ("n",),
        txn=("s", 0),
    )
    absent = ParquetUpsertTable(spark, str(tmp_path / "absent"))
    for t, exists, txn, versions, rows in (
        (committed, True, 0, [1], 2),
        (absent, False, -1, [], 0),
    ):
        group = f"metadata-probes-{os.path.basename(t.path)}"
        with _job_group(sc, group):
            got = (t.exists(), t.last_txn("s"), t.versions(), t.row_count())
            size = t.data_bytes()
        assert got == (exists, txn, versions, rows)
        assert (size > 0) == exists
        assert _jobs(sc, group) == 0
