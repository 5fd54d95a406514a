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
