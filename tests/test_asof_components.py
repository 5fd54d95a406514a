"""As-of join and connected-components semantics + plan shape."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from group_2_shopware_enterprise_data_engineering_project_spark.operators.asof import (
    asof_join,
)
from group_2_shopware_enterprise_data_engineering_project_spark.operators.components import (
    connected_components,
    dedup_verdicts,
)


def _ts(s):
    return datetime.datetime(2025, 1, 1) + datetime.timedelta(seconds=s)


def _frames(spark):
    left = spark.createDataFrame(
        [
            (1, _ts(5), "e1"),
            (1, _ts(15), "e2"),
            (1, _ts(2), "e0"),  # before any right row -> dropped (inner)
            (2, _ts(100), "e3"),
            (3, _ts(50), "e4"),  # key with no right rows -> dropped
        ],
        "k long, t timestamp, ev string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts(3), 100, 1.5),
            (1, _ts(10), 101, 2.5),
            (1, _ts(10), 102, 3.5),  # tie on ts: greatest tiebreak wins
            (1, _ts(20), 103, 9.9),  # future row: never visible
            (2, _ts(100), 200, 7.0),  # exactly-coincident: visible
        ],
        "k long, t timestamp, rid long, val double",
    )
    return left, right


def test_asof_join_backward_inclusive_with_tiebreak(spark):
    left, right = _frames(spark)
    out = {
        r.ev: (r.rid, r.val)
        for r in asof_join(
            left, right, "k", "k", "t", "t", ("rid", "val"), right_tiebreak="rid"
        ).collect()
    }
    assert out == {
        "e1": (100, 1.5),  # latest right at ts<=5 is ts=3
        "e2": (102, 3.5),  # ts=10 tie -> rid 102 wins, ts=20 invisible
        "e3": (200, 7.0),  # inclusive at equality
    }  # e0 (no prior) and e4 (no key) dropped


def test_asof_join_null_payload_field_stays_with_its_row(spark):
    """A NULL payload field must NOT be backfilled from an older row —
    the struct fill keeps each match's columns together."""
    left = spark.createDataFrame([(1, _ts(30), "e")], "k long, t timestamp, ev string")
    right = spark.createDataFrame(
        [(1, _ts(1), 10, 5.0), (1, _ts(20), 20, None)],
        "k long, t timestamp, rid long, val double",
    )
    row = asof_join(
        left, right, "k", "k", "t", "t", ("rid", "val"), right_tiebreak="rid"
    ).collect()[0]
    assert row.rid == 20 and row.val is None  # not 5.0 from rid=10


def test_asof_join_single_shuffle(spark):
    left, right = _frames(spark)
    plan = (
        asof_join(left, right, "k", "k", "t", "t", ("rid",), right_tiebreak="rid")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_connected_components_chain_triangle_singleton(spark):
    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "id long")
    # chain 1-2-3-4 (diameter > 1 forces multiple rounds),
    # triangle 5-6-7, singleton 8
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (5, 7)], "src long, dst long"
    )
    got = {
        r.id: r.cluster_rep for r in connected_components(nodes, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5, 8: 8}


def test_dedup_verdicts_keep_one_per_cluster(spark):
    docs = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
    pairs = spark.createDataFrame([(2, 4), (4, 5)], "doc_a long, doc_b long")
    out = {r.doc_id: (r.cluster_rep, r.is_keep) for r in dedup_verdicts(docs, pairs).collect()}
    assert out == {
        1: (1, True),
        2: (2, True),
        3: (3, True),
        4: (2, False),
        5: (2, False),
    }
    assert sum(1 for _, keep in out.values() if keep) == 3


def test_asof_join_bucketed_equals_plain(spark):
    """The bounded-memory bucketed formulation is semantics-identical
    to the plain one — checked on the testdata events/orders pair
    (1000 events at sf0.001) AND on a crafted empty-middle-bucket
    case where the carry must cross a bucket with no right rows."""
    import datetime as dt

    from pyspark.sql import functions as F

    from group_2_shopware_enterprise_data_engineering_project_spark.operators.asof import (
        asof_join_bucketed,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.sources import table

    sf = "/root/testdata/sf0.001"
    orders = table(spark, sf, "orders")
    w = __import__("pyspark.sql", fromlist=["Window"]).Window.partitionBy(
        "o_custkey", "o_orderdate"
    ).orderBy(F.col("o_orderkey").desc())
    latest = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    )
    events = table(spark, sf, "events").select("event_id", "user_id", "ts")
    kw = dict(
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        payload_cols=("o_orderkey", "o_totalprice"),
    )
    plain = {r.event_id: (r.o_orderkey, r.o_totalprice)
             for r in asof_join(events, latest, **kw).collect()}
    for bucket in (86400, 86400 * 30):
        bucketed = {r.event_id: (r.o_orderkey, r.o_totalprice)
                    for r in asof_join_bucketed(events, latest, bucket_sec=bucket, **kw).collect()}
        assert bucketed == plain, f"bucket_sec={bucket}"

    # empty-middle-bucket: right at t=0h, left at t=50h, bucket=1 day
    # -> left's bucket (2) and bucket 1 have no right rows; carry must
    # reach back across both
    t0 = dt.datetime(2025, 1, 1)
    left = spark.createDataFrame(
        [(1, t0 + dt.timedelta(hours=50), "e")], "k long, t timestamp, ev string"
    )
    right = spark.createDataFrame(
        [(1, t0, 7, 1.0)], "k long, t timestamp, rid long, val double"
    )
    out = asof_join_bucketed(
        left, right, "k", "k", "t", "t", ("rid", "val"), bucket_sec=86400
    ).collect()
    assert len(out) == 1 and out[0].rid == 7


def test_asof_join_bucketed_partitions_by_key_and_bucket(spark):
    """The big shuffle must be on (key, bucket) — partitioning by key
    alone would recreate the hot-key single-task sort this variant
    exists to avoid."""
    import datetime as dt

    from group_2_shopware_enterprise_data_engineering_project_spark.operators.asof import (
        asof_join_bucketed,
    )

    left = spark.createDataFrame(
        [(1, dt.datetime(2025, 1, 1), "e")], "k long, t timestamp, ev string"
    )
    right = spark.createDataFrame(
        [(1, dt.datetime(2025, 1, 1), 1, 1.0)], "k long, t timestamp, rid long, val double"
    )
    plan = (
        asof_join_bucketed(left, right, "k", "k", "t", "t", ("rid",))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "hashpartitioning(_k" in plan
    assert "_b" in plan.split("hashpartitioning(_k")[1][:40]  # (key, bucket)


def _union_find_labels(n, edges):
    """Reference components: pure-Python union-find, each node labeled
    with the minimum id of its component."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n)}


def test_cc_matches_union_find_on_random_graphs(spark):
    """Min-label propagation must produce the identical (id ->
    min-of-component) labeling as a union-find reference on a seeded
    random graph with a chain segment."""
    import random

    rng = random.Random(7)
    n = 60
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges_py = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(45)
    ] + [(i, i + 1) for i in range(10, 16)]  # guaranteed chain segment
    edges = spark.createDataFrame(edges_py, "src long, dst long")
    got = {r.id: r.cluster_rep for r in connected_components(nodes, edges).collect()}
    assert got == _union_find_labels(n, edges_py)


def test_cc_raises_when_chain_exceeds_round_cap(spark):
    """A 200-node path graph needs ~diameter = 199 propagation rounds,
    so under a 12-round cap the loop must raise its non-convergence
    error rather than return partially propagated labels."""
    import pytest

    n = 200
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, edges, max_iter=12).collect()


def test_asof_tolerance_drops_stale_not_replaces(spark):
    """merge_asof tolerance semantics: the LATEST prior match is
    dropped when stale — an older in-tolerance row must NOT be
    substituted; boundary is inclusive (age == tolerance survives)."""
    from pyspark.sql import functions as F

    from group_2_shopware_enterprise_data_engineering_project_spark.operators.asof import (
        asof_join_tolerance,
    )

    left = spark.createDataFrame(
        [(1, 1, 1000), (2, 1, 2000), (3, 1, 3000)],
        "event_id long, user_id long, ts_s long",
    ).select("event_id", "user_id", F.timestamp_seconds("ts_s").alias("ts"))
    # views: at 995s (in tolerance for event 1 only) and 800s (stale
    # for everything but would be "in tolerance" for nothing)
    right = spark.createDataFrame(
        [(10, 1, 995), (11, 1, 1990)],
        "view_id long, v_user long, vts_s long",
    ).select("view_id", "v_user", F.timestamp_seconds("vts_s").alias("view_ts"))
    out = {
        r.event_id: r.view_id
        for r in asof_join_tolerance(
            left,
            right,
            left_key="user_id",
            right_key="v_user",
            left_ts="ts",
            right_ts="view_ts",
            payload_cols=("view_id",),
            tolerance_sec=10,
            right_tiebreak="view_id",
        ).collect()
    }
    # event 1: latest prior = 995, age 5s -> kept
    # event 2: latest prior = 1990, age 10s -> kept (inclusive bound)
    # event 3: latest prior = 1990, age 1010s -> DROPPED, and the
    #          older 995 view must NOT be substituted
    assert out == {1: 10, 2: 11}

    # right_ts colliding with a left column is rejected loudly
    import pytest

    with pytest.raises(ValueError, match="collides"):
        asof_join_tolerance(
            left,
            right.withColumnRenamed("view_ts", "ts"),
            left_key="user_id",
            right_key="v_user",
            left_ts="ts",
            right_ts="ts",
            payload_cols=("view_id",),
            tolerance_sec=10,
        )
