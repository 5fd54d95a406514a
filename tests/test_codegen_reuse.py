"""Repeated ops must reuse their compiled whole-stage code.

Spark compiles every whole-stage-codegen plan to Java classes with
Janino and caches them by source text. Two things make a repeated op
recompile: a cache smaller than the op's working set (Spark's default
of 100 classes is below one corpus-curation op's ~138), and plans whose
generated source differs per call, such as ``.limit(1).count()``, whose
LocalLimit counter is named after a global id. Either one costs about a
second of compile time per op and restarts the JIT on the new classes.

The count of compiled classes comes from Spark's ``CodegenMetrics``
(one histogram update per compile). A connected-components pass over a
fixed graph repeats its plans exactly, so its third pass compiles
nothing. A curation pass does not quite: AQE's runtime choices for the
MinHash salted self-join can differ between passes, so a later pass may
meet a second variant of two of its stages for the first time (up to 4
compiles seen; the variant stays cached after that). Its third pass may
compile a few classes, where an undersized cache recompiles about 70 of
its ~105.

Earlier tests in the session may already have compiled these plans, so
no test here relies on its first pass being cold.
"""

from __future__ import annotations

import time

from group_2_shopware_enterprise_data_engineering_project_spark import session
from group_2_shopware_enterprise_data_engineering_project_spark.operators.components import (
    connected_components,
)
from group_2_shopware_enterprise_data_engineering_project_spark.pipelines.curation import (
    curate_corpus,
)


def _compiled(spark) -> int:
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def _compiles_per_pass(spark, run_pass, passes: int = 3) -> list[int]:
    out = []
    for _ in range(passes):
        c0 = _compiled(spark)
        run_pass()
        out.append(_compiled(spark) - c0)
    return out


def _corpus(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and then "
        "walks back home with a friend to rest "
    ).split()
    rows = [(i, " ".join(base + [f"tail{i}w{j}" for j in range(8)])) for i in range(30)]
    rows.append((100, rows[0][1]))  # exact dup
    rows.append((101, rows[1][1] + " x"))  # near dup
    rows.append((102, "short text"))  # quality fail
    rows.append((103, " ".join(["loop"] * 120)))  # repetition fail
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_get_spark_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )
    # headroom over the ~138 classes of the largest op's working set
    assert session.CODEGEN_CACHE_ENTRIES >= 5 * 138


def test_compile_count_sees_new_code(spark):
    # a literal no earlier plan used is inlined into new generated code
    fresh = time.time_ns() % 10**12
    counts = _compiles_per_pass(spark, lambda: spark.range(3).selectExpr(f"id + {fresh}L").collect(), 1)
    assert counts[0] > 0, counts


def test_curate_corpus_third_pass_reuses_its_code(spark):
    counts = _compiles_per_pass(spark, lambda: curate_corpus(_corpus(spark)).collect())
    assert counts[2] <= 8, f"classes compiled per pass: {counts}"


def test_connected_components_third_pass_compiles_nothing(spark):
    # a 7-node path (several propagation rounds, so the convergence
    # check runs repeatedly within a pass) plus a triangle and a
    # singleton
    path = [(i, i + 1) for i in range(6)]
    tri = [(10, 11), (11, 12), (12, 10)]

    def run_pass():
        nodes = spark.createDataFrame([(i,) for i in [*range(7), 10, 11, 12, 20]], "id long")
        edges = spark.createDataFrame(path + tri, "src long, dst long")
        got = {r.id: r.cluster_rep for r in connected_components(nodes, edges).collect()}
        assert got == {**{i: 0 for i in range(7)}, 10: 10, 11: 10, 12: 10, 20: 20}

    counts = _compiles_per_pass(spark, run_pass)
    assert counts[2] == 0, f"classes compiled per pass: {counts}"
