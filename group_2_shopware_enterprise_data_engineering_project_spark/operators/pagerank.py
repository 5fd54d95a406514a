"""Distributed PageRank in exact integer arithmetic.

Graph centrality for corpus curation: rank web-graph-ish nodes (docs,
domains, users, items) so downstream sampling can weight by
authority. The distributed shape is the classic one — per iteration,
join ranks to the edge list on src, aggregate contributions by dst —
O(iterations) shuffles, each carrying (node, contribution) pairs
only.

Determinism discipline: floating-point PageRank is NOT reproducible
across engines or even partition orders (double sums). Here rank is
carried in integer "mass units" (UNIT = 10^12 per node of initial
mass) and every step is BIGINT arithmetic:

    contrib(edge)  = rank(src) div outdeg(src)
    dang_share     = (Σ rank of sink nodes) div N
    rank'(node)    = (15·UNIT) div 100
                     + (85 · (Σ incoming contrib + dang_share)) div 100

Integer sums are associative and floor-division is exact, so the
result is bit-identical across engines, partitionings, and runs — the
paired DuckDB oracle unrolls the same recurrence. Floor losses leak a
few units of mass per node per iteration (bounded by outdeg·iters
units, i.e. ~10^-12 relative), a price worth paying for
reproducibility.

Overflow bound: 85 · (max incoming) must stay under 2^63; incoming is
at most total mass N·UNIT, so UNIT=10^12 is safe to N ≈ 10^5 even in
the adversarial all-mass-into-one-hub case (real graphs are orders of
magnitude safer). For larger N lower UNIT — precision scales down
gracefully.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

UNIT = 10**12
#: Iterations between lineage truncations of the rank table.
PR_CHECKPOINT_EVERY = 2


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Run ``iterations`` exact-integer PageRank steps over a directed
    edge list (distinct edges expected; duplicates would double-count
    contributions).

    Returns (node_id, rank_units, rank) for every node, where rank =
    rank_units / UNIT. Sink nodes (no out-edges) redistribute their
    mass uniformly — the standard dangling-node treatment.

    Each iteration's rank table is persisted: it is consumed twice
    (contribution join + dangling scan) and the loop would otherwise
    stack k iterations of joins into one exponential lineage. Every
    PR_CHECKPOINT_EVERY iterations the rank table is additionally
    localCheckpoint'ed, TRUNCATING the logical plan — persist alone
    keeps the full unrolled lineage alive (the r4 plan lint measured
    2,798 exchanges in the 3-iteration linted plan), and at 100x the
    iterations that plan itself becomes a driver-side cost and a
    recovery hazard.
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    base = (15 * UNIT) // 100

    # The edge list and the loop-invariant out-degree table are read
    # TWICE PER ITERATION (contribution join + outdeg/dangling); for a
    # derived edge frame (g1 builds it with a join + distinct) leaving
    # them unpersisted re-runs that build 2*iterations times (measured:
    # 13 -> 8 s warm for the 3-iteration g1 graph at sf0.1,
    # exceptAll-identical). Both are (src, dst)/(src, count) pairs —
    # node-scale, never document payloads.
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_nodes_row = nodes.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    outdeg = e.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("outdeg")
    ).persist(StorageLevel.MEMORY_AND_DISK)

    ranks = nodes.withColumn("r", F.lit(UNIT).cast("long")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    for it in range(iterations):
        with_deg = ranks.join(outdeg, ranks["node"] == outdeg["src"], "left")
        incoming = (
            e.join(
                with_deg.select("node", "r", "outdeg"),
                e["src"] == F.col("node"),
            )
            .select("dst", F.expr("r div outdeg").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("incoming"))
        )
        dangling = with_deg.filter(F.col("outdeg").isNull()).agg(
            F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("_dang")
        )
        new_ranks = (
            nodes.join(incoming, nodes["node"] == incoming["dst"], "left")
            .join(F.broadcast(dangling))
            .join(F.broadcast(n_nodes_row))
            .select(
                "node",
                (
                    F.lit(base).cast("long")
                    + F.expr(
                        f"(85 * (coalesce(incoming, 0) + (_dang div _n))) div 100"
                    )
                ).alias("r"),
            )
        )
        if (it + 1) % PR_CHECKPOINT_EVERY == 0:
            # truncate lineage: the checkpointed blocks ARE the
            # materialization, no extra persist/count needed
            new_ranks = new_ranks.localCheckpoint(eager=True)
        else:
            new_ranks = new_ranks.persist(StorageLevel.MEMORY_AND_DISK)
            new_ranks.count()  # materialize before unpersisting the parent
        ranks.unpersist()
        ranks = new_ranks

    # ranks is materialized, so the edge/degree/node caches are no
    # longer needed; the final (persisted) rank table is the only
    # cache left alive — one table of one row per node, the result
    # itself
    nodes.unpersist()
    e.unpersist()
    outdeg.unpersist()
    return ranks.select(
        F.col("node").alias("node_id"),
        F.col("r").alias("rank_units"),
        (F.col("r").cast("double") / F.lit(float(UNIT))).alias("rank"),
    )


def triangle_counts(edges: DataFrame, top_n: int = 20) -> DataFrame:
    """Per-node triangle participation over an undirected edge list
    (src < dst expected, one row per edge): the clustering signal used
    for community detection and spam-graph pruning.

    The join is the degree-oblivious canonical-order formulation —
    each triangle (a < b < c) is found exactly once via
    e(a,b) ⋈ e(b,c) ⋈ e(a,c), so no dedup and no double counting.
    Scale shape: two equi-join shuffles on node ids; the classic skew
    hardening (orienting edges from low to high DEGREE instead of id,
    which bounds each node's join fan-out by sqrt(m)) drops in by
    re-keying the same joins and is the documented upgrade for
    power-law graphs. Returns the top-N nodes by triangle count
    (count desc, node asc).
    """
    e = edges.select(
        F.col("src").cast("long").alias("a"), F.col("dst").cast("long").alias("b")
    ).where(F.col("a") < F.col("b"))
    e2 = e.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        e.join(e2, e["b"] == e2["b2"])
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    cut = per_node.orderBy(F.col("n_triangles").desc(), F.col("node").asc()).limit(
        top_n
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n_triangles").desc(), F.col("node").asc())
    return cut.withColumn("rank", F.row_number().over(w).cast("long"))
