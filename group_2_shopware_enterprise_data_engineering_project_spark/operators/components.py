"""Distributed connected components: the clustering step that turns
near-duplicate PAIRS into dedup verdicts (one kept representative per
cluster of mutual near-dups).

Spark has no built-in CC (GraphX is Scala-only, GraphFrames is an
external package), so this is iterative min-label propagation on
DataFrames: every node repeatedly adopts the smallest label among
itself and its neighbors until fixpoint. Rounds needed = graph
diameter; near-dup graphs are unions of small dense clusters (pairs,
triangles, small stars), so convergence is 2-4 rounds in practice.
A graph whose diameter exceeds ``max_iter`` (an adversarial long
chain) raises instead of returning unconverged labels. The
alternating large-star/small-star scheme (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC 2014) bounds rounds at
O(log n) on any graph, but runs two groupBys, two joins and two
convergence jobs per round; every caller here clusters near-dup
graphs, which propagation finishes in those 2-4 rounds.

Scale notes: each round is one join (labels onto edge endpoints — the
edge list shuffles on src, the labels on id) plus one min-groupBy with
map-side combine. Labels are (id, label) longs only — never payloads.
The loop's lineage is cut by localCheckpoint every CC_CHECKPOINT_EVERY
rounds (unbounded lineage would make round k replay rounds 1..k-1);
the per-round convergence test is an isEmpty() action over the changed
set, O(1) result on the driver (the standard distributed-CC stopping
rule — not a data collect). It is isEmpty(), not ``.limit(1).count()``:
a codegen'd LocalLimit names its counter after a global id
(``_limit_counter_<n>``), so every limit-count call compiles new
classes, while isEmpty()'s plan repeats exactly and hits Spark's
codegen cache.

No counterpart in the reference (its dedup is single-batch
drop_duplicates, pos_transform.py); this is the beyond-reference
completion of the MinHash/SimHash family: pairs -> clusters -> keep
list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: Label-propagation rounds between lineage truncations.
CC_CHECKPOINT_EVERY = 5


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Label every node with the minimum node id reachable through
    ``edges`` (undirected). Returns (id, cluster_rep).

    ``nodes`` may contain ids absent from ``edges`` — they come back
    as singleton clusters (cluster_rep == id), which is what a dedup
    keep-list wants: every document gets a verdict.
    """
    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .union(edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b")))
        .distinct()
        .persist()
    )
    labels = nodes.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("label")
    ).persist()

    try:
        for i in range(max_iter):
            # neighbors' labels flow along edges; min with own label
            msgs = sym.join(labels, sym["a"] == labels["id"]).select(
                F.col("b").alias("id"), "label"
            )
            new_labels = (
                labels.union(msgs).groupBy("id").agg(F.min("label").alias("label"))
            )
            if (i + 1) % CC_CHECKPOINT_EVERY == 0:
                new_labels = new_labels.localCheckpoint(eager=False)
            new_labels = new_labels.persist()

            converged = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.label") != F.col("o.label"))
                .isEmpty()
            )
            labels.unpersist()
            labels = new_labels
            if converged:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )
        return labels.select("id", F.col("label").alias("cluster_rep"))
    finally:
        sym.unpersist()


def dedup_verdicts(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup (doc_a, doc_b) pairs -> per-document dedup verdict: cluster
    representative (min doc_id in the connected cluster) and a keep
    flag (representative survives, other members drop). Documents in
    no pair keep themselves.
    """
    cc = connected_components(
        docs.select(id_col),
        pairs.select("doc_a", "doc_b"),
        id_col=id_col,
        src_col="doc_a",
        dst_col="doc_b",
    )
    return cc.select(
        F.col("id").alias(id_col),
        "cluster_rep",
        (F.col("id") == F.col("cluster_rep")).alias("is_keep"),
    )
