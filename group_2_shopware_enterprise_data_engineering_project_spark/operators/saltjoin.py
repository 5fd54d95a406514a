"""Lossless salt-split self-join: THE bounded-reducer pattern for
bucketed candidate generation, shared by every near-dup family
(embedding SRP buckets, semdedup clusters, MinHash band buckets, and
the SimHash / media-pHash banded-Hamming join, `banded_hamming_pairs`).

A bucket of n > cap rows hashes its members into s = ceil(n/cap)
groups; each row is replicated into one task row per sub-task it
participates in — task (min(g, t), max(g, t)) for t in 0..s-1 — and
the self-join matches rows only within the same (bucket, i, j) task
with a canonical orientation, so:

  - every same-bucket pair meets in EXACTLY one task (the pair with
    groups (ga, gb) meets in task (min, max); same-group pairs order
    by id) — the pair SET is identical to the unsalted join;
  - no reducer ever materializes more than ~cap^2 candidates,
    regardless of skew (AQE skew-join only re-schedules partitions;
    it cannot bound join OUTPUT volume).

Buckets at or under the cap have s = 1 and degenerate to the plain
self-join row — the salt costs nothing on well-behaved data.

One implementation on purpose: the orientation clauses
(a._g == a._i, b._g == b._j, the i==j id-order tiebreak) are the
subtle part of the algebra, and three near-identical copies of them
had begun to accrete across the dedup operators.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Hard per-reducer cap for every near-dup self-join: a bucket larger
# than this — a dense embedding cluster, a boilerplate MinHash band, a
# hot signature band — is salt-split across (s*(s+1))/2 sub-tasks,
# bounding a task's candidate-pair work at ~BUCKET_CAP^2 regardless of
# skew (AQE skew-join re-schedules partitions but cannot bound join
# OUTPUT volume).
BUCKET_CAP = 1024


def salted_pair_tasks(
    bucketed: DataFrame,
    bucket_cap: int,
    bucket_cols: tuple[str, ...] = ("bucket",),
    id_col: str = "vec_id",
) -> DataFrame:
    """Explode each bucket's rows into self-join sub-task assignments
    (adds ``_g``, ``_i``, ``_j``).

    Bucket sizes come from a map-side-combined groupBy restricted to
    OVERSIZED buckets, broadcast back onto the rows — NOT from a
    ``count() over (partition by bucket)`` window. The window version
    full-row-shuffles and sorts every bucket row before the join (and
    a self-join evaluates that subtree once per side unless the
    exchange is reused); the agg shuffles only (bucket, count) pairs
    after partial aggregation, and the oversized list is tiny by
    construction (each entry represents > cap rows, so there are at
    most n/cap of them — broadcastable at any scale). Well-behaved
    buckets join against an empty broadcast and keep ``_s = 1``: the
    salt costs one scan of a 0-row side.

    NULL bucket keys: the broadcast join (like the downstream pair
    self-join) never matches NULL keys, so NULL-bucket rows keep
    ``_s = 1`` unsalted — harmless, because the pair join's equality
    condition can never pair them either."""
    oversized = (
        bucketed.groupBy(*[F.col(c) for c in bucket_cols])
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > bucket_cap)
        .select(
            *bucket_cols,
            F.ceil(F.col("_n") / F.lit(bucket_cap)).cast("int").alias("_s_over"),
        )
    )
    sized = bucketed.join(
        F.broadcast(oversized), list(bucket_cols), "left"
    ).withColumn("_s", F.coalesce(F.col("_s_over"), F.lit(1))).drop("_s_over")
    return (
        sized.withColumn("_g", F.pmod(F.xxhash64(id_col), F.col("_s")).cast("int"))
        .withColumn("_t", F.explode(F.sequence(F.lit(0), F.col("_s") - 1)))
        .withColumn("_i", F.least("_g", "_t"))
        .withColumn("_j", F.greatest("_g", "_t"))
        .drop("_t", "_s")
    )


def salted_join_cond(
    bucket_cols: tuple[str, ...], id_col: str
) -> Column:
    """Join condition over ``a``/``b`` aliases of a `salted_pair_tasks`
    frame: same bucket + same task, a in the i-group role, b in the
    j-group role, same-group tasks ordered by id — each pair meets
    exactly once."""
    cond = reduce(
        operator.and_,
        (F.col(f"a.{c}") == F.col(f"b.{c}") for c in bucket_cols),
    )
    return (
        cond
        & (F.col("a._i") == F.col("b._i"))
        & (F.col("a._j") == F.col("b._j"))
        & (F.col("a._g") == F.col("a._i"))
        & (F.col("b._g") == F.col("b._j"))
        & (
            (F.col("a._i") != F.col("a._j"))
            | (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        )
    )


def salted_pair_join(
    tasks: DataFrame,
    bucket_cols: tuple[str, ...] = ("bucket",),
    id_col: str = "vec_id",
) -> DataFrame:
    """Self-join a `salted_pair_tasks` frame under `salted_join_cond`;
    callers select their pair columns via the ``a.``/``b.`` aliases."""
    a, b = tasks.alias("a"), tasks.alias("b")
    return a.join(b, salted_join_cond(bucket_cols, id_col))


def banded_hamming_pairs(
    sigs: DataFrame,
    id_col: str,
    hash_col: str,
    n_bits: int,
    n_bands: int,
    max_hamming: int,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs, id_a < id_b, whose ``n_bits``-wide
    bit signatures (a LongType ``hash_col``) differ in at most
    ``max_hamming`` bits — the candidate + verify stage of SimHash and
    perceptual-hash near-dup.

    The signature splits into ``n_bands`` bands of n_bits // n_bands
    bits, keyed by an UNSIGNED shift + mask (so a negative signed-64
    signature bands on its raw bit pattern); rows self-join on
    (band_idx, band_key) through the salted pair join, so a hot band
    is capped at ~BUCKET_CAP^2 candidates per task, and candidates are
    verified by exact bit_count(xor). By pigeonhole every pair within
    Hamming n_bands - 1 shares an intact band: recall is 100% up to
    there, and wider radii get the usual banding recall. The shuffle
    carries (band key, id, signature) — never payloads. The salt does
    not order ids across groups, so pairs are oriented with
    least/greatest; a pair sharing several bands is kept once.

    ``sigs`` is persisted for the call: the band self-join reads it on
    both sides and the salt's band sizing once more, so an unpersisted
    signature projection (a Pandas UDF, an md5 over payloads) would
    run up to three times. The surviving pairs (ids + distance) are
    eagerly checkpointed and the cache is released on return."""
    band_bits = n_bits // n_bands
    mask = (1 << band_bits) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftrightunsigned(F.col(hash_col), i * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("band_key"),
            )
            for i in range(n_bands)
        ]
    )
    keys = ("band_idx", "band_key")
    sigs = sigs.select(id_col, hash_col).persist()
    try:
        exploded = sigs.select(
            id_col, hash_col, F.explode(bands).alias("_b")
        ).select(id_col, hash_col, "_b.band_idx", "_b.band_key")
        tasks = salted_pair_tasks(exploded, BUCKET_CAP, keys, id_col)
        pairs = (
            salted_pair_join(tasks, keys, id_col)
            .select(
                F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
                F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
                F.bit_count(
                    F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}"))
                )
                .cast("long")
                .alias("hamming"),
            )
            .distinct()
        )
        # No terminal global sort on the (potentially huge) pair list.
        return pairs.filter(F.col("hamming") <= max_hamming).localCheckpoint(
            eager=True
        )
    finally:
        sigs.unpersist()


def salted_bipartite_tasks(
    left: DataFrame,
    right: DataFrame,
    bucket_cap: int,
    bucket_cols: tuple[str, ...],
    left_id: str,
    right_id: str,
) -> tuple[DataFrame, DataFrame]:
    """Bipartite analogue of `salted_pair_tasks`: bound the per-reducer
    candidate volume of a LEFT x RIGHT bucket join when a bucket may be
    degenerate on EITHER side (the incremental-dedup shape: a small new
    shard probing a large stored index — skew lives on the index side;
    a large backfill shard probing a small index — skew lives on the
    shard side; both occur in production).

    Per bucket with n_l / n_r rows: s_l = ceil(n_l/cap) left groups,
    s_r = ceil(n_r/cap) right groups; subtask (i, j) for i < s_l,
    j < s_r. A left row in group i is replicated into (i, j) for every
    j (s_r task rows); a right row in group j into (i, j) for every i.
    Each (l, r) pair meets in EXACTLY one task — (g_l, g_r) — so the
    pair set equals the unsalted join, and no task joins more than
    ~cap x cap rows. Replication is sized per bucket from a map-side-
    combined count restricted to oversized buckets (broadcastable by
    construction: each entry represents > cap rows); well-behaved
    buckets keep s = 1 on both sides and degenerate to the plain join.
    NULL bucket keys never match in either the sizing or the pair join."""
    def _sizes(df: DataFrame, alias: str) -> DataFrame:
        return (
            df.groupBy(*[F.col(c) for c in bucket_cols])
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > bucket_cap)
            .select(
                *bucket_cols,
                F.ceil(F.col("_n") / F.lit(bucket_cap)).cast("int").alias(alias),
            )
        )

    sizing = (
        _sizes(left, "_sl_over")
        .join(_sizes(right, "_sr_over"), list(bucket_cols), "full")
        .select(
            *bucket_cols,
            F.coalesce("_sl_over", F.lit(1)).alias("_sl"),
            F.coalesce("_sr_over", F.lit(1)).alias("_sr"),
        )
    )

    def _tag(df: DataFrame, id_col: str, own: str, other: str, s_own: str, s_other: str) -> DataFrame:
        return (
            df.join(F.broadcast(sizing), list(bucket_cols), "left")
            .withColumn("_sl", F.coalesce("_sl", F.lit(1)))
            .withColumn("_sr", F.coalesce("_sr", F.lit(1)))
            .withColumn(own, F.pmod(F.xxhash64(id_col), F.col(s_own)).cast("int"))
            .withColumn(
                other, F.explode(F.sequence(F.lit(0), F.col(s_other) - 1))
            )
            .drop("_sl", "_sr")
        )

    lt = _tag(left, left_id, "_li", "_rj", "_sl", "_sr")
    rt = _tag(right, right_id, "_rj", "_li", "_sr", "_sl")
    return lt, rt


def salted_bipartite_join(
    left: DataFrame,
    right: DataFrame,
    bucket_cap: int,
    bucket_cols: tuple[str, ...],
    left_id: str,
    right_id: str,
) -> DataFrame:
    """LEFT x RIGHT bucket join under the bipartite salt; callers select
    their columns via the ``a.`` / ``b.`` aliases."""
    lt, rt = salted_bipartite_tasks(
        left, right, bucket_cap, bucket_cols, left_id, right_id
    )
    cond = reduce(
        operator.and_,
        (F.col(f"a.{c}") == F.col(f"b.{c}") for c in bucket_cols),
    )
    cond = cond & (F.col("a._li") == F.col("b._li")) & (
        F.col("a._rj") == F.col("b._rj")
    )
    return lt.alias("a").join(rt.alias("b"), cond)
