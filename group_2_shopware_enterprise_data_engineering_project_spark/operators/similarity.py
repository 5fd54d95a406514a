"""Embedding similarity search (ANN) and embedding near-dup over
array<float> columns.

Entry points compose a small set of stage helpers, each with one
implementation:

- exact scoring: `dot` / `l2_norm` / `cosine` (fixed left-fold order),
  `cosine_pre` with per-vector norms, and the partial top-k
  `_topk_per_query` — used by every ranked entry point;
- SRP-LSH buckets: `_srp_bucketed` (vec_id, v, _vn, bucket), behind
  `lsh_topk` / `lsh_topk_multiprobe` (via `_lsh_search`) and
  `embedding_near_dup_pairs` (salted same-bucket pair join);
- coarse quantizer: `_sampled_lloyd` trains `kmeans_centroids` and,
  one run per subspace, `pq_codebook_kmeans`; `_assign_nearest` is
  the packed-centroid fold behind `ivf_assign`, `ivf_topk`, `semdedup`
  and the trainer itself;
- IVF probing: `_ivf_candidates` (ranked probe lists + exact cosine
  over the probed lists), behind `ivf_topk` and `ivf_recall_curve`;
- product quantization: `pq_seed_codebook` (also the residual codebook
  of `ivfpq_topk`), `_nearest_codes` (struct(d, c) per subspace: its
  codes encode through `_pq_encode` for `pq_topk` and `ivfpq_topk`,
  its distances sum to `pq_distortion`), and the ADC scorer
  `_adc_topk`, behind `pq_topk` and `ivfpq_topk`;
- recall curves: `_recall_curve` scores `ivf_recall_curve` and
  `prefix_recall_curve` against brute-force truth.

`brute_force_topk` is the exact baseline: broadcast queries, the
corpus streams past them and never shuffles. All math is double
precision with a fixed left-to-right fold order, so results are
bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from group_2_shopware_enterprise_data_engineering_project_spark.functions.partitioning import (
    spread,
)
from group_2_shopware_enterprise_data_engineering_project_spark.operators.saltjoin import (
    BUCKET_CAP,
    salted_pair_join,
    salted_pair_tasks,
)

NUM_PLANES = 8
DIM = 64

def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine`` with PRE-COMPUTED norms: bit-identical to
    ``dot(a,b) / (l2_norm(a) * l2_norm(b))`` — ``na``/``nb`` are the
    same ``sqrt(dot(v,v))`` doubles and the ``na * nb`` product keeps
    the same operand order — but the two self-fold norms are evaluated
    once per VECTOR instead of once per PAIR. In every pair/candidate
    stage the norm folds were 2/3 of the per-row array work (r12 stage
    profile: the e2/e5/e6 verify stages are pure executor compute on
    these expressions), so carrying an 8-byte norm per row buys a ~3x
    cut in that stage's arithmetic at any scale."""
    return dot(a, b) / (na * nb)


def _topk_per_query(sims: DataFrame, k: int, sim_col: str = "cos_sim") -> DataFrame:
    """Exact distributed top-k per query WITHOUT shuffling every scored
    row. A window over partitionBy(query_id) ships |Q| x N scored rows
    through one exchange (1e10 rows for 10 queries over a 1e9 corpus);
    instead: (1) per-PHYSICAL-partition top-k — groupBy(query_id,
    spark_partition_id) completes map-side, so the exchange carries at
    most |Q| x num_partitions x k rows — then (2) top-k of that union.
    Semantics are identical to ranking by (sim DESC, neighbor_id ASC):
    elements sort by a (-sim, neighbor_id) struct key; `+ 0.0`
    normalizes an IEEE -0.0 so both engines order sim == 0 rows purely
    by the neighbor tiebreak, and a NaN sim (zero-norm vector -> 0/0)
    maps to -Infinity so it ranks FIRST — both Spark's descending sort
    and DuckDB's ORDER BY DESC treat NaN as the largest double, and a
    naive negation would instead sink it to last. Output: (query_id,
    neighbor_id, sim_col, rank), rank 1-based.
    """
    neg = F.when(F.isnan(F.col(sim_col)), F.lit(float("-inf"))).otherwise(
        (F.lit(0.0) - F.col(sim_col)) + F.lit(0.0)
    )
    elem = F.struct(
        neg.alias("_neg"),
        F.col("neighbor_id").alias("neighbor_id"),
        F.col(sim_col).alias(sim_col),
    )
    topk = lambda col: F.slice(F.array_sort(F.collect_list(col)), 1, k)  # noqa: E731
    stage1 = (
        sims.withColumn("_pid", F.spark_partition_id())
        .groupBy("query_id", "_pid")
        .agg(topk(elem).alias("_t"))
    )
    stage2 = (
        stage1.select("query_id", F.explode("_t").alias("_e"))
        .groupBy("query_id")
        .agg(topk(F.col("_e")).alias("_t"))
    )
    return stage2.select(
        "query_id", F.posexplode("_t").alias("_pos", "_e")
    ).select(
        "query_id",
        F.col("_e.neighbor_id").alias("neighbor_id"),
        F.col(f"_e.{sim_col}").alias(sim_col),
        (F.col("_pos") + 1).cast("long").alias("rank"),
    )


def embedding_norms(emb: DataFrame) -> DataFrame:
    v = _as_double(F.col("embedding"))
    return spread(emb).select(
        "vec_id", "label", l2_norm(v).alias("l2_norm")
    )


def _query_corpus(emb: DataFrame, query_pred: Column) -> tuple[DataFrame, DataFrame]:
    """The exact-scan frame pair behind `brute_force_topk` and
    `prefix_recall_curve`: the broadcast query side (query_id, qv) and
    the spread corpus side (neighbor_id, nv), both as double vectors."""
    queries = F.broadcast(
        emb.filter(query_pred).select(
            F.col("vec_id").alias("query_id"),
            _as_double(F.col("embedding")).alias("qv"),
        )
    )
    corpus = spread(emb).select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("nv"),
    )
    return queries, corpus


def brute_force_topk(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    query_pred: Column | None = None,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per query vector (self excluded).

    Queries are broadcast; the corpus side is embarrassingly parallel.

    This is the ONE similarity path that does NOT use the
    ``cosine_pre`` norm precompute: a 3-arm interleaved A/B at sf0.1
    (r13, permuted run order; medians over 6 reps) read plain
    ``cosine`` 1.11 s vs corpus-side precompute 2.22 s vs query-only
    precompute 1.50 s — the scan-side norm projection costs more than
    it saves when each corpus row is scored against only |Q| broadcast
    queries (|Q| is small on the brute path by construction; exact
    scoring of every corpus row is only sane for few queries). The
    precompute stays in the LSH/IVF/near-dup/semdedup paths, where a
    vector's norm amortizes over its whole candidate fan-out and the
    r12 plan-verified wins (e6 1.67x) live.
    """
    if query_pred is None:
        query_pred = F.col("vec_id").isin(query_ids or [])
    queries, corpus = _query_corpus(emb, query_pred)
    sims = (
        queries.crossJoin(corpus)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("nv")).alias("cos_sim"),
        )
    )
    return _topk_per_query(sims, k).orderBy("query_id", "rank")


def hyperplane_signs(num_planes: int = NUM_PLANES, dim: int = DIM) -> list[list[float]]:
    """Deterministic Rademacher (+-1) hyperplanes: sign of component
    (p, d) = first hex digit of md5("p:d"). No RNG -> reproducible
    everywhere, including in SQL oracles."""
    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p}:{d}".encode()).hexdigest()
            row.append(1.0 if h[0] in "01234567" else -1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """H-bit sign-pattern bucket key, e.g. '01101001'."""
    bits = []
    for row in planes:
        plane = F.array(*[F.lit(s) for s in row])
        d = dot(vec, plane)
        bits.append(F.when(d > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _srp_bucketed(emb: DataFrame) -> DataFrame:
    """(vec_id, v, _vn, bucket): the corpus as double vectors with their
    l2 norm and NUM_PLANES-bit SRP bucket — the one bucketed frame that
    both `_lsh_search` and `embedding_near_dup_pairs` join on."""
    planes = hyperplane_signs(NUM_PLANES)
    return spread(emb).select(
        F.col("vec_id"),
        _as_double(F.col("embedding")).alias("v"),
        l2_norm(_as_double(F.col("embedding"))).alias("_vn"),
        lsh_bucket(_as_double(F.col("embedding")), planes).alias("bucket"),
    )


def _lsh_search(
    emb: DataFrame,
    query_ids: list[int] | None,
    query_pred: Column | None,
    k: int,
    n_flip_bits: int,
) -> DataFrame:
    """Shared SRP-LSH search body: bucket the corpus once, broadcast
    the query side fanned out to its own bucket plus the first
    ``n_flip_bits`` Hamming-distance-1 probe buckets, exact-cosine the
    candidates, rank with the partial top-k. ``n_flip_bits=0`` is
    plain single-bucket LSH; ``n_flip_bits=NUM_PLANES`` is full
    1-bit multi-probe. One body so the bucketing/cosine semantics
    cannot drift between the two public entry points."""
    bucketed = _srp_bucketed(emb)
    if query_pred is None:
        query_pred = F.col("vec_id").isin(query_ids or [])
    flip = lambda i: F.concat(  # noqa: E731 — flip sign bit i (1-based)
        F.substring(F.col("qbucket"), 1, i - 1),
        F.when(F.substring(F.col("qbucket"), i, 1) == "1", F.lit("0")).otherwise(
            F.lit("1")
        ),
        F.substring(F.col("qbucket"), i + 1, NUM_PLANES - i),
    )
    queries = F.broadcast(
        bucketed.filter(query_pred)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("_vn").alias("_qn"),
            F.col("bucket").alias("qbucket"),
        )
        .select(
            "query_id",
            "qv",
            "_qn",
            F.explode(
                F.array(
                    F.col("qbucket"), *[flip(i) for i in range(1, n_flip_bits + 1)]
                )
            ).alias("pbucket"),
        )
    )
    cands = (
        queries.join(bucketed, queries["pbucket"] == bucketed["bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_pre(
                F.col("qv"), F.col("v"), F.col("_qn"), F.col("_vn")
            ).alias("cos_sim"),
        )
    )
    return _topk_per_query(cands, k).orderBy("query_id", "rank")


def lsh_topk(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    query_pred: Column | None = None,
    k: int = 5,
) -> DataFrame:
    """ANN top-k within same-bucket candidates. Approximate: neighbors
    in other buckets are missed by design (recall ~ (1 - theta/pi)^H
    per Charikar's collision bound); determinism is exact.

    Reducer skew is a non-issue on this path: queries are BROADCAST, so
    the bucket match is a map-side hash join — the corpus never
    shuffles on the bucket key and an oversized bucket just streams
    past the query map.
    """
    return _lsh_search(emb, query_ids, query_pred, k, n_flip_bits=0)


def lsh_topk_multiprobe(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    query_pred: Column | None = None,
    k: int = 5,
) -> DataFrame:
    """Multi-probe SRP-LSH (Lv et al. 2007): besides its own bucket,
    each query probes the H Hamming-distance-1 buckets (one sign bit
    flipped). A near neighbor that disagrees on exactly one hyperplane
    — the dominant miss mode at high cosine — is recovered, so recall
    rises steeply without adding planes (which would shrink every
    bucket and cost corpus-side work instead of query-side).

    Cost shape: the corpus is bucketed once (same as `lsh_topk`); only
    the BROADCAST query side fans out x(H+1). Probe buckets are
    pairwise distinct and each corpus vector lives in exactly one
    bucket, so a (query, neighbor) candidate arises at most once — no
    dedup stage. Candidates then rank via the partial top-k.
    """
    return _lsh_search(emb, query_ids, query_pred, k, n_flip_bits=NUM_PLANES)


N_CENTROIDS = 16

# --- sampled k-means (trained coarse quantizer) ----------------------------
# Centroid means are snapped to a 1e-6 grid: per-dimension component =
# SUM(BIGINT floor(x*1e6 + 0.5)) / (count * 1e6). BIGINT addition is
# associative (order-free across partitions/engines) and the final
# int/int double division is IEEE-exact, so trained centroids are
# bit-identical between Spark and the DuckDB oracle — a float mean
# would be summation-order-dependent and break the exact hash compare.
KMEANS_ITERS = 2
KMEANS_SCALE = 1_000_000
KMEANS_SAMPLE = 4096
TARGET_LIST_ROWS = 1024
MIN_CENTROIDS = 4
MAX_CENTROIDS = 65_536


def derive_n_centroids(n_rows: int) -> int:
    """C ~= ceil(sqrt(n)), clamped. The sqrt rule balances per-query
    probe cost (C centroid dot products) against list-scan cost
    (n_probe * n/C candidates) — the standard IVF sizing. 10^9 vectors
    -> ~32k lists of ~32k vectors."""
    import math

    if n_rows <= 0:
        return MIN_CENTROIDS
    return max(MIN_CENTROIDS, min(MAX_CENTROIDS, math.ceil(math.sqrt(n_rows))))


def _sample_key() -> Column:
    """Deterministic cross-engine shuffle key: md5 of the decimal id
    string, identical in Spark (md5 of UTF-8 bytes) and DuckDB
    (md5(CAST(vec_id AS VARCHAR)))."""
    return F.md5(F.col("vec_id").cast("string").cast("binary"))


def _assign_nearest(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """TRULY map-side nearest-centroid assignment: the centroid set is
    packed into ONE array-of-structs row (sorted by centroid_id),
    broadcast, and each vector folds over it keeping the best
    (strictly-greater cosine; ties keep the earlier = lowest id) —
    identical semantics to ranking c_sim DESC, centroid_id ASC, but
    with ZERO shuffle. The naive crossJoin + window-per-vec_id
    formulation shuffles N x C scored rows (3e13 at N=1e9, C=sqrt(N));
    this fold is whole-stage-codegen per corpus row. NaN cosines
    (zero-norm vector or centroid) rank LARGEST — matching the
    window / DuckDB ORDER BY DESC semantics the oracles use: the
    first (lowest-id) NaN-sim centroid wins and is never displaced.
    vectors: (vec_id, v) -> (vec_id, v, nv, centroid_id) — ``nv`` is
    the vector's l2 norm, computed ONCE here (the fold previously
    re-derived it per centroid, C norm-folds per row) and carried so
    downstream candidate scoring never re-folds it either."""
    packed = centroids.groupBy().agg(
        # centroid_id leads the struct and is unique, so array_sort
        # orders identically with the precomputed norm field appended
        F.array_sort(
            F.collect_list(
                F.struct("centroid_id", "cv", l2_norm(F.col("cv")).alias("ncv"))
            )
        ).alias("_cents")
    )
    init = F.struct(
        F.lit(-2.0).cast("double").alias("sim"), F.lit(-1).cast("long").alias("id")
    )

    def step(acc, c):
        s = cosine_pre(F.col("v"), c["cv"], F.col("nv"), c["ncv"])
        take = (~F.isnan(acc["sim"])) & (F.isnan(s) | (s > acc["sim"]))
        return F.when(
            take,
            F.struct(s.alias("sim"), c["centroid_id"].cast("long").alias("id")),
        ).otherwise(acc)

    best = F.aggregate(F.col("_cents"), init, step)
    return (
        vectors.withColumn("nv", l2_norm(F.col("v")))
        .crossJoin(F.broadcast(packed))
        .select("vec_id", "v", "nv", best["id"].alias("centroid_id"))
    )


def _int_mean_centroids(assigned: DataFrame, scale: int = KMEANS_SCALE) -> DataFrame:
    """Lloyd update with integer-snapped means (see module comment):
    posexplode -> per-(centroid, dim) BIGINT sum -> exact division ->
    reassemble the array ordered by dimension. One shuffle on
    (centroid_id, pos); empty clusters drop out, as in the oracle."""
    exploded = assigned.select(
        "centroid_id", F.posexplode("v").alias("pos", "val")
    )
    means = exploded.groupBy("centroid_id", "pos").agg(
        (
            F.sum(F.floor(F.col("val") * scale + F.lit(0.5)).cast("long")).cast(
                "double"
            )
            / (F.count(F.lit(1)) * F.lit(float(scale)))
        ).alias("m")
    )
    return means.groupBy("centroid_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("cv")
    )


def _sampled_lloyd(emb: DataFrame, n_centroids: int, m: int = 1) -> DataFrame:
    """The one sampled-Lloyd trainer, behind `kmeans_centroids` (m=1,
    whole vectors) and `pq_codebook_kmeans` (one run per contiguous
    subspace of DIM // m dims). A deterministic md5-ordered sample
    of KMEANS_SAMPLE rows (distributed top-k take, never a full sort)
    is persisted; each run
    seeds from the sample's first ``n_centroids`` rows in that order
    and iterates `_int_mean_centroids(_assign_nearest(...))`
    KMEANS_ITERS times. Training
    runs eagerly and the result is rebuilt as a local-rows DataFrame
    (sub, centroid_id, cv): centroids are a *model*, so driver
    materialization keeps downstream plans free of the training
    lineage, and the sample cache is released before return."""
    sub_dim = DIM // m
    base = spread(emb).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    samp = base.orderBy(_sample_key(), "vec_id").limit(KMEANS_SAMPLE).persist()
    try:
        rows = []
        for s in range(m):
            view = samp if m == 1 else samp.select(
                "vec_id", F.slice(F.col("v"), s * sub_dim + 1, sub_dim).alias("v")
            )
            cents = (
                view.orderBy(_sample_key(), "vec_id")
                .limit(n_centroids)
                .select(
                    (
                        F.row_number().over(Window.orderBy(_sample_key(), "vec_id"))
                        - 1
                    ).alias("centroid_id"),
                    F.col("v").alias("cv"),
                )
            )
            for _ in range(KMEANS_ITERS):
                cents = _int_mean_centroids(_assign_nearest(view, cents))
            rows += [(s, *r) for r in cents.collect()]
        schema = T.StructType(
            [T.StructField("sub", T.LongType(), False), *cents.schema.fields]
        )
        return emb.sparkSession.createDataFrame(rows, schema)
    finally:
        samp.unpersist()


def kmeans_centroids(emb: DataFrame, n_centroids: int | None = None) -> DataFrame:
    """Train IVF centroids: `_sampled_lloyd` over whole vectors, seeded
    by the md5-ordered sample's first `n_centroids` rows.
    n_centroids=None derives C from the corpus size (sqrt rule).
    Returns (centroid_id, cv) MATERIALIZED as local rows — the
    standard k-means contract for a model of <= MAX_CENTROIDS rows; no
    persisted RDD stays pinned for the session's lifetime."""
    if n_centroids is None:
        n_centroids = derive_n_centroids(emb.count())
    return _sampled_lloyd(emb, n_centroids).drop("sub")


def _centroids(emb: DataFrame, n_centroids: int):
    """Broadcast centroid set: the first `n_centroids` vectors by id —
    a deterministic, training-free quantizer. The e5/e7 oracle family
    mirrors exactly this seed; `kmeans_centroids` is the trained
    alternative (e9) for real skewed corpora."""
    return F.broadcast(
        emb.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("centroid_id"),
            _as_double(F.col("embedding")).alias("cv"),
        )
    )


def ivf_assign(
    emb: DataFrame,
    n_centroids: int = N_CENTROIDS,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF coarse quantizer: assign every vector to its nearest
    centroid by cosine (ties -> lowest centroid id).

    The centroid set broadcasts (n_centroids x dim floats), so
    assignment is a map-side crossJoin + per-vector argmin: the corpus
    never shuffles to get partitioned into lists.
    """
    if centroids is None:
        centroids = _centroids(emb, n_centroids)
    return _assign_nearest(
        spread(emb).select(
            F.col("vec_id"), _as_double(F.col("embedding")).alias("v")
        ),
        centroids,
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    query_pred: Column | None = None,
    k: int = 5,
    n_centroids: int = N_CENTROIDS,
    n_probe: int = 1,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat ANN: probe the query's `n_probe` nearest centroid lists
    and rank exact cosine within the probed candidates.

    The scale shape: the corpus shuffles ONCE on centroid_id into
    inverted lists; each query touches ~n_probe * N/n_centroids vectors
    instead of N. Recall tunes with n_probe — at n_probe == n_centroids
    the result equals brute force exactly (tests/test_similarity.py
    pins recall@k monotonicity and that equivalence). Pass
    ``centroids`` (e.g. from ``kmeans_centroids``) to search against a
    trained quantizer instead of the first-N seed.
    """
    if centroids is None:
        centroids = _centroids(emb, n_centroids)
    else:
        # trained centroids arrive materialized (kmeans_centroids) —
        # broadcast-hint only, no persist to leak across the session
        centroids = F.broadcast(centroids)
    if query_pred is None:
        query_pred = F.col("vec_id").isin(query_ids or [])
    # persist released in the finally below: the result (top-k per
    # query) is materialized eagerly first, so the corpus-sized
    # assignment cache never outlives this call (cache-release
    # discipline per kmeans_centroids/pagerank).
    assigned = ivf_assign(emb, centroids=centroids).persist()
    try:
        cands = _ivf_candidates(assigned, query_pred, centroids, n_probe)
        out = _topk_per_query(cands, k).orderBy("query_id", "rank")
        # |Q| x k rows — eager materialization is cheap and releases
        # the corpus-sized assignment cache on return
        return out.localCheckpoint(eager=True)
    finally:
        assigned.unpersist()


def _ivf_candidates(
    assigned: DataFrame, query_pred: Column, centroids: DataFrame, n_probe: int
) -> DataFrame:
    """The one IVF probe stage, behind `ivf_topk` and
    `ivf_recall_curve`: each query ranks every centroid by cosine
    (|Q| x C rows, both sides driver-small) by (p_sim DESC,
    centroid_id) and keeps the ``n_probe`` nearest lists; the corpus
    vectors in those lists (self excluded) are scored by exact cosine.
    ``assigned`` is an `ivf_assign` frame (vec_id, v, nv, centroid_id).
    Returns (query_id, neighbor_id, cos_sim, _pr), ``_pr`` being the
    1-based probe rank of the list the candidate was found through."""
    queries = assigned.filter(query_pred).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("_qn"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("p_sim").desc(), F.col("centroid_id")
    )
    probes = F.broadcast(
        queries.crossJoin(centroids)
        .select(
            "query_id",
            "qv",
            "_qn",
            "centroid_id",
            # |Q| x C probe-scoring rows — driver-small, so only the
            # query-side norm is worth carrying here
            (
                dot(F.col("qv"), F.col("cv"))
                / (F.col("_qn") * l2_norm(F.col("cv")))
            ).alias("p_sim"),
        )
        .withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= n_probe)
        .select("query_id", "qv", "_qn", F.col("centroid_id").alias("qc"), "_pr")
    )
    # the corpus side is aliased: probes derives from the same
    # `assigned` frame, so bare column refs to its attributes would be
    # ambiguous under self-join lineage
    corp = assigned.alias("_corp")
    return (
        probes.join(corp, F.col("qc") == F.col("_corp.centroid_id"))
        .filter(F.col("_corp.vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("_corp.vec_id").alias("neighbor_id"),
            cosine_pre(
                F.col("qv"), F.col("_corp.v"), F.col("_qn"), F.col("_corp.nv")
            ).alias("cos_sim"),
            "_pr",
        )
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    bucket_cap: int = BUCKET_CAP,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the semantic-dedup stage
    of a training-data pipeline): SRP-LSH buckets -> same-bucket
    candidate pairs -> exact cosine >= threshold.

    Scale shape: any bucket that exceeds `bucket_cap` (skew: dense
    embedding clusters, exact-dup floods) is salt-split — its rows are hashed into s = ceil(n/cap)
    groups and the (i, j) group-pair sub-tasks are enumerated
    explicitly, so no reducer ever sees more than ~cap^2 candidate
    pairs. The split is LOSSLESS: every same-bucket pair lands in
    exactly one (min(g_a, g_b), max(g_a, g_b)) sub-task, so results are
    identical to the unsalted join — skew changes the schedule, never
    the answer. Near-identical vectors agree on every hyperplane sign
    with probability ~(1 - theta/pi)^H, so high-threshold pairs are
    rarely missed. Output ordered for determinism.
    """
    # persisted so the salt-split's oversized-bucket sizing agg and the
    # pair join share one evaluation of the H-plane projection (the
    # sizing branch would otherwise re-run lsh_bucket over the corpus;
    # r7 bisect, PERF.md)
    bucketed = _srp_bucketed(emb).persist()
    tasks = salted_pair_tasks(bucketed, bucket_cap).persist()
    try:
        return _near_dup_pairs_body(tasks, threshold)
    finally:
        tasks.unpersist()
        bucketed.unpersist()


def _near_dup_pairs_body(tasks: DataFrame, threshold: float) -> DataFrame:
    pairs = (
        salted_pair_join(tasks, ("bucket",), "vec_id")
        .select(
            F.least(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_a"),
            F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_b"),
            cosine_pre(
                F.col("a.v"), F.col("b.v"), F.col("a._vn"), F.col("b._vn")
            ).alias("cos_sim"),
        )
    )
    # No terminal global sort on the (potentially huge) pair list;
    # only threshold-surviving pairs (id, id, sim — no vectors)
    # materialize, so the salted-task cache can be released on return.
    return pairs.filter(F.col("cos_sim") >= threshold).localCheckpoint(eager=True)


SEMDEDUP_THRESHOLD = 0.4


def derive_semdedup_centroids(n_rows: int) -> int:
    """C = ceil(n / TARGET_LIST_ROWS), clamped. Unlike IVF's sqrt rule
    (which balances probe cost vs list-scan cost), SemDedup's cluster
    count must grow LINEARLY with the corpus: the within-cluster
    self-join does O(size^2) work per cluster, so holding expected
    cluster size constant (~TARGET_LIST_ROWS rows) keeps per-cluster
    pair work bounded at any corpus scale — 10^9 vectors -> ~10^6
    clusters of ~1k (capped at MAX_CENTROIDS, where the residual
    oversize is absorbed by the salt-split cap instead)."""
    import math

    if n_rows <= 0:
        return MIN_CENTROIDS
    return max(
        MIN_CENTROIDS, min(MAX_CENTROIDS, math.ceil(n_rows / TARGET_LIST_ROWS))
    )


def semdedup(
    emb: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    n_centroids: int | None = None,
) -> DataFrame:
    """SemDedup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by k-means clustering + within-cluster cosine.

    Each vector keeps unless some LOWER-id vector in its cluster is
    more similar than `threshold` — the lowest id in any semantic
    duplicate group survives as the representative, exactly the
    keep-one-per-group rule of the paper (which keeps one point per
    high-similarity pair within each cluster; id order stands in for
    the paper's arbitrary choice, making the result deterministic).

    Scale shape (the reason this beats all-pairs near-dup for SEMANTIC
    — mid-similarity — dedup, where LSH recall collapses):
    - centroids are a trained sampled-k-means model (`kmeans_centroids`
      — driver-small, broadcast);
    - assignment is the zero-shuffle packed-centroid fold
      (`_assign_nearest`);
    - the only wide exchange is the self-join's shuffle on
      centroid_id, with cluster count derived linearly from corpus
      size (`derive_semdedup_centroids`) so expected per-cluster work
      is constant, and `saltjoin.salted_pair_tasks` hard-capping any skewed
      cluster at ~BUCKET_CAP^2 candidate pairs per task;
    - the shuffle carries (vec_id, v, cluster) — vectors, not
      payloads, and only cluster-mates ever meet.

    Returns one row per input vector: (vec_id, centroid_id,
    max_lower_sim, keep) — max_lower_sim is NULL when no lower-id
    cluster-mate exists (cluster representatives), and such rows
    always keep.
    """
    if n_centroids is None:
        n_centroids = derive_semdedup_centroids(emb.count())
    centroids = kmeans_centroids(emb, n_centroids=n_centroids)
    assigned = ivf_assign(emb, centroids=centroids).persist()
    try:
        return _semdedup_body(assigned, threshold)
    finally:
        assigned.unpersist()


def _semdedup_body(assigned: DataFrame, threshold: float) -> DataFrame:
    bucketed = assigned.select(
        "vec_id", "v", "nv", F.col("centroid_id").alias("bucket")
    )
    tasks = salted_pair_tasks(bucketed, BUCKET_CAP)
    # Same lossless sub-task enumeration as embedding_near_dup_pairs;
    # orientation matters here: the HIGHER id of each pair is the dup
    # candidate, so attribute the similarity to greatest(vec_id).
    pair_sims = salted_pair_join(tasks, ("bucket",), "vec_id").select(
        F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_id"),
        cosine_pre(
            F.col("a.v"), F.col("b.v"), F.col("a.nv"), F.col("b.nv")
        ).alias("sim"),
    )
    # max() is order-free, so the reduced column is exactly
    # reproducible cross-engine; NaN (zero-norm vectors) ranks largest
    # in BOTH Spark and DuckDB max/comparison semantics.
    max_lower = pair_sims.groupBy("vec_id").agg(
        F.max("sim").alias("max_lower_sim")
    )
    out = (
        assigned.join(max_lower, "vec_id", "left")
        .select(
            "vec_id",
            "centroid_id",
            "max_lower_sim",
            (
                F.col("max_lower_sim").isNull()
                | (F.col("max_lower_sim") < F.lit(threshold))
            ).alias("keep"),
        )
    )
    # one narrow row per input vector (ids + sim + flag, no vectors) —
    # eager so semdedup() can release the assignment cache on return
    return out.localCheckpoint(eager=True)


def label_stats(emb: DataFrame) -> DataFrame:
    """Per-label corpus stats (count + norm extrema — order-independent
    aggregates only, so exactly reproducible)."""
    v = _as_double(F.col("embedding"))
    norms = emb.select("label", l2_norm(v).alias("n"))
    return (
        norms.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("n").alias("min_norm"),
            F.max("n").alias("max_norm"),
        )
        .orderBy("label")
    )


# --- int8 scalar quantization ----------------------------------------------


def quantize_embeddings(emb: DataFrame) -> DataFrame:
    """Per-vector max-abs int8 quantization: q_i = round_half_up(x_i *
    127 / max|x|) in [-127, 127]. At 100 TB this is the
    storage/bandwidth lever of vector search — 4x smaller than
    float32 AND integer dot products, at a small recall cost that
    `test_similarity.py` measures rather than assumes.

    Scale factors cancel inside cosine (cos(qa, qb) needs no
    dequantization), so downstream search carries only the int vector
    and its precomputed integer-exact norm. floor(x*s + 0.5) is the
    deterministic rounding both engines share (F.round's half-even on
    doubles is not guaranteed identical cross-engine).
    """
    x = _as_double(F.col("embedding"))
    s = F.lit(127.0) / F.array_max(F.transform(x, F.abs))
    qvec = F.transform(x, lambda v: F.floor(v * s + F.lit(0.5)).cast("long"))
    qq = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("qvec"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        spread(emb)
        .select("vec_id", qvec.alias("qvec"))
        .withColumn("qnorm", F.sqrt(qq.cast("double")))
    )


def quantized_topk(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    query_pred: Column | None = None,
    k: int = 5,
) -> DataFrame:
    """Brute-force top-k on int8-quantized cosine: integer dot
    products (exact, fold-order-free semantics since int addition is
    associative — though the fold is still fixed-order) divided by
    precomputed norms. Same broadcast-queries/corpus-streams shape as
    `brute_force_topk`; the corpus side is 4x less I/O.
    """
    if query_pred is None:
        query_pred = F.col("vec_id").isin(query_ids or [])
    q = quantize_embeddings(emb)
    queries = F.broadcast(
        q.filter(query_pred).select(
            F.col("vec_id").alias("query_id"),
            F.col("qvec").alias("qa"),
            F.col("qnorm").alias("na"),
        )
    )
    corpus = q.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qvec").alias("qb"),
        F.col("qnorm").alias("nb"),
    )
    idot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    sims = (
        queries.crossJoin(corpus)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (idot.cast("double") / (F.col("na") * F.col("nb"))).alias("q_cos_sim"),
        )
    )
    return _topk_per_query(sims, k, sim_col="q_cos_sim")


# --- product quantization (PQ) ANN -----------------------------------------
#
# The memory-compression path beyond int8 scalar quantization (e8):
# split each D-dim vector into PQ_M contiguous subvectors, quantize
# each against a per-subspace codebook of PQ_CODES centroids, and
# store only the code ids — D*4 bytes -> PQ_M bytes per vector (64x at
# the defaults). Search uses Asymmetric Distance Computation: the
# query stays full-precision, per-(subspace, code) distances form a
# tiny table, and a corpus vector's approximate distance is the sum of
# PQ_M table lookups — no decompression, no per-dim math at scan time.
#
# Codebook discipline mirrors the IVF pair e5/e9: `pq_seed_codebook`
# is the training-free deterministic quantizer (subvectors of the
# first PQ_CODES vectors by id) that the e12 oracle reproduces in SQL;
# real corpora should train per-subspace k-means instead
# (`pq_codebook_kmeans`: `_sampled_lloyd`, one run per subspace).
# Float discipline: every distance is a sequential left-fold over
# ascending dims (matches list_sum), and the PQ_M partial distances
# are added in explicit subspace order — bit-identical to the
# oracle's CASE-pivoted d0+d1+d2+d3.

PQ_M = 4
PQ_CODES = 16
PQ_SUB_DIM = DIM // PQ_M


def sq_dist(a: Column, b: Column) -> Column:
    """Sequential left-fold squared L2 distance (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_seed_codebook(emb: DataFrame) -> DataFrame:
    """Training-free PQ codebook: subspace s's codes are dims
    [s*PQ_SUB_DIM, (s+1)*PQ_SUB_DIM) of the first PQ_CODES vectors by
    id. Returns (sub, code, cv) — a model-sized table (PQ_M * PQ_CODES
    rows).
    """
    base = emb.filter(F.col("vec_id") < PQ_CODES).select(
        F.col("vec_id").alias("code"), _as_double(F.col("embedding")).alias("v")
    )
    subs = base.sparkSession.range(PQ_M).select(F.col("id").cast("long").alias("sub"))
    return base.crossJoin(F.broadcast(subs)).select(
        "sub",
        "code",
        F.slice(F.col("v"), F.col("sub") * PQ_SUB_DIM + 1, PQ_SUB_DIM).alias("cv"),
    )


def _packed_codebook(codebook: DataFrame):
    """Materialize the codebook (a model: m*k rows) and pack it as ONE
    nested-array row [sub][code] -> centroid, for broadcast into
    shuffle-free per-row folds."""
    rows = codebook.collect()
    m = max(r["sub"] for r in rows) + 1
    k = max(r["code"] for r in rows) + 1
    packed = [[None] * k for _ in range(m)]
    for r in rows:
        packed[r["sub"]][r["code"]] = list(r["cv"])
    spark = codebook.sparkSession
    return spark.createDataFrame(
        [(packed,)], "cb: array<array<array<double>>>"
    ), m, k


def _nearest_codes(m: int) -> Column:
    """The one PQ nearest-code fold: per subspace s in 0..m-1,
    struct(d, c) — the squared L2 from subvector s of ``v`` to its
    nearest centroid in the packed codebook ``cb`` (`_packed_codebook`)
    and that centroid's code. Strictly-smaller wins, so ties keep the
    LOWEST code (ranking dist ASC, code ASC). Encoding reads ``c``,
    distortion sums ``d``."""
    sub_dim = DIM // m

    def nearest(sub: Column) -> Column:
        sv = F.slice(F.col("v"), sub * sub_dim + 1, sub_dim)
        codes_arr = F.element_at(F.col("cb"), (sub + 1).cast("int"))
        init = F.struct(
            F.lit(float("inf")).alias("d"), F.lit(-1).cast("long").alias("c")
        )

        def step(acc, pair):
            d = sq_dist(sv, pair["cv"])
            return F.when(
                d < acc["d"], F.struct(d.alias("d"), pair["c"].alias("c"))
            ).otherwise(acc)

        with_idx = F.transform(
            codes_arr, lambda cv, i: F.struct(i.cast("long").alias("c"), cv.alias("cv"))
        )
        return F.aggregate(with_idx, init, step)

    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)), lambda s: nearest(s.cast("long"))
    )


def _pq_encode(vectors: DataFrame, packed: DataFrame, m: int, *keep) -> DataFrame:
    """(*keep, codes) for a (.., v) frame against an already-packed
    codebook: a pure codegen fold over the broadcast codebook row, so
    the corpus never shuffles."""
    return vectors.crossJoin(F.broadcast(packed)).select(
        *keep, F.transform(_nearest_codes(m), lambda b: b["c"]).alias("codes")
    )


def _adc_topk(
    cands: DataFrame, q_col: str, packed: DataFrame, m: int, k: int
) -> DataFrame:
    """The one Asymmetric Distance Computation stage, behind `pq_topk`
    and `ivfpq_topk`: a candidate row (query_id, neighbor_id, codes,
    q_col) scores sq_dist(query subvector, the code's centroid) per
    subspace, summed in explicit left-to-right subspace order
    (((d0+d1)+d2)+d3 — the oracle's CASE-pivoted sum), self excluded.
    Ranking: approx_dist ASC, neighbor_id ASC, via the partial top-k
    fold on the negated distance — never a global window. Returns
    (query_id, neighbor_id, approx_dist, rank)."""
    sub_dim = DIM // m
    approx = reduce(
        operator.add,
        [
            sq_dist(
                F.slice(F.col(q_col), s * sub_dim + 1, sub_dim),
                F.element_at(
                    F.element_at(F.col("cb"), s + 1),
                    (F.element_at(F.col("codes"), s + 1) + 1).cast("int"),
                ),
            )
            for s in range(m)
        ],
    )
    sims = (
        cands.crossJoin(F.broadcast(packed))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", (F.lit(0.0) - approx).alias("cos_sim"))
    )
    return _topk_per_query(sims, k).select(
        "query_id",
        "neighbor_id",
        (F.lit(0.0) - F.col("cos_sim")).alias("approx_dist"),
        "rank",
    )


def pq_topk(
    emb: DataFrame,
    query_pred: Column,
    codebook: DataFrame | None = None,
    k: int = 5,
) -> DataFrame:
    """PQ-ANN top-k via Asymmetric Distance Computation (`_adc_topk`):
    full-precision broadcast queries against PQ codes, the codebook
    packed once for both encoding and scoring. Output (query_id,
    neighbor_id, approx_dist, rank); self excluded."""
    if codebook is None:
        codebook = pq_seed_codebook(emb)
    packed, m, _k = _packed_codebook(codebook)
    queries = F.broadcast(
        emb.filter(query_pred).select(
            F.col("vec_id").alias("query_id"),
            _as_double(F.col("embedding")).alias("qv"),
        )
    )
    base = spread(emb).select("vec_id", _as_double(F.col("embedding")).alias("v"))
    codes = _pq_encode(base, packed, m, F.col("vec_id").alias("neighbor_id"))
    return _adc_topk(queries.crossJoin(codes), "qv", packed, m, k)


def pq_codebook_kmeans(emb: DataFrame) -> DataFrame:
    """Trained PQ codebook (sub, code, cv): `_sampled_lloyd` run once
    per subspace on the same md5-ordered sample, with the
    integer-snapped means of `kmeans_centroids`. The codebook is a
    model, so the training cost is bounded by PQ_M * KMEANS_SAMPLE, not
    the corpus."""
    return _sampled_lloyd(emb, PQ_CODES, PQ_M).withColumnRenamed(
        "centroid_id", "code"
    )


# --- IVF-PQ composite (coarse quantizer + residual PQ + ADC) ---------------
#
# The production ANN stack (FAISS IVFPQ): a coarse quantizer routes
# each vector to one of C inverted lists, the RESIDUAL (vector minus
# its coarse centroid) is PQ-encoded, and a query scans only its
# n_probe nearest lists, scoring residual codes by ADC against the
# query's own residual per probed list. Memory per vector is PQ_M
# bytes + a list id; search cost is (n_probe / C) of the corpus.
#
# Geometry note: coarse assignment here is L2 (not the cosine used by
# the standalone IVF family) because residual encoding is a Euclidean
# construction — subtracting a cosine-nearest centroid would leave
# residual norms unbounded. Seed quantizers (first-N vectors, first-N
# residuals) keep the whole operator SQL-expressible for the oracle;
# kmeans_centroids / pq_codebook_kmeans are the trained drop-ins.


def sub_vec(a: Column, b: Column) -> Column:
    """Element-wise a - b (deterministic per-element IEEE subtract)."""
    return F.zip_with(a, b, lambda x, y: x - y)


def _assign_nearest_l2(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Map-side nearest-centroid assignment by squared L2: packed
    broadcast fold, strictly-smaller distance wins so ties keep the
    lowest centroid id (oracle mirror: ORDER BY dist, id). Same
    zero-shuffle shape as the cosine `_assign_nearest`."""
    packed = centroids.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("centroid_id", "cv"))).alias("_cents")
    )
    init = F.struct(
        F.lit(float("inf")).alias("d"), F.lit(-1).cast("long").alias("id")
    )

    def step(acc, c):
        d = sq_dist(F.col("v"), c["cv"])
        return F.when(
            d < acc["d"],
            F.struct(d.alias("d"), c["centroid_id"].cast("long").alias("id")),
        ).otherwise(acc)

    best = F.aggregate(F.col("_cents"), init, step)
    return vectors.crossJoin(F.broadcast(packed)).select(
        "vec_id", "v", best["id"].alias("centroid_id")
    )


def ivfpq_topk(
    emb: DataFrame,
    query_pred: Column | None = None,
    query_ids: list[int] | None = None,
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-PQ search: probe the ``n_probe`` L2-nearest coarse lists per
    query and rank their residual-PQ codes by ADC. Output
    (query_id, neighbor_id, approx_dist, rank); self excluded.

    Plan shape: coarse assignment and PQ encoding are zero-shuffle
    broadcast folds over the corpus; the probe table is |Q|·n_probe
    rows (broadcast); candidate scoring joins codes on the list id —
    an equi-join that touches only probed lists — and the final cut is
    the two-stage partial top-k. Nothing ever shuffles raw vectors.
    """
    if query_pred is None:
        query_pred = F.col("vec_id").isin(query_ids or [])

    base = spread(emb).select("vec_id", _as_double(F.col("embedding")).alias("v"))
    coarse = F.broadcast(
        base.filter(F.col("vec_id") < N_CENTROIDS).select(
            F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
        )
    )
    assigned = _assign_nearest_l2(base, coarse)
    residuals = assigned.join(
        coarse.select(F.col("centroid_id"), F.col("cv").alias("_cv")),
        "centroid_id",
    ).select(
        "vec_id", "centroid_id", sub_vec(F.col("v"), F.col("_cv")).alias("v")
    )

    # residual codebook: residuals of the first PQ_CODES vectors, cut
    # into subspaces exactly as pq_seed_codebook cuts raw vectors
    codebook = pq_seed_codebook(
        residuals.select("vec_id", F.col("v").alias("embedding"))
    )
    packed_cb, m, _k = _packed_codebook(codebook)
    codes = _pq_encode(
        residuals, packed_cb, m, F.col("vec_id").alias("neighbor_id"), "centroid_id"
    )

    # probe selection: |Q| x C scored rows (tiny — C is the coarse
    # count), rank n_probe per query by (dist, centroid_id)
    queries = base.filter(query_pred).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored_lists = queries.crossJoin(coarse).select(
        "query_id",
        "centroid_id",
        "qv",
        sq_dist(F.col("qv"), F.col("cv")).alias("cd"),
        sub_vec(F.col("qv"), F.col("cv")).alias("qres"),
    )
    wp = Window.partitionBy("query_id").orderBy("cd", "centroid_id")
    probes = F.broadcast(
        scored_lists.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= n_probe)
        .select("query_id", "centroid_id", "qres")
    )

    return _adc_topk(probes.join(codes, "centroid_id"), "qres", packed_cb, m, k)


def pool_chunk_embeddings(
    emb: DataFrame,
    group_col: str = "group_id",
    scale_bits: int = 20,
) -> DataFrame:
    """Mean-pool chunk embeddings into document embeddings — the
    aggregation step after a chunk-level embedding model runs (RAG
    indexing and doc-level SemDedup both consume pooled vectors). A
    naive float sum is partitioning-order-dependent; here each
    component is quantized to fixed point (x * 2^scale_bits, rounded),
    summed as BIGINT (order-free, exact), and the mean emitted as ONE
    division — bit-identical on any cluster layout, at the cost of
    2^-scale_bits quantization (1e-6 at 20 bits, far below fp32 noise).

    Emits one SCALAR row per (group, component): n_chunks, the exact
    integer sum, and the mean — long-format because pooled arrays
    would re-enter the float-array comparison surface this operator
    exists to avoid; the array re-assembly is a downstream
    collect_list the consumer does.

    Scale: posexplode is a map-side fan-out (64x rows, narrow), the
    one shuffle is the map-side-combined (group, pos) agg.
    """
    scale = 1 << scale_bits
    ex = spread(emb).select(
        F.col(group_col),
        F.posexplode(F.col("embedding")).alias("pos", "_x"),
    )
    q = F.floor(F.col("_x").cast("double") * F.lit(float(scale)) + F.lit(0.5)).cast(
        "long"
    )
    return (
        ex.groupBy(group_col, "pos")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(q).cast("long").alias("sum_q"),
        )
        .select(
            group_col,
            F.col("pos").cast("long").alias("pos"),
            "n_chunks",
            "sum_q",
            (
                F.col("sum_q").cast("double")
                / (F.col("n_chunks") * F.lit(scale)).cast("double")
            ).alias("mean"),
        )
    )


def two_stage_topk(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    query_pred: Column | None = None,
    k: int = 5,
    pool: int = 20,
) -> DataFrame:
    """Two-stage retrieval (the production serving pattern): a CHEAP
    int8-quantized scan selects a per-query candidate pool (4x less
    corpus I/O than float32 — `quantized_topk`'s stage), then exact
    float cosine reranks only the pool to the final top-k. Emits the
    coarse rank alongside the exact rank, so rerank movement (the
    quality the second stage buys) is visible in the output.

    Scale shape: stage 1 is the quantized broadcast-queries/
    corpus-streams scan with partial top-pool; stage 2 touches only
    |Q| x pool vectors — the full-precision corpus is read once for
    the pool join (id-equi-join, broadcastable: the pool is
    |Q| x pool ids), never scanned per query.
    """
    if query_pred is None:
        query_pred = F.col("vec_id").isin(query_ids or [])
    coarse = quantized_topk(emb, query_pred=query_pred, k=pool).select(
        "query_id",
        "neighbor_id",
        F.col("rank").alias("coarse_rank"),
    )
    # float32 -> double BEFORE the fold (brute_force_topk's discipline:
    # a float32 zip_with fold diverges from the oracle's double fold in
    # the last ulps)
    vecs = emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    paired = (
        F.broadcast(coarse)
        .join(
            vecs.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("v").alias("nv"),
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                vecs.filter(query_pred).select(
                    F.col("vec_id").alias("query_id"),
                    F.col("v").alias("qv"),
                )
            ),
            "query_id",
        )
    )
    sims = paired.select(
        "query_id",
        "neighbor_id",
        "coarse_rank",
        cosine(F.col("qv"), F.col("nv")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cos_sim",
            "rank",
            F.col("coarse_rank").cast("long").alias("coarse_rank"),
        )
    )


def diversity_coreset(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucket-stratified diversity coreset: ONE representative per
    occupied SRP sign-bucket — the geometry-aware counterpart of
    uniform sampling (uniform keeps duplicates of dense regions;
    stratifying on the LSH partition guarantees every occupied corner
    of embedding space is represented once). SemDedup removes near-
    equal vectors; this SELECTS a spread subset — the shape used for
    seeding diverse eval sets or k-means-style inits without an
    iterative pass.

    Representative = min (md5 tiebroken by id) within the bucket:
    quality-blind, deterministic, and — because struct MIN combines
    map-side — the whole operator is ONE groupBy whose shuffle carries
    at most one candidate per (bucket, map task). No window over the
    corpus, no per-bucket sort.
    """
    planes = hyperplane_signs(NUM_PLANES)
    b = emb.select(
        F.col(id_col),
        lsh_bucket(_as_double(F.col(vec_col)), planes).alias("bucket"),
    )
    pick = F.min(
        F.struct(
            F.md5(F.concat(F.lit("div:"), F.col(id_col).cast("string"))).alias(
                "h"
            ),
            F.col(id_col).alias("i"),
        )
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("bucket_size"),
            pick.alias("m"),
        )
        .select("bucket", "bucket_size", F.col("m.i").alias("rep_id"))
    )


def rbo_weights(k: int, p: float) -> tuple[float, ...]:
    """Truncated rank-biased-overlap term weights (1-p) * p^(d-1) / d
    for d = 1..k (Webber et al. 2010, eq. 4 truncated at depth k) —
    computed ONCE in Python so both the Spark plan and any SQL oracle
    interpolate the SAME double literals (the k30/a35 transcendental-
    free discipline: p^(d-1) never evaluates engine-side)."""
    return tuple((1.0 - p) * p ** (d - 1) / d for d in range(1, k + 1))


def rbo_overlap(
    a: DataFrame,
    b: DataFrame,
    k: int,
    p: float,
    query_col: str = "query_id",
    item_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Truncated rank-biased overlap between two top-k rankings of the
    same query set: RBO_k = sum_{d=1..k} (1-p) p^(d-1) |A_:d ∩ B_:d|/d.

    The overlap-at-depth trick: an item common to both lists is inside
    BOTH depth-d prefixes iff max(rank_a, rank_b) <= d, so one
    id-equi-join of the two k-row-per-query rankings plus k conditional
    counts replaces any per-depth set intersection. The score is ONE
    fixed-shape expression tree over integer overlap counts and
    Python-literal weights — no engine-side powers, no unordered float
    SUM, so it is bit-reproducible across engines.

    Queries present in ``a`` but sharing no item with ``b`` score 0.0
    (left join + coalesce). Scale shape: both inputs are k rows per
    query by construction, so the join and groupBy shuffle O(k x
    n_queries) rows regardless of corpus size.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if not (0.0 < p < 1.0):
        raise ValueError("p must be in (0, 1)")
    w = rbo_weights(k, p)
    qa = [query_col, item_col]
    j = (
        a.select(*qa, F.col(rank_col).alias("_ra"))
        .join(b.select(*qa, F.col(rank_col).alias("_rb")), qa)
        .select(query_col, F.greatest("_ra", "_rb").alias("m"))
    )
    o_aggs = [
        F.count(F.when(F.col("m") <= d, F.lit(1))).cast("long").alias(f"o{d}")
        for d in range(1, k + 1)
    ]
    o = j.groupBy(query_col).agg(*o_aggs)
    score = None
    for d, wd in enumerate(w, start=1):
        term = F.col(f"o{d}").cast("double") * F.lit(wd)
        score = term if score is None else score + term
    qs = a.select(query_col).distinct()
    return qs.join(o, query_col, "left").select(
        query_col,
        F.coalesce(F.col(f"o{k}"), F.lit(0)).cast("long").alias("n_common"),
        F.coalesce(score, F.lit(0.0)).alias("rbo"),
    )


def pq_distortion(emb: DataFrame, codebook: DataFrame) -> DataFrame:
    """Per-vector product-quantization reconstruction error — the
    standard codebook-quality eval (Jegou et al. 2011 report it as the
    curve every PQ design trades against recall): for each subspace
    the error is the squared L2 to the NEAREST code (exactly what ADC
    loses vs exact search), and the vector's distortion is the sum
    over subspaces in ascending-subspace order.

    Float discipline: min over doubles is exact; the cross-subspace
    sum is a fixed-shape LEFT fold seeded at 0.0 ((((0+d0)+d1)+d2)+d3
    for m=4), so an oracle writing `0.0 + s0 + s1 + ...` reproduces it
    bit-for-bit. No cross-ROW float aggregation anywhere — the output
    is per-vector.

    Scale shape: the codebook is a model (m x k rows) packed and
    broadcast exactly as ``_pq_encode``'s; the corpus pays one codegen
    fold per row and never shuffles. Returns (vec_id, sq_err).
    """
    packed, m, _k = _packed_codebook(codebook)
    base = spread(emb).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    total = F.aggregate(
        _nearest_codes(m), F.lit(0.0), lambda acc, b: acc + b["d"]
    )
    return base.crossJoin(F.broadcast(packed)).select(
        "vec_id", total.alias("sq_err")
    )


def ivf_recall_curve(
    emb: DataFrame,
    query_pred: Column,
    probes: tuple[int, ...] = (1, 2, 4),
    k: int = 5,
    n_centroids: int = N_CENTROIDS,
) -> DataFrame:
    """Recall@k of IVF search at several ``n_probe`` settings against
    brute-force truth, as ONE plan: the corpus is assigned to inverted
    lists ONCE, candidates are gathered once at max(probes) carrying
    their probe rank, and each setting's top-k is a rank over the
    SAME candidate frame filtered to ``_pr <= p`` (probe candidate
    sets are nested in p, so nothing is recomputed). Contrast with
    invoking ``ivf_topk`` per setting, which would re-shuffle the
    corpus per point on the curve.

    Exact float: recall = integer hit count / literal k. Returns
    (n_probe, query_id, n_hits, recall) for every (setting, query)
    pair, zero-hit queries included.
    """
    centroids = _centroids(emb, n_centroids)
    assigned = ivf_assign(emb, centroids=centroids).persist()
    cands = None
    try:
        cands = _ivf_candidates(
            assigned, query_pred, centroids, max(probes)
        ).persist()
        out = _recall_curve(
            emb,
            query_pred,
            k,
            "n_probe",
            [(p, cands.filter(F.col("_pr") <= p), "cos_sim") for p in probes],
        )
        # settings x |Q| rows — eager, so both corpus caches release
        return out.localCheckpoint(eager=True)
    finally:
        if cands is not None:
            cands.unpersist()
        assigned.unpersist()


def prefix_recall_curve(
    emb: DataFrame,
    query_pred: Column,
    dims: tuple[int, ...] = (8, 16, 32),
    k: int = 5,
) -> DataFrame:
    """Recall@k of BRUTE-FORCE cosine over embedding PREFIXES vs the
    full-dimension truth — the Matryoshka (MRL) truncation-quality
    curve: how much ranking quality each prefix length retains decides
    the serve-time dim/cost point. ONE plan: a single query-broadcast
    corpus pass computes every prefix cosine side by side (slices of
    the same row — no per-dim rescan), each dim's top-k ranks its own
    column, and all settings share one brute-force truth.

    Exact float: per-pair cosines are fixed-shape ascending-dim folds
    (same discipline as brute_force_topk); recall = integer hit count
    / literal k. Returns (dim, query_id, n_hits, recall).
    """
    queries, corpus = _query_corpus(emb, query_pred)
    sims_cols = [
        cosine(F.slice("qv", 1, d), F.slice("nv", 1, d)).alias(f"cos_{d}")
        for d in dims
    ]
    pairs = (
        queries.crossJoin(corpus)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", *sims_cols)
        .persist()
    )
    try:
        out = _recall_curve(
            emb, query_pred, k, "dim", [(d, pairs, f"cos_{d}") for d in dims]
        )
        return out.localCheckpoint(eager=True)
    finally:
        pairs.unpersist()


def _recall_curve(
    emb: DataFrame,
    query_pred: Column,
    k: int,
    setting_col: str,
    ranked: list[tuple[int, DataFrame, str]],
) -> DataFrame:
    """The one recall@k tail, behind `ivf_recall_curve` and
    `prefix_recall_curve`. ``ranked`` holds (setting, candidate frame,
    sim column) per point on the curve; each setting keeps its top-k
    per query by (sim DESC, neighbor_id), and its hits against the
    brute-force truth are counted. Every (setting, query) pair gets a
    row, zero-hit queries included. Exact float: recall = integer hit
    count / literal k. Returns (setting_col, query_id, n_hits, recall),
    lazy."""
    truth = brute_force_topk(emb, query_pred=query_pred, k=k).select(
        "query_id", "neighbor_id"
    )
    appx = None
    for value, cands, sim_col in ranked:
        wr = Window.partitionBy("query_id").orderBy(
            F.col(sim_col).desc(), F.col("neighbor_id")
        )
        ap = (
            cands.withColumn("_rk", F.row_number().over(wr))
            .filter(F.col("_rk") <= k)
            .select(
                F.lit(value).cast("long").alias(setting_col),
                "query_id",
                "neighbor_id",
            )
        )
        appx = ap if appx is None else appx.unionByName(ap)
    hits = (
        appx.join(truth, ["query_id", "neighbor_id"])
        .groupBy(setting_col, "query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    settings = appx.select(setting_col).distinct()
    base = truth.select("query_id").distinct().crossJoin(F.broadcast(settings))
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0))
    return base.join(hits, [setting_col, "query_id"], "left").select(
        setting_col,
        "query_id",
        n_hits.cast("long").alias("n_hits"),
        (n_hits.cast("double") / F.lit(float(k))).alias("recall"),
    )
