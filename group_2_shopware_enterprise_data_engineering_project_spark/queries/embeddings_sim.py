"""Similarity-search queries over `embeddings` with DuckDB oracles.

The cosine math uses double-precision sequential folds in both engines
(probed bit-identical), and the LSH hyperplanes are md5-derived
Rademacher signs computed independently — but identically — by the
Spark operator (Python md5) and the oracle (SQL md5), so even the
approximate path is exactly reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
    similarity,
)
from group_2_shopware_enterprise_data_engineering_project_spark.registry import register
from group_2_shopware_enterprise_data_engineering_project_spark.sources import table

_NORM = "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
_DOT = (
    "list_sum(list_transform(generate_series(1, 64), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)

N_QUERIES = 10
TOP_K = 5


E1_ORACLE = f"""
SELECT vec_id, label, {_NORM.format(v='embedding')} AS l2_norm
FROM embeddings
"""


@register(
    "e1_embedding_norms",
    E1_ORACLE,
    doc="per-vector L2 norm via native array fold (no UDF)",
)
def e1_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_norms(table(spark, sf_dir, "embeddings"))


E2_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings
), sims AS (
  SELECT query_id, neighbor_id,
         {_DOT.format(a='qv', b='nv')}
         / ({_NORM.format(v='qv')} * {_NORM.format(v='nv')}) AS cos_sim
  FROM q, c WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM sims
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


@register(
    "e2_ann_bruteforce",
    E2_ORACLE,
    doc="exact cosine top-5 per query (broadcast queries x corpus scan; "
    "corpus never shuffles) — the ANN ground-truth baseline",
)
def e2_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    out = similarity.brute_force_topk(
        emb, query_pred=F.col("vec_id") < N_QUERIES, k=TOP_K
    )
    return out.select("query_id", "neighbor_id", "cos_sim", "rank")


def _bucket_sql(vec: str, num_planes: int = similarity.NUM_PLANES) -> str:
    """H-bit sign-pattern bucket, signs derived from md5 IN SQL —
    mirrors similarity.hyperplane_signs exactly."""
    bits = []
    for p in range(num_planes):
        sign = (
            f"CASE WHEN substr(md5('{p}:' || CAST(i - 1 AS VARCHAR)), 1, 1) <= '7' "
            "THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END"
        )
        d = (
            f"list_sum(list_transform(generate_series(1, 64), "
            f"i -> CAST({vec}[i] AS DOUBLE) * ({sign})))"
        )
        bits.append(f"CASE WHEN {d} > 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(bits) + ")"


E3_ORACLE = f"""
WITH b AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS qv, bucket AS qbucket
  FROM b WHERE vec_id < {N_QUERIES}
), cands AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         {_DOT.format(a='q.qv', b='b.embedding')}
         / ({_NORM.format(v='q.qv')} * {_NORM.format(v='b.embedding')}) AS cos_sim
  FROM q JOIN b ON q.qbucket = b.bucket AND b.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM cands
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


@register(
    "e3_ann_lsh",
    E3_ORACLE,
    doc="sign-random-projection LSH (8 md5-derived Rademacher planes) "
    "bucket join + exact verify — the shuffle-once ANN scale path",
)
def e3_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    out = similarity.lsh_topk(emb, query_pred=F.col("vec_id") < N_QUERIES, k=TOP_K)
    return out.select("query_id", "neighbor_id", "cos_sim", "rank")


N_CENTROIDS = similarity.N_CENTROIDS

E5_ORACLE = f"""
WITH c AS (
  SELECT vec_id AS centroid_id, embedding AS cv
  FROM embeddings WHERE vec_id < {N_CENTROIDS}
), scored AS (
  SELECT e.vec_id, e.embedding AS v, c.centroid_id,
         {_DOT.format(a='e.embedding', b='c.cv')}
         / ({_NORM.format(v='e.embedding')} * {_NORM.format(v='c.cv')}) AS c_sim
  FROM embeddings e CROSS JOIN c
), assigned AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rn
    FROM scored
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, v AS qv, centroid_id AS qc
  FROM assigned WHERE vec_id < {N_QUERIES}
), cands AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
         {_DOT.format(a='q.qv', b='a.v')}
         / ({_NORM.format(v='q.qv')} * {_NORM.format(v='a.v')}) AS cos_sim
  FROM q JOIN assigned a ON q.qc = a.centroid_id AND a.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM cands
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


@register(
    "e5_ann_ivf",
    E5_ORACLE,
    doc=f"IVF-flat ANN ({N_CENTROIDS} broadcast centroids, n_probe=1): "
    "corpus shuffles once into inverted lists; each query scans "
    "~N/n_centroids candidates",
)
def e5_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    out = similarity.ivf_topk(emb, query_pred=F.col("vec_id") < N_QUERIES, k=TOP_K)
    return out.select("query_id", "neighbor_id", "cos_sim", "rank")


N_PROBE = 2

E7_ORACLE = f"""
WITH c AS (
  SELECT vec_id AS centroid_id, embedding AS cv
  FROM embeddings WHERE vec_id < {N_CENTROIDS}
), scored AS (
  SELECT e.vec_id, e.embedding AS v, c.centroid_id,
         {_DOT.format(a='e.embedding', b='c.cv')}
         / ({_NORM.format(v='e.embedding')} * {_NORM.format(v='c.cv')}) AS c_sim
  FROM embeddings e CROSS JOIN c
), assigned AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rn
    FROM scored
  ) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, v AS qv, centroid_id AS qc FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS pr
    FROM scored WHERE vec_id < {N_QUERIES}
  ) WHERE pr <= {N_PROBE}
), cands AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_DOT.format(a='p.qv', b='a.v')}
         / ({_NORM.format(v='p.qv')} * {_NORM.format(v='a.v')}) AS cos_sim
  FROM probes p JOIN assigned a ON p.qc = a.centroid_id AND a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM cands
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


@register(
    "e7_ann_ivf_probe2",
    E7_ORACLE,
    doc=f"IVF-flat ANN with multi-probe (n_probe={N_PROBE}): each query "
    "scans its 2 nearest inverted lists — the recall/cost knob; "
    "tests/test_similarity.py pins recall@k monotonicity in n_probe "
    "and probe-all == brute force",
)
def e7_ann_ivf_probe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    out = similarity.ivf_topk(
        emb, query_pred=F.col("vec_id") < N_QUERIES, k=TOP_K, n_probe=N_PROBE
    )
    return out.select("query_id", "neighbor_id", "cos_sim", "rank")


DUP_OFFSET = 1_000_000
N_DUPS = 50

E6_ORACLE = f"""
WITH seeded AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {DUP_OFFSET}, embedding FROM embeddings WHERE vec_id < {N_DUPS}
), sims AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_DOT.format(a='a.embedding', b='b.embedding')}
         / ({_NORM.format(v='a.embedding')} * {_NORM.format(v='b.embedding')}) AS cos_sim
  FROM seeded a JOIN seeded b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cos_sim FROM sims WHERE cos_sim >= 0.95
ORDER BY vec_a, vec_b
"""


@register(
    "e6_embedding_near_dup",
    E6_ORACLE,
    doc="embedding-cosine near-dup pairs (semantic dedup): SRP-LSH "
    "bucket join + exact cosine >= 0.95 over a dup-seeded corpus; "
    "oracle does exhaustive all-pairs (planted dups land in the same "
    "bucket, so LSH loses nothing at this threshold)",
)
def e6_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seeded = emb.unionAll(
        emb.filter(F.col("vec_id") < N_DUPS).select(
            (F.col("vec_id") + DUP_OFFSET).alias("vec_id"), "embedding"
        )
    )
    return similarity.embedding_near_dup_pairs(seeded, threshold=0.95)


E4_ORACLE = f"""
WITH norms AS (
  SELECT label, {_NORM.format(v='embedding')} AS n FROM embeddings
)
SELECT label, count(*) AS n_vectors, min(n) AS min_norm, max(n) AS max_norm
FROM norms GROUP BY label ORDER BY label
"""


@register(
    "e4_label_stats",
    E4_ORACLE,
    doc="per-label corpus stats (order-independent aggregates only)",
)
def e4_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.label_stats(table(spark, sf_dir, "embeddings"))


# --- E8: int8-quantized ANN -------------------------------------------------

E8_ORACLE = f"""
WITH qz AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
           * (CAST(127 AS DOUBLE)
              / list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))))
           + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS qvec
  FROM embeddings
), qn AS (
  SELECT vec_id, qvec,
         sqrt(CAST(list_sum(list_transform(generate_series(1, 64),
              i -> qvec[i] * qvec[i])) AS DOUBLE)) AS qnorm
  FROM qz
), q AS (
  SELECT vec_id AS query_id, qvec AS qa, qnorm AS na
  FROM qn WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS neighbor_id, qvec AS qb, qnorm AS nb FROM qn
), sims AS (
  SELECT query_id, neighbor_id,
         CAST(list_sum(list_transform(generate_series(1, 64),
              i -> qa[i] * qb[i])) AS DOUBLE) / (na * nb) AS q_cos_sim
  FROM q, c WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, q_cos_sim, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY q_cos_sim DESC, neighbor_id) AS rank
  FROM sims
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


@register(
    "e8_ann_quantized",
    E8_ORACLE,
    doc="int8-quantized cosine top-5 (per-vector max-abs scaling, "
    "integer dot products, scale factors cancel in cosine) — 4x "
    "smaller corpus I/O than float32; recall-vs-exact measured in "
    "tests, determinism via floor-half-up shared by both engines",
)
def e8_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    out = similarity.quantized_topk(
        emb, query_pred=F.col("vec_id") < N_QUERIES, k=TOP_K
    )
    return out.select("query_id", "neighbor_id", "q_cos_sim", "rank")


# --- e9: IVF with a TRAINED (sampled k-means) coarse quantizer -------------
#
# The oracle mirrors the full training loop: md5-ordered deterministic
# sample, first-C seed, KMEANS_ITERS unrolled Lloyd iterations with
# integer-snapped centroid means (BIGINT sums are order-free; int/int
# double division is IEEE-exact — see operators/similarity.py), then a
# full-corpus assignment and n_probe=1 search. C is derived from the
# corpus size in BOTH engines (ceil(sqrt(n)), clamped), so the same SQL
# is valid at any sf.

_KM_SCALE = similarity.KMEANS_SCALE
_KM_SAMPLE = similarity.KMEANS_SAMPLE


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_DOT.format(a=a, b=b)} / ({_NORM.format(v=a)} * {_NORM.format(v=b)})"
    )


def _km_assign_cte(vec_src: str, cent_src: str) -> str:
    """Nearest-centroid assignment (ties -> lowest centroid id)."""
    return f"""
  SELECT vec_id, v, centroid_id FROM (
    SELECT s.vec_id, s.v, c.centroid_id,
           row_number() OVER (PARTITION BY s.vec_id
             ORDER BY {_cos_sql('s.v', 'c.cv')} DESC, c.centroid_id) AS rn
    FROM {vec_src} s CROSS JOIN {cent_src} c
  ) WHERE rn = 1"""


def _km_update_cte(assign_src: str) -> str:
    """Lloyd update with integer-snapped means; empty clusters drop."""
    return f"""
  SELECT centroid_id, list(m ORDER BY pos) AS cv FROM (
    SELECT centroid_id, i AS pos,
           CAST(SUM(CAST(floor(v[i] * {_KM_SCALE} + 0.5) AS BIGINT)) AS DOUBLE)
             / (COUNT(*) * {_KM_SCALE}.0) AS m
    FROM {assign_src}, range(1, 65) t(i)
    GROUP BY centroid_id, i
  ) GROUP BY centroid_id"""


def _km_training_ctes(c_sql: str) -> str:
    """Shared WITH-clause body: deterministic sample, first-C seed,
    KMEANS_ITERS unrolled Lloyd iterations, full-corpus `assigned`
    (vec_id, v, centroid_id). `c_sql` is the centroid-count derivation
    (e9: sqrt rule; e11 SemDedup: linear rule) — the only difference
    between the two training oracles."""
    iter_ctes = []
    prev = "seed"
    for it in range(1, similarity.KMEANS_ITERS + 1):
        iter_ctes.append(f"a{it} AS ({_km_assign_cte('samp', prev)}\n)")
        iter_ctes.append(f"c{it} AS ({_km_update_cte(f'a{it}')}\n)")
        prev = f"c{it}"
    return f"""params AS (
  SELECT {c_sql} AS c
  FROM embeddings
), samp AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_KM_SAMPLE}
), seed AS (
  SELECT rn - 1 AS centroid_id, v AS cv FROM (
    SELECT row_number() OVER (
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn, v
    FROM samp
  ) WHERE rn <= (SELECT c FROM params)
), {', '.join(iter_ctes)}, corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), assigned AS ({_km_assign_cte('corpus', prev)}
)"""


_E9_C_SQL = (
    f"GREATEST({similarity.MIN_CENTROIDS}, LEAST({similarity.MAX_CENTROIDS}, "
    "CAST(ceil(sqrt(count(*))) AS INT)))"
)


def _e9_oracle() -> str:
    return f"""
WITH {_km_training_ctes(_E9_C_SQL)}, cands AS (
  -- n_probe = 1: each query's probe list IS its assigned centroid
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         {_cos_sql('q.v', 'a.v')} AS cos_sim
  FROM assigned q JOIN assigned a
    ON q.centroid_id = a.centroid_id AND a.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM cands
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


@register(
    "e9_ann_ivf_kmeans",
    _e9_oracle(),
    doc="IVF-flat ANN over a TRAINED quantizer: sampled k-means "
    f"({similarity.KMEANS_ITERS} int-snapped Lloyd iterations, "
    "C=ceil(sqrt(n)) derived from the corpus) instead of the first-N "
    "seed — the recall fix for skewed real-world corpora; "
    "tests/test_similarity.py shows it beats first-N recall on "
    "clustered data",
)
def e9_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids(emb)
    out = similarity.ivf_topk(
        emb, query_pred=F.col("vec_id") < N_QUERIES, k=TOP_K, centroids=cents
    )
    return out.select("query_id", "neighbor_id", "cos_sim", "rank")


# --- e10: multi-probe LSH --------------------------------------------------

_H = similarity.NUM_PLANES

E10_ORACLE = f"""
WITH b AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS qv, bucket AS qbucket
  FROM b WHERE vec_id < {N_QUERIES}
), probes AS (
  -- probe 0 = own bucket; probe i flips sign bit i (Hamming distance 1)
  SELECT query_id, qv,
         CASE WHEN t.i = 0 THEN qbucket
              ELSE substr(qbucket, 1, t.i - 1)
                   || (CASE WHEN substr(qbucket, t.i, 1) = '1'
                            THEN '0' ELSE '1' END)
                   || substr(qbucket, t.i + 1, {_H} - t.i)
         END AS pbucket
  FROM q, range(0, {_H} + 1) t(i)
), cands AS (
  SELECT p.query_id, b.vec_id AS neighbor_id,
         {_DOT.format(a='p.qv', b='b.embedding')}
         / ({_NORM.format(v='p.qv')} * {_NORM.format(v='b.embedding')}) AS cos_sim
  FROM probes p JOIN b ON p.pbucket = b.bucket AND b.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM cands
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


@register(
    "e10_ann_lsh_multiprobe",
    E10_ORACLE,
    doc="multi-probe SRP-LSH (Lv et al. 2007): each query also probes "
    "its 8 Hamming-distance-1 buckets, recovering neighbors that "
    "disagree on exactly one hyperplane - recall rises query-side with "
    "no extra corpus work; probe buckets are pairwise distinct so no "
    "candidate dedup stage exists",
)
def e10_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    out = similarity.lsh_topk_multiprobe(
        emb, query_pred=F.col("vec_id") < N_QUERIES, k=TOP_K
    )
    return out.select("query_id", "neighbor_id", "cos_sim", "rank")


# --- e11: SemDedup — k-means clusters + within-cluster cosine dedup --------
#
# Same training CTEs as e9 but with the LINEAR centroid-count rule
# (clusters grow with the corpus so within-cluster pair work per
# cluster stays constant — see similarity.derive_semdedup_centroids).
# The dedup rule itself: a vector drops iff some LOWER-id cluster-mate
# has cosine >= threshold; the lowest id in a duplicate group is the
# surviving representative.

_E11_C_SQL = (
    f"GREATEST({similarity.MIN_CENTROIDS}, LEAST({similarity.MAX_CENTROIDS}, "
    f"CAST(ceil(count(*) / {similarity.TARGET_LIST_ROWS}.0) AS INT)))"
)

_E11_THRESH = f"CAST({similarity.SEMDEDUP_THRESHOLD!r} AS DOUBLE)"


def _e11_oracle() -> str:
    return f"""
WITH {_km_training_ctes(_E11_C_SQL)}, pair_sims AS (
  SELECT b.vec_id AS vec_id, {_cos_sql('a.v', 'b.v')} AS sim
  FROM assigned a JOIN assigned b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
), ml AS (
  SELECT vec_id, max(sim) AS max_lower_sim FROM pair_sims GROUP BY vec_id
)
SELECT s.vec_id, CAST(s.centroid_id AS BIGINT) AS centroid_id,
       ml.max_lower_sim,
       (ml.max_lower_sim IS NULL OR ml.max_lower_sim < {_E11_THRESH}) AS keep
FROM assigned s LEFT JOIN ml ON s.vec_id = ml.vec_id
"""


@register(
    "e11_semdedup",
    _e11_oracle(),
    doc="SemDedup (Abbas et al. 2023): trained k-means clusters + "
    "within-cluster cosine; a vector drops iff a lower-id cluster-mate "
    "is more similar than the threshold (lowest id survives as the "
    "group representative). Cluster count grows linearly with corpus "
    "size and skewed clusters salt-split, so per-task pair work is "
    "bounded at any scale — the semantic-dedup stage LSH cannot serve "
    "(mid-similarity pairs have near-zero bucket-collision recall)",
)
def e11_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    out = similarity.semdedup(emb)
    return out.select("vec_id", "centroid_id", "max_lower_sim", "keep")


# --- e12: product-quantization ANN (ADC) --------------------------------

_PQ_SUBD = similarity.PQ_SUB_DIM


def _pq_subdist_sql(vec: str, cv: str) -> str:
    """Squared L2 over subspace `sub`'s dims via index arithmetic —
    ascending-dim order matches the Spark zip_with left-fold."""
    a = f"CAST({vec}[sub * {_PQ_SUBD} + i] AS DOUBLE)"
    b = f"CAST({cv}[sub * {_PQ_SUBD} + i] AS DOUBLE)"
    return (
        f"list_sum(list_transform(generate_series(1, {_PQ_SUBD}), "
        f"i -> ({a} - {b}) * ({a} - {b})))"
    )


def _e12_oracle() -> str:
    adc = " + ".join(
        f"max(CASE WHEN dt.sub = {s} THEN dt.d END)" for s in range(similarity.PQ_M)
    )
    return f"""
WITH cb AS (
  SELECT s.sub, e.vec_id AS code, e.embedding AS cv
  FROM embeddings e,
       (SELECT unnest(generate_series(0, {similarity.PQ_M - 1})) AS sub) s
  WHERE e.vec_id < {similarity.PQ_CODES}
), enc_d AS (
  SELECT v.vec_id, cb.sub, cb.code,
         {_pq_subdist_sql('v.embedding', 'cb.cv')} AS d
  FROM embeddings v, cb
), codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id, sub ORDER BY d ASC, code ASC) AS rn
    FROM enc_d
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < {N_QUERIES}
), dt AS (
  SELECT q.query_id, cb.sub, cb.code,
         {_pq_subdist_sql('q.qv', 'cb.cv')} AS d
  FROM q, cb
), adc AS (
  SELECT dt.query_id, c.vec_id AS neighbor_id, {adc} AS approx_dist
  FROM codes c JOIN dt ON c.sub = dt.sub AND c.code = dt.code
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, approx_dist,
       CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY approx_dist ASC, neighbor_id ASC) AS BIGINT) AS rank
FROM adc WHERE neighbor_id <> query_id
QUALIFY rank <= {TOP_K}
ORDER BY query_id, rank
"""


@register(
    "e12_ann_pq",
    _e12_oracle(),
    doc="product-quantization ANN: 4 subspaces x 16 codes (64x vector "
    "compression), asymmetric distance computation — full-precision "
    "query, per-(subspace,code) distance table, corpus scored by 4 "
    "table lookups summed in explicit subspace order; seed codebook "
    "(first-16 subvectors) so the oracle reproduces encode+ADC "
    "exactly; pq_codebook_kmeans is the trained path (recall test)",
)
def e12_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    out = similarity.pq_topk(emb, query_pred=F.col("vec_id") < N_QUERIES, k=TOP_K)
    return out.select("query_id", "neighbor_id", "approx_dist", "rank")


# --- e13: IVF-PQ composite (coarse + residual PQ + ADC) -----------------


def _l2_sql(a: str, b: str, n: int = similarity.DIM) -> str:
    """Full-vector squared L2, ascending-dim fold (matches sq_dist)."""
    x = f"CAST({a}[i] AS DOUBLE)"
    y = f"CAST({b}[i] AS DOUBLE)"
    return (
        f"list_sum(list_transform(generate_series(1, {n}), "
        f"i -> ({x} - {y}) * ({x} - {y})))"
    )


def _res_subdist_sql(v: str, vc: str, s: str, sc: str) -> str:
    """Sub-space squared L2 between two RESIDUALS via index arithmetic:
    ((v-vc) - (s-sc))², grouped exactly like Spark's
    sq_dist(sub_vec(v, vc), sub_vec(s, sc)) fold."""
    d = _PQ_SUBD
    rv = f"(CAST({v}[sub * {d} + i] AS DOUBLE) - CAST({vc}[sub * {d} + i] AS DOUBLE))"
    rs = f"(CAST({s}[sub * {d} + i] AS DOUBLE) - CAST({sc}[sub * {d} + i] AS DOUBLE))"
    return (
        f"list_sum(list_transform(generate_series(1, {d}), "
        f"i -> ({rv} - {rs}) * ({rv} - {rs})))"
    )


def _e13_oracle() -> str:
    n_probe = 2
    adc = " + ".join(
        f"max(CASE WHEN dt.sub = {s} THEN dt.d END)" for s in range(similarity.PQ_M)
    )
    return f"""
WITH co AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings
  WHERE vec_id < {similarity.N_CENTROIDS}
), ad AS (
  SELECT vec_id, cid, embedding FROM (
    SELECT b.vec_id, co.cid, b.embedding,
           row_number() OVER (PARTITION BY b.vec_id
               ORDER BY {_l2_sql('b.embedding', 'co.cv')} ASC, co.cid ASC) AS rn
    FROM embeddings b, co
  ) WHERE rn = 1
), seeds AS (
  SELECT a.vec_id AS code, a.embedding AS sv, c.cv AS scv
  FROM ad a JOIN co c ON a.cid = c.cid
  WHERE a.vec_id < {similarity.PQ_CODES}
), subsp AS (
  SELECT unnest(generate_series(0, {similarity.PQ_M - 1})) AS sub
), enc_d AS (
  SELECT a.vec_id, a.cid, s.sub, se.code,
         {_res_subdist_sql('a.embedding', 'c.cv', 'se.sv', 'se.scv')} AS d
  FROM ad a JOIN co c ON a.cid = c.cid, subsp s, seeds se
), codes AS (
  SELECT vec_id, cid, sub, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
        ORDER BY d ASC, code ASC) AS rn
    FROM enc_d
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < {N_QUERIES}
), probes AS (
  SELECT query_id, cid, qv, cv FROM (
    SELECT q.query_id, co.cid, q.qv, co.cv,
           row_number() OVER (PARTITION BY q.query_id
               ORDER BY {_l2_sql('q.qv', 'co.cv')} ASC, co.cid ASC) AS pr
    FROM q, co
  ) WHERE pr <= {n_probe}
), dt AS (
  SELECT p.query_id, p.cid, s.sub, se.code,
         {_res_subdist_sql('p.qv', 'p.cv', 'se.sv', 'se.scv')} AS d
  FROM probes p, subsp s, seeds se
), adc AS (
  SELECT dt.query_id, c.vec_id AS neighbor_id, {adc} AS approx_dist
  FROM codes c
  JOIN dt ON c.cid = dt.cid AND c.sub = dt.sub AND c.code = dt.code
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, approx_dist,
       CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY approx_dist ASC, neighbor_id ASC) AS BIGINT) AS rank
FROM adc WHERE neighbor_id <> query_id
QUALIFY rank <= {TOP_K}
ORDER BY query_id, rank
"""


@register(
    "e13_ann_ivfpq",
    _e13_oracle(),
    doc="IVF-PQ composite (the FAISS production stack): L2 coarse "
    "quantizer routes vectors to 16 inverted lists, RESIDUALS are "
    "PQ-encoded (4x16 codes), queries probe their 2 nearest lists and "
    "rank residual codes by ADC against the query's own residual — "
    "candidate scoring touches only probed lists; seed quantizers "
    "keep every step SQL-expressible, trained k-means variants are "
    "the drop-ins",
)
def e13_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    out = similarity.ivfpq_topk(
        emb, query_pred=F.col("vec_id") < N_QUERIES, k=TOP_K, n_probe=2
    )
    return out.select("query_id", "neighbor_id", "approx_dist", "rank")


# --- E14: ANN index-quality evaluation (recall vs brute force) -------------

E14_ORACLE = f"""
WITH q0 AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < {N_QUERIES}
), c0 AS (
  SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings
), sims AS (
  SELECT query_id, neighbor_id,
         {_DOT.format(a='qv', b='nv')}
         / ({_NORM.format(v='qv')} * {_NORM.format(v='nv')}) AS cos_sim
  FROM q0, c0 WHERE neighbor_id <> query_id
), truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM sims
  ) WHERE rank <= {TOP_K}
), b AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS qv, bucket AS qbucket
  FROM b WHERE vec_id < {N_QUERIES}
), cands AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         {_DOT.format(a='q.qv', b='b.embedding')}
         / ({_NORM.format(v='q.qv')} * {_NORM.format(v='b.embedding')}) AS cos_sim
  FROM q JOIN b ON q.qbucket = b.bucket AND b.vec_id <> q.query_id
), approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM cands
  ) WHERE rank <= {TOP_K}
)
SELECT qs.query_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(a.n_approx, 0) AS BIGINT) AS n_approx,
       CAST({TOP_K} AS BIGINT) AS k
FROM (SELECT DISTINCT query_id FROM truth) qs
LEFT JOIN (
  SELECT t.query_id, count(*) AS n_hits
  FROM truth t JOIN approx a2 USING (query_id, neighbor_id) GROUP BY 1
) h USING (query_id)
LEFT JOIN (
  SELECT query_id, count(*) AS n_approx FROM approx GROUP BY 1
) a USING (query_id)
ORDER BY qs.query_id
"""


@register(
    "e14_ann_recall_eval",
    E14_ORACLE,
    doc=f"ANN index-quality evaluation: per-query recall@{TOP_K} of "
    "the LSH index (e3) against the brute-force ground truth (e2), "
    "reported as INTEGER hit counts (n_hits of k, plus the index's "
    "own result count — a short bucket caps it) so the hashed output "
    "carries no floats. The operational loop for tuning plane count "
    "or probe width before committing an index to the corpus; both "
    "legs reuse the proven e2/e3 derivations, so the eval measures "
    "the INDEX, not engine drift",
)
def e14_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") < N_QUERIES
    truth = similarity.brute_force_topk(emb, query_pred=pred, k=TOP_K).select(
        "query_id", "neighbor_id"
    )
    approx = similarity.lsh_topk(emb, query_pred=pred, k=TOP_K).select(
        "query_id", "neighbor_id"
    )
    hits = (
        truth.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    n_approx = approx.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_approx")
    )
    return (
        truth.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .join(n_approx, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.coalesce("n_approx", F.lit(0)).cast("long").alias("n_approx"),
            F.lit(TOP_K).cast("long").alias("k"),
        )
    )


# --- E15: Matryoshka prefix-dimension ANN (coarse prefix scan + rerank) ----

_E15_PFX = 16
_E15_R = 20

_PNORM = (
    "sqrt(list_sum(list_transform({v}[1:" + str(_E15_PFX) + "], "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)
_PDOT = (
    "list_sum(list_transform(generate_series(1, " + str(_E15_PFX) + "), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)

E15_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings
), coarse AS (
  SELECT query_id, neighbor_id, qv,
         {_PDOT.format(a='qv', b='nv')}
         / ({_PNORM.format(v='qv')} * {_PNORM.format(v='nv')}) AS cos_pfx
  FROM q, c WHERE neighbor_id <> query_id
), cands AS (
  SELECT query_id, neighbor_id, qv FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_pfx DESC, neighbor_id) AS cr
    FROM coarse
  ) WHERE cr <= {_E15_R}
), rerank AS (
  SELECT ca.query_id, ca.neighbor_id,
         {_DOT.format(a='ca.qv', b='e.embedding')}
         / ({_NORM.format(v='ca.qv')} * {_NORM.format(v='e.embedding')})
             AS cos_sim
  FROM cands ca JOIN embeddings e ON ca.neighbor_id = e.vec_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM rerank
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


@register(
    "e15_ann_matryoshka",
    E15_ORACLE,
    doc=f"Matryoshka (prefix-dimension) ANN: the coarse pass scores "
    f"only the first {_E15_PFX} of 64 dims — a 4x cheaper corpus scan "
    f"that works when embeddings are MRL-trained so prefixes are "
    f"usable sub-embeddings — keeps top-{_E15_R} per query, then an "
    "exact full-dim cosine rerank of that candidate-id set (full "
    f"vectors fetched by id join, never shuffled in the scan) cuts to "
    f"top-{TOP_K}. Deterministic at both stages via neighbor_id "
    "tie-breaks; the oracle replays both stages bit-for-bit",
)
def e15_ann_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    pfx = lambda v: F.slice(v, 1, _E15_PFX)  # noqa: E731
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        similarity._as_double(pfx(F.col("embedding"))).alias("nvp"),
    )
    queries = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            similarity._as_double(F.col("embedding")).alias("qv"),
            similarity._as_double(pfx(F.col("embedding"))).alias("qvp"),
        )
    )
    coarse = (
        queries.crossJoin(corpus)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                similarity.dot(F.col("qvp"), F.col("nvp"))
                / (similarity.l2_norm(F.col("qvp")) * similarity.l2_norm(F.col("nvp")))
            ).alias("cos_pfx"),
        )
    )
    cands = similarity._topk_per_query(coarse, _E15_R, sim_col="cos_pfx").select(
        "query_id", "neighbor_id"
    )
    full = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        similarity._as_double(F.col("embedding")).alias("nv"),
    )
    # full vectors enter only here: query side re-broadcast by id, the
    # R-candidate set joined to the corpus by id
    rerank = cands.join(
        F.broadcast(queries.select("query_id", "qv")), "query_id"
    ).join(full, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        (
            similarity.dot(F.col("qv"), F.col("nv"))
            / (similarity.l2_norm(F.col("qv")) * similarity.l2_norm(F.col("nv")))
        ).alias("cos_sim"),
    )
    return similarity._topk_per_query(rerank, TOP_K).select(
        "query_id", "neighbor_id", "cos_sim", "rank"
    )


# --- m40: exact chunk-embedding mean pooling --------------------------------

_M40_GROUPS = 50
_M40_SCALE = 1 << 20

M40_ORACLE = f"""
WITH ex AS (
  SELECT vec_id % {_M40_GROUPS} AS group_id,
         i - 1 AS pos,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {float(_M40_SCALE)!r} + 0.5)
              AS BIGINT) AS q
  FROM embeddings, generate_series(1, 64) AS t(i)
)
SELECT group_id,
       CAST(pos AS BIGINT) AS pos,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(q) AS BIGINT) AS sum_q,
       CAST(sum(q) AS DOUBLE)
         / CAST(count(*) * {_M40_SCALE} AS DOUBLE) AS mean
FROM ex GROUP BY 1, 2
"""


@register(
    "m40_chunk_embedding_pool",
    M40_ORACLE,
    doc="chunk->document embedding mean-pooling with ORDER-FREE exact "
    "arithmetic: components quantized to 2^-20 fixed point, summed as "
    "BIGINT (partitioning-invariant where a float sum is not), mean = "
    "one division; long-format scalar rows per (group, component) — "
    "the RAG-indexing/doc-SemDedup aggregation step; one map-side-"
    "combined shuffle",
)
def m40_chunk_embedding_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % _M40_GROUPS).alias("group_id"), "embedding"
    )
    return similarity.pool_chunk_embeddings(emb, "group_id", scale_bits=20)


# --- e16: filtered ANN (metadata predicate + vector search) -----------------

# Pre-filtered search, NOT post-filtered: restricting the corpus BEFORE
# ranking guarantees k results satisfying the predicate; ranking first
# and filtering after silently returns < k (or misses entirely) when
# the predicate is selective — the classic vector-DB filtered-search
# trap. The broadcast-queries x corpus-scan shape is unchanged; the
# predicate rides the corpus scan, so Catalyst pushes it to parquet.
E16_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS neighbor_id, label, embedding AS nv FROM embeddings
  WHERE label % 2 = 1
), sims AS (
  SELECT query_id, neighbor_id, c.label,
         {_DOT.format(a='qv', b='nv')}
         / ({_NORM.format(v='qv')} * {_NORM.format(v='nv')}) AS cos_sim
  FROM q, c WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, label, cos_sim, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM sims
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


@register(
    "e16_ann_filtered",
    E16_ORACLE,
    doc="filtered ANN (metadata predicate + vector search): corpus "
    "restricted to label%2=1 BEFORE ranking — pre-filtering guarantees "
    "k predicate-satisfying results where rank-then-filter silently "
    "under-returns; predicate pushed to the parquet scan, queries "
    "broadcast, corpus never shuffles",
)
def e16_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.functions.partitioning import (
        spread,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.similarity import (
        _as_double,
        _topk_per_query,
        dot,
        l2_norm,
    )

    emb = table(spark, sf_dir, "embeddings")
    queries = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            _as_double(F.col("embedding")).alias("qv"),
        )
    )
    corpus = spread(emb.filter(F.col("label") % 2 == 1)).select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        _as_double(F.col("embedding")).alias("nv"),
    )
    sims = (
        queries.crossJoin(corpus)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "label",
            (
                dot(F.col("qv"), F.col("nv"))
                / (l2_norm(F.col("qv")) * l2_norm(F.col("nv")))
            ).alias("cos_sim"),
        )
    )
    labels = emb.select(F.col("vec_id").alias("neighbor_id"), "label")
    return (
        _topk_per_query(sims.drop("label"), TOP_K)
        .join(F.broadcast(labels), "neighbor_id")
        .select("query_id", "neighbor_id", "label", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    )


# --- e17: embedding-space drift monitor --------------------------------------

# Both periods assign to the SAME first-N centroids (the frozen
# production quantizer), so a shift in per-centroid occupancy is a real
# distribution shift, not quantizer noise. The chi-square finish is
# a28's drift_from_histogram — bin = centroid, period = vec_id parity.
E17_ORACLE = f"""
WITH c AS (
  SELECT vec_id AS centroid_id, embedding AS cv
  FROM embeddings WHERE vec_id < {N_CENTROIDS}
), scored AS (
  SELECT e.vec_id, c.centroid_id,
         {_DOT.format(a='e.embedding', b='c.cv')}
         / ({_NORM.format(v='e.embedding')} * {_NORM.format(v='c.cv')}) AS c_sim
  FROM embeddings e CROSS JOIN c
), assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rn
    FROM scored
  ) WHERE rn = 1
), per AS (
  SELECT centroid_id AS bin,
         CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_base,
         CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cur
  FROM assigned GROUP BY 1
), tot AS (
  SELECT CAST(sum(n_base) AS BIGINT) AS tb, CAST(sum(n_cur) AS BIGINT) AS tc
  FROM per
), scored2 AS (
  SELECT bin, n_base, n_cur,
         CAST(n_base AS DOUBLE) * CAST(tc AS DOUBLE) / CAST(tb AS DOUBLE)
             AS expected_cur
  FROM per, tot
)
SELECT bin, n_base, n_cur, expected_cur,
       CASE WHEN expected_cur > 0
            THEN (CAST(n_cur AS DOUBLE) - expected_cur)
               * (CAST(n_cur AS DOUBLE) - expected_cur) / expected_cur
       END AS chi2_contrib
FROM scored2
"""


@register(
    "e17_embedding_drift",
    E17_ORACLE,
    doc="embedding-space drift monitor: both periods (vec_id parity) "
    "assign to the SAME frozen centroids, per-centroid occupancy "
    "counts feed the a28 chi-square finish — the vector-side analogue "
    "of value-distribution drift (detects corpus shift / encoder "
    "regressions before they poison dedup and ANN); centroids "
    "broadcast, one map-side-combined count",
)
def e17_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.stats import (
        drift_from_histogram,
    )

    emb = table(spark, sf_dir, "embeddings")
    assigned = similarity.ivf_assign(emb).select("vec_id", "centroid_id")
    hist = assigned.groupBy(
        (F.col("vec_id") % 2).cast("int").alias("g"),
        F.col("centroid_id").alias("b"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    return drift_from_histogram(hist)


# --- e18: LSH index-health report (bucket occupancy) -------------------------

_E18_PLANES = 8

_E18_BUCKET_SQL_BITS = " || ".join(
    "CASE WHEN {dot} > 0 THEN '1' ELSE '0' END".format(
        dot=_DOT.format(a="embedding", b=f"plane_{p}")
    )
    for p in range(_E18_PLANES)
)


def _e18_oracle() -> str:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.similarity import (
        hyperplane_signs,
    )

    planes = hyperplane_signs(_E18_PLANES)
    plane_cols = ", ".join(
        "["
        + ", ".join(repr(v) for v in row)
        + f"]::DOUBLE[] AS plane_{p}"
        for p, row in enumerate(planes)
    )
    return f"""
WITH p AS (SELECT {plane_cols}), b AS (
  SELECT {_E18_BUCKET_SQL_BITS} AS bucket
  FROM embeddings, p
), occ AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1
)
SELECT n AS bucket_size,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(n) AS BIGINT) AS n_vectors
FROM occ GROUP BY 1
"""


@register(
    "e18_lsh_bucket_stats",
    _e18_oracle(),
    doc="ANN index-health report: SRP-LSH bucket-occupancy histogram "
    "(bucket-size -> bucket count + vector mass) — the monitoring "
    "metric that says when the fixed NUM_PLANES bucket width is "
    "outgrown, and the early alarm for embedding collapse (everything "
    "hashing into few buckets); planes broadcast, two map-side-combined "
    "groupBys",
)
def e18_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.similarity import (
        _as_double,
        hyperplane_signs,
        lsh_bucket,
    )

    emb = table(spark, sf_dir, "embeddings")
    planes = hyperplane_signs(_E18_PLANES)
    occ = (
        emb.select(
            lsh_bucket(_as_double(F.col("embedding")), planes).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return occ.groupBy(F.col("n").alias("bucket_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("n").cast("long").alias("n_vectors"),
    )


# --- e19: two-stage retrieval (quantized scan -> exact rerank) -----------------

_E19_POOL = 20

E19_ORACLE = f"""
WITH qz AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
           * (CAST(127 AS DOUBLE)
              / list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))))
           + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS qvec
  FROM embeddings
), qn AS (
  SELECT vec_id, qvec,
         sqrt(CAST(list_sum(list_transform(generate_series(1, 64),
              i -> qvec[i] * qvec[i])) AS DOUBLE)) AS qnorm
  FROM qz
), q AS (
  SELECT vec_id AS query_id, qvec AS qa, qnorm AS na
  FROM qn WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS neighbor_id, qvec AS qb, qnorm AS nb FROM qn
), qsims AS (
  SELECT query_id, neighbor_id,
         CAST(list_sum(list_transform(generate_series(1, 64),
              i -> qa[i] * qb[i])) AS DOUBLE) / (na * nb) AS q_cos_sim
  FROM q, c WHERE neighbor_id <> query_id
), coarse AS (
  SELECT query_id, neighbor_id, coarse_rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY q_cos_sim DESC, neighbor_id)
        AS coarse_rank
    FROM qsims
  ) WHERE coarse_rank <= {_E19_POOL}
), exact AS (
  SELECT co.query_id, co.neighbor_id, co.coarse_rank,
         {_DOT.format(a='eq.embedding', b='en.embedding')}
         / ({_NORM.format(v='eq.embedding')}
            * {_NORM.format(v='en.embedding')}) AS cos_sim
  FROM coarse co
  JOIN embeddings eq ON eq.vec_id = co.query_id
  JOIN embeddings en ON en.vec_id = co.neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank,
       CAST(coarse_rank AS BIGINT) AS coarse_rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM exact
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


@register(
    "e19_two_stage_rerank",
    E19_ORACLE,
    doc="two-stage retrieval (the production serving pattern): int8 "
    f"coarse scan keeps a {_E19_POOL}-candidate pool per query (4x "
    "less corpus I/O), exact float cosine reranks only the pool to "
    f"top-{TOP_K}; coarse_rank rides along so rerank movement is "
    "visible. Full-precision vectors are touched via one bounded "
    "id-equi-join — never a per-query corpus scan",
)
def e19_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return similarity.two_stage_topk(
        emb, query_pred=F.col("vec_id") < N_QUERIES, k=TOP_K, pool=_E19_POOL
    )


# --- e20: bucket-stratified diversity coreset -------------------------------------

E20_ORACLE = f"""
WITH b AS (
  SELECT vec_id, {_bucket_sql('embedding')} AS bucket FROM embeddings
), h AS (
  SELECT vec_id, bucket,
         md5('div:' || CAST(vec_id AS VARCHAR)) AS hh
  FROM b
), ranked AS (
  SELECT bucket, vec_id,
         row_number() OVER (PARTITION BY bucket ORDER BY hh, vec_id) AS rn,
         CAST(count(*) OVER (PARTITION BY bucket) AS BIGINT) AS bucket_size
  FROM h
)
SELECT bucket, bucket_size, vec_id AS rep_id
FROM ranked WHERE rn = 1
"""


@register(
    "e20_diversity_coreset",
    E20_ORACLE,
    doc="bucket-stratified diversity coreset: one md5-selected "
    "representative per occupied SRP sign-bucket — every corner of "
    "embedding space represented once (uniform sampling over-keeps "
    "dense regions; SemDedup only REMOVES near-equals). Struct-MIN "
    "combines map-side, so the whole operator is one groupBy whose "
    "shuffle carries at most one candidate per (bucket, task) — no "
    "corpus window, no per-bucket sort",
)
def e20_diversity_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.diversity_coreset(table(spark, sf_dir, "embeddings"))


# --- e21: rank-biased overlap (RBO) index-quality eval ----------------------------

_E21_P = 0.9
#: truncated-RBO term weights from the shared operator (similarity.
#: rbo_weights): computed ONCE in Python and interpolated as identical
#: double literals into both engines (the k30/a35 transcendental-free
#: discipline — p^(d-1) is a float power, so it never evaluates
#: engine-side)
_E21_W = similarity.rbo_weights(TOP_K, _E21_P)

_E21_TERMS_SQL = " + ".join(
    f"CAST(o{d} AS DOUBLE) * {w!r}" for d, w in enumerate(_E21_W, start=1)
)
_E21_O_SQL = ",\n         ".join(
    f"CAST(count(*) FILTER (WHERE m <= {d}) AS BIGINT) AS o{d}"
    for d in range(1, TOP_K + 1)
)

E21_ORACLE = f"""
WITH bf AS ({E2_ORACLE}), ls AS ({E3_ORACLE}),
j AS (
  SELECT bf.query_id, greatest(bf.rank, ls.rank) AS m
  FROM bf JOIN ls USING (query_id, neighbor_id)
), o AS (
  SELECT query_id,
         {_E21_O_SQL}
  FROM j GROUP BY 1
), qs AS (
  SELECT DISTINCT query_id FROM bf
)
SELECT qs.query_id,
       CAST(COALESCE(o.o{TOP_K}, 0) AS BIGINT) AS n_common,
       COALESCE({_E21_TERMS_SQL}, CAST(0.0 AS DOUBLE)) AS rbo
FROM qs LEFT JOIN o USING (query_id)
"""


@register(
    "e21_rbo_eval",
    E21_ORACLE,
    doc=f"rank-biased overlap (Webber et al. 2010, truncated at "
    f"k={TOP_K}, p={_E21_P}) between the LSH index ranking (e3) and "
    "exact brute-force ground truth (e2) — the top-weighted rank-"
    "quality metric recall@k cannot express (recall treats rank 1 and "
    "rank k alike; RBO discounts geometrically). Exact cross-engine "
    "float: the (1-p)p^(d-1)/d weights are Python-interpolated "
    "literals and the score is ONE fixed-shape expression tree over "
    "integer overlap counts — no engine-side powers, no unordered "
    "float SUM. One id-equi-join of two k-row-per-query rankings, "
    "overlap@d via conditional aggregation on max(rank_a, rank_b)",
)
def e21_rbo_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") < N_QUERIES
    bf = similarity.brute_force_topk(emb, query_pred=pred, k=TOP_K)
    ls = similarity.lsh_topk(emb, query_pred=pred, k=TOP_K)
    # shared operator (hand-solved + brute-force property tested in
    # tests/test_shared_algebra.py — the oracle shares this
    # decomposition, so the hash match alone cannot falsify it)
    return similarity.rbo_overlap(bf, ls, k=TOP_K, p=_E21_P)


# --- e22: product-quantization distortion eval -------------------------------

_E22_TERMS = " + ".join(
    f"max(CASE WHEN sub = {s} THEN d END)" for s in range(similarity.PQ_M)
)

E22_ORACLE = f"""
WITH cb AS (
  SELECT s.sub, e.vec_id AS code, e.embedding AS cv
  FROM embeddings e,
       (SELECT unnest(generate_series(0, {similarity.PQ_M - 1})) AS sub) s
  WHERE e.vec_id < {similarity.PQ_CODES}
), enc_d AS (
  SELECT v.vec_id, cb.sub,
         {_pq_subdist_sql('v.embedding', 'cb.cv')} AS d
  FROM embeddings v, cb
), md AS (
  SELECT vec_id, sub, min(d) AS d FROM enc_d GROUP BY 1, 2
)
SELECT vec_id, CAST(0.0 AS DOUBLE) + {_E22_TERMS} AS sq_err
FROM md GROUP BY vec_id
"""


@register(
    "e22_pq_distortion",
    E22_ORACLE,
    doc="per-vector PQ reconstruction error (Jegou et al. 2011's "
    "codebook-quality curve): squared L2 to the nearest code per "
    "subspace, summed in ascending-subspace order — exactly the "
    "error ADC search pays vs exact. Exact cross-engine float: min "
    "over doubles is order-free and the cross-subspace sum is a "
    "fixed-shape left fold seeded at 0.0 in BOTH engines; no "
    "cross-row float aggregation. Codebook broadcasts as in e12; "
    "the corpus never shuffles (zero-exchange projection)",
)
def e22_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return similarity.pq_distortion(emb, similarity.pq_seed_codebook(emb))


# --- e23: IVF recall-vs-n_probe curve -----------------------------------------

_E23_PROBES = (1, 2, 4)


def _e23_probe_sql(p: int) -> str:
    """(query_id, neighbor_id) pairs of the IVF top-k at n_probe=p —
    the e5/e7 oracle generalized over the probe count; relies on the
    `scored`/`assigned` CTEs of the enclosing query."""
    return f"""
  SELECT query_id, neighbor_id FROM (
    SELECT cand.query_id, cand.neighbor_id, row_number() OVER (
        PARTITION BY cand.query_id
        ORDER BY cand.cos_sim DESC, cand.neighbor_id) AS rank
    FROM (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {_DOT.format(a='p.qv', b='a.v')}
             / ({_NORM.format(v='p.qv')} * {_NORM.format(v='a.v')}) AS cos_sim
      FROM (
        SELECT vec_id AS query_id, v AS qv, centroid_id AS qc FROM (
          SELECT *, row_number() OVER (
              PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS pr
          FROM scored WHERE vec_id < {N_QUERIES}
        ) WHERE pr <= {p}
      ) p JOIN assigned a
        ON p.qc = a.centroid_id AND a.vec_id <> p.query_id
    ) cand
  ) WHERE rank <= {TOP_K}"""


E23_ORACLE = f"""
WITH c AS (
  SELECT vec_id AS centroid_id, embedding AS cv
  FROM embeddings WHERE vec_id < {N_CENTROIDS}
), scored AS (
  SELECT e.vec_id, e.embedding AS v, c.centroid_id,
         {_DOT.format(a='e.embedding', b='c.cv')}
         / ({_NORM.format(v='e.embedding')} * {_NORM.format(v='c.cv')}) AS c_sim
  FROM embeddings e CROSS JOIN c
), assigned AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id) AS rn
    FROM scored
  ) WHERE rn = 1
), truth AS (
  SELECT query_id, neighbor_id FROM ({E2_ORACLE})
), appx AS (
{" UNION ALL ".join(f"SELECT CAST({p} AS BIGINT) AS n_probe, * FROM ({_e23_probe_sql(p)})" for p in _E23_PROBES)}
), hits AS (
  SELECT a.n_probe, a.query_id,
         CAST(count(t.neighbor_id) AS BIGINT) AS n_hits
  FROM appx a LEFT JOIN truth t
    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
  GROUP BY 1, 2
), base AS (
  SELECT p.n_probe, q.query_id
  FROM (SELECT DISTINCT query_id FROM truth) q
  CROSS JOIN (SELECT DISTINCT n_probe FROM appx) p
)
SELECT b.n_probe, b.query_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {float(TOP_K)!r} AS recall
FROM base b LEFT JOIN hits h
  ON b.n_probe = h.n_probe AND b.query_id = h.query_id
"""


@register(
    "e23_recall_curve",
    E23_ORACLE,
    doc=f"IVF recall-vs-n_probe curve (probes {_E23_PROBES}): per "
    "(n_probe, query) the overlap of the IVF top-k with brute-force "
    "truth and recall@k — the cost/recall trade every IVF deployment "
    "tunes, as ONE query instead of per-setting reruns. Exact float: "
    "recall is an integer count divided by the literal k. Scale: "
    "truth is k rows/query; each probe setting reuses the broadcast-"
    "centroid assignment, so the corpus is scanned once per setting "
    "and raw vectors never shuffle (index-routed candidates only)",
)
def e23_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return similarity.ivf_recall_curve(
        emb, F.col("vec_id") < N_QUERIES, probes=_E23_PROBES, k=TOP_K
    )


# --- e24: Matryoshka prefix-dim recall curve ------------------------------------

_E24_DIMS = (8, 16, 32)


def _e24_dim_sql(d: int) -> str:
    """(query_id, neighbor_id) of the brute-force top-k under the
    d-dim PREFIX cosine; relies on the enclosing q/c CTEs."""
    dot = (
        f"list_sum(list_transform(generate_series(1, {d}), "
        f"i -> CAST(q.qv[i] AS DOUBLE) * CAST(c.nv[i] AS DOUBLE)))"
    )
    nq = (
        f"sqrt(list_sum(list_transform(generate_series(1, {d}), "
        f"i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))"
    )
    nc = (
        f"sqrt(list_sum(list_transform(generate_series(1, {d}), "
        f"i -> CAST(c.nv[i] AS DOUBLE) * CAST(c.nv[i] AS DOUBLE))))"
    )
    return f"""
  SELECT query_id, neighbor_id FROM (
    SELECT s.query_id, s.neighbor_id, row_number() OVER (
        PARTITION BY s.query_id ORDER BY s.sim DESC, s.neighbor_id) AS rank
    FROM (
      SELECT q.query_id, c.neighbor_id, {dot} / ({nq} * {nc}) AS sim
      FROM q, c WHERE c.neighbor_id <> q.query_id
    ) s
  ) WHERE rank <= {TOP_K}"""


E24_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings
), truth AS (
  SELECT query_id, neighbor_id FROM ({E2_ORACLE})
), appx AS (
{" UNION ALL ".join(f"SELECT CAST({d} AS BIGINT) AS dim, * FROM ({_e24_dim_sql(d)})" for d in _E24_DIMS)}
), hits AS (
  SELECT a.dim, a.query_id, CAST(count(t.neighbor_id) AS BIGINT) AS n_hits
  FROM appx a LEFT JOIN truth t
    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
  GROUP BY 1, 2
), base AS (
  SELECT d.dim, qq.query_id
  FROM (SELECT DISTINCT query_id FROM truth) qq
  CROSS JOIN (SELECT DISTINCT dim FROM appx) d
)
SELECT b.dim, b.query_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {float(TOP_K)!r} AS recall
FROM base b LEFT JOIN hits h ON b.dim = h.dim AND b.query_id = h.query_id
"""


@register(
    "e24_matryoshka_recall_curve",
    E24_ORACLE,
    doc=f"Matryoshka truncation-quality curve (prefix dims "
    f"{_E24_DIMS} vs full-{similarity.DIM} truth): recall@k of brute-"
    "force cosine over each embedding PREFIX — the measurement behind "
    "choosing e15's serve-time truncation point. ONE corpus pass "
    "computes every prefix cosine side by side (slices of the same "
    "row); each dim ranks its own column and all settings share one "
    "brute-force truth. Exact float: fixed-shape ascending-dim folds, "
    "recall = integer hits / literal k",
)
def e24_matryoshka_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return similarity.prefix_recall_curve(
        emb, F.col("vec_id") < N_QUERIES, dims=_E24_DIMS, k=TOP_K
    )
