"""ANN similarity search: brute-force ground truth vs numpy, and the
SRP-LSH approximation's guarantees (determinism + subset-of-exact)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
    saltjoin,
    similarity,
)

DIM = 64
N = 40


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(N, DIM).astype(np.float32)
    vecs[1] = vecs[0] + 0.01 * rng.randn(DIM).astype(np.float32)  # near-nbr of 0
    rows = [(i, f"lab{i % 3}", [float(x) for x in vecs[i]]) for i in range(N)]
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<float>")
    return df, vecs


def test_norms_match_numpy(emb):
    df, vecs = emb
    out = {r.vec_id: r.l2_norm for r in similarity.embedding_norms(df).collect()}
    for i in range(N):
        assert math.isclose(out[i], float(np.linalg.norm(vecs[i].astype(np.float64))), rel_tol=1e-9)


def test_cosine_pre_bit_identical_to_cosine(emb):
    """The r12 norm-precompute optimization scores pairs with
    dot/(na*nb) where na/nb are carried sqrt(dot(v,v)) doubles. Pin the
    claim that this is BIT-identical to the inline form — not merely
    close: same doubles, same operand order, so == must hold for every
    pair. (Zero-norm vectors raise DIVIDE_BY_ZERO under ANSI in BOTH
    forms — same na*nb divisor — so the scorable domain is identical
    and the equality check covers all of it.)"""
    df, _ = emb
    a = df.select(
        F.col("vec_id").alias("ida"),
        similarity._as_double(F.col("embedding")).alias("va"),
        similarity.l2_norm(similarity._as_double(F.col("embedding"))).alias("na"),
    )
    b = df.select(
        F.col("vec_id").alias("idb"),
        similarity._as_double(F.col("embedding")).alias("vb"),
        similarity.l2_norm(similarity._as_double(F.col("embedding"))).alias("nb"),
    )
    pairs = a.crossJoin(b).select(
        similarity.cosine(F.col("va"), F.col("vb")).alias("inline"),
        similarity.cosine_pre(
            F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
        ).alias("pre"),
    )
    bad = pairs.filter(~(F.col("inline") == F.col("pre"))).count()
    assert bad == 0


def test_bruteforce_topk_matches_numpy(emb):
    df, vecs = emb
    v = vecs.astype(np.float64)
    sims = (v @ v.T) / (np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :])
    out = similarity.brute_force_topk(df, query_ids=[0, 5], k=3).collect()
    for qid in (0, 5):
        got = [r.neighbor_id for r in out if r.query_id == qid]
        order = np.argsort(-sims[qid])
        expect = [int(i) for i in order if i != qid][:3]
        assert got == expect
    # planted near-neighbor is rank 1 for query 0
    rank1 = [r for r in out if r.query_id == 0 and r.rank == 1]
    assert rank1 and rank1[0].neighbor_id == 1


def test_lsh_results_subset_of_exact_sims(emb):
    df, _ = emb
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in similarity.brute_force_topk(df, query_ids=[0], k=N).collect()
    }
    lsh = similarity.lsh_topk(df, query_ids=[0], k=5).collect()
    for r in lsh:
        # every LSH result's similarity equals the exact one (verify
        # stage is exact); only the candidate set is approximate
        assert math.isclose(r.cos_sim, exact[(r.query_id, r.neighbor_id)], rel_tol=1e-12)


def test_lsh_deterministic(emb):
    df, _ = emb
    a = similarity.lsh_topk(df, query_ids=[0, 1, 2], k=5).collect()
    b = similarity.lsh_topk(df, query_ids=[0, 1, 2], k=5).collect()
    assert a == b


def test_hyperplanes_are_deterministic_rademacher():
    p1 = similarity.hyperplane_signs(4, 8)
    p2 = similarity.hyperplane_signs(4, 8)
    assert p1 == p2
    assert all(v in (1.0, -1.0) for row in p1 for v in row)


def test_ivf_assign_partitions_corpus(emb):
    df, _ = emb
    assigned = similarity.ivf_assign(df, n_centroids=4)
    rows = assigned.collect()
    assert len(rows) == N  # every vector assigned to exactly one list
    assert {r.centroid_id for r in rows} <= {0, 1, 2, 3}
    # a centroid vector is its own nearest centroid (cos=1 with itself)
    own = {r.vec_id: r.centroid_id for r in rows if r.vec_id < 4}
    assert own == {0: 0, 1: 1, 2: 2, 3: 3}


def test_ivf_topk_exact_within_list(emb):
    df, _ = emb
    out = similarity.ivf_topk(df, query_ids=[0], k=3, n_centroids=4)
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in similarity.brute_force_topk(df, query_ids=[0], k=N).collect()
    }
    for r in out.collect():
        # similarities are exact; only the candidate list is approximate
        assert math.isclose(r.cos_sim, exact[(r.query_id, r.neighbor_id)], rel_tol=1e-12)


def test_embedding_near_dup_finds_planted(spark, emb):
    df, _ = emb
    dup = df.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "label", "embedding"
    )
    seeded = df.unionByName(dup)
    pairs = similarity.embedding_near_dup_pairs(
        seeded.select("vec_id", "embedding"), threshold=0.95
    ).collect()
    # vec 1 is the fixture's planted near-neighbor of vec 0, so the
    # full clique {0, 1, 1000} pairs up above 0.95
    assert sorted((p.vec_a, p.vec_b) for p in pairs) == [(0, 1), (0, 1000), (1, 1000)]
    exact_dup = [p for p in pairs if (p.vec_a, p.vec_b) == (0, 1000)]
    assert exact_dup[0].cos_sim > 0.999999


def test_bucket_cap_salt_split_is_lossless(spark):
    """Adversarial skew: one dense cluster floods a single LSH bucket.
    With a tiny bucket_cap the self-join must salt-split that bucket
    across sub-tasks and STILL produce the identical pair set — the cap
    bounds per-reducer work, never changes the answer."""
    rng = np.random.RandomState(3)
    base = rng.randn(DIM).astype(np.float64)
    rows = []
    for i in range(60):  # 60 near-copies -> one bucket, 1770 pairs
        rows.append((i, "c", [float(x) for x in base + 1e-4 * rng.randn(DIM)]))
    for i in range(60, 80):  # background noise
        rows.append((i, "n", [float(x) for x in rng.randn(DIM)]))
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<float>")

    uncapped = sorted(
        (r.vec_a, r.vec_b, round(r.cos_sim, 12))
        for r in similarity.embedding_near_dup_pairs(df, threshold=0.99, bucket_cap=10**9).collect()
    )
    capped = sorted(
        (r.vec_a, r.vec_b, round(r.cos_sim, 12))
        for r in similarity.embedding_near_dup_pairs(df, threshold=0.99, bucket_cap=8).collect()
    )
    assert len(uncapped) == 60 * 59 // 2  # the planted cluster, all pairs
    assert capped == uncapped


def test_bucket_cap_bounds_subtask_size(spark):
    """No (bucket, i, j) sub-task may hold more than ~2*cap rows
    (i-group + j-group), regardless of how skewed the bucket is."""
    rng = np.random.RandomState(4)
    base = rng.randn(DIM).astype(np.float64)
    rows = [(i, "c", [float(x) for x in base + 1e-4 * rng.randn(DIM)]) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<float>")
    cap = 10
    planes = similarity.hyperplane_signs(similarity.NUM_PLANES)
    bucketed = df.select(
        F.col("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        similarity.lsh_bucket(
            F.transform("embedding", lambda x: x.cast("double")), planes
        ).alias("bucket"),
    )
    tasks = saltjoin.salted_pair_tasks(bucketed, cap)
    sizes = tasks.groupBy("bucket", "_i", "_j").count().collect()
    # each sub-task holds one i-group + one j-group; groups are
    # hash-assigned so sizes are ~cap in expectation, O(cap) whp — a
    # 4x slack bound (vs the unsplit bucket's 100 rows) pins the fanout
    assert max(r["count"] for r in sizes) <= 4 * cap
    # and the sub-tasks genuinely fan out the flooded bucket
    assert len(sizes) > 1


def test_ivf_recall_at_k_monotone_and_probe_all_exact(emb):
    """Measured recall@k vs brute force: more probes never hurt, and
    probing every list IS brute force."""
    df, _ = emb
    qids = [0, 5, 9]
    k = 5
    bf = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(df, query_ids=qids, k=k).collect()
    }

    def recall(n_probe):
        got = {
            (r.query_id, r.neighbor_id)
            for r in similarity.ivf_topk(df, query_ids=qids, k=k, n_probe=n_probe).collect()
        }
        return len(got & bf) / len(bf)

    r1, r2, rall = recall(1), recall(2), recall(similarity.N_CENTROIDS)
    assert r1 <= r2 <= rall == 1.0


def test_quantized_topk_recall_vs_exact(emb):
    """int8 quantization must trade accuracy measurably, not silently:
    recall@5 vs exact float cosine >= 0.8 on the 64-dim corpus, and
    quantized values stay in [-127, 127]."""
    from pyspark.sql import functions as F

    df, _ = emb
    qids = list(range(10))
    exact = {}
    for r in similarity.brute_force_topk(df, query_ids=qids, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    quant = {}
    for r in similarity.quantized_topk(df, query_ids=qids, k=5).collect():
        quant.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(exact[q] & quant.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.8, f"recall@5 = {hits}/{total}"

    qz = similarity.quantize_embeddings(df)
    bounds = qz.select(
        F.max(F.array_max("qvec")).alias("hi"), F.min(F.array_min("qvec")).alias("lo")
    ).collect()[0]
    assert -127 <= bounds.lo and bounds.hi <= 127


@pytest.fixture(scope="module")
def clustered_emb(spark):
    """Adversarial corpus for the first-N quantizer: 8 well-separated
    clusters, but ids assigned so the FIRST 16 vectors all fall in
    cluster 0 — first-N centroids then all sit in one cluster and
    n_probe=1 recall collapses for queries in other clusters. k-means
    on an md5-ordered sample sees every cluster."""
    rng = np.random.RandomState(11)
    n_clusters, per_cluster = 8, 20
    centers = rng.randn(n_clusters, DIM) * 10.0
    rows = []
    vid = 0
    # ids 0..15 from cluster 0 first (poisons the first-N seed)
    for _ in range(16):
        rows.append((vid, 0, centers[0] + rng.randn(DIM)))
        vid += 1
    for c in range(n_clusters):
        for _ in range(per_cluster):
            rows.append((vid, c, centers[c] + rng.randn(DIM)))
            vid += 1
    df = spark.createDataFrame(
        [(i, f"c{c}", [float(x) for x in v]) for i, c, v in rows],
        "vec_id long, label string, embedding array<float>",
    )
    vecs = np.stack([v for _, _, v in rows])
    return df, vecs


def _recall_at_k(topk_rows, vecs, k=5):
    """Mean recall@k vs exact cosine ground truth (numpy)."""
    v = vecs.astype(np.float64)
    sims = (v @ v.T) / (
        np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :]
    )
    by_q: dict[int, set[int]] = {}
    for r in topk_rows:
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = []
    for qid, got in by_q.items():
        order = np.argsort(-sims[qid])
        expect = {int(i) for i in order if i != qid}
        expect = set(list(sorted(expect, key=lambda i: -sims[qid][i]))[:k])
        recalls.append(len(got & expect) / k)
    return sum(recalls) / len(recalls)


def test_kmeans_centroids_deterministic_and_sized(clustered_emb):
    df, _ = clustered_emb
    c1 = similarity.kmeans_centroids(df, n_centroids=8).collect()
    c2 = similarity.kmeans_centroids(df, n_centroids=8).collect()
    assert {r.centroid_id: r.cv for r in c1} == {r.centroid_id: r.cv for r in c2}
    assert 0 < len(c1) <= 8  # empty clusters may drop, never grow
    assert all(len(r.cv) == DIM for r in c1)


def test_derive_n_centroids_policy():
    assert similarity.derive_n_centroids(0) == similarity.MIN_CENTROIDS
    assert similarity.derive_n_centroids(10) == similarity.MIN_CENTROIDS
    assert similarity.derive_n_centroids(1_000_000) == 1000
    assert similarity.derive_n_centroids(10**12) == similarity.MAX_CENTROIDS


def test_kmeans_ivf_beats_first_n_on_clustered_corpus(clustered_emb):
    """The r3-flagged recall risk, made concrete: on a corpus whose
    first 16 ids are one cluster, trained centroids must beat the
    first-N seed at equal n_probe — and be usable in absolute terms."""
    df, vecs = clustered_emb
    qpred = F.col("vec_id") >= 16  # queries spread across all clusters
    k = 5
    first_n = similarity.ivf_topk(df, query_pred=qpred, k=k, n_centroids=16).collect()
    trained = similarity.ivf_topk(
        df,
        query_pred=qpred,
        k=k,
        centroids=similarity.kmeans_centroids(df, n_centroids=8),
    ).collect()
    r_first = _recall_at_k(first_n, vecs, k)
    r_trained = _recall_at_k(trained, vecs, k)
    assert r_trained > r_first, (r_trained, r_first)
    assert r_trained >= 0.9, r_trained


def test_ivf_assign_is_shuffle_free(emb):
    """Coarse-quantizer assignment must never shuffle the corpus: the
    packed-centroid fold keeps it map-side (a crossJoin + per-vec_id
    window would shuffle N x C scored rows — 3e13 at 1e9 vectors)."""
    df, _ = emb
    plan = (
        similarity.ivf_assign(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" in plan
    assert "Exchange hashpartitioning" not in plan


def test_topk_uses_partial_agg_not_window(emb):
    """Top-k ranking must be the two-stage partial aggregate, not a
    window over all scored rows: a Window(partitionBy=query_id) would
    shuffle |Q| x N scored rows; the partial top-k exchange carries at
    most |Q| x partitions x k."""
    df, _ = emb
    plan = (
        similarity.brute_force_topk(df, query_ids=[0, 1], k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "partial_collect_list" in plan or "ObjectHashAggregate" in plan


def test_multiprobe_recall_dominates_single_bucket(emb):
    """Multi-probe candidates are a superset of the single-bucket
    candidates (probe 0 IS the own bucket), so recall@k can only
    improve — and on this fixture it must actually find MORE results
    (single-bucket leaves some queries' top-k short)."""
    df, vecs = emb
    qids = list(range(6))
    single = similarity.lsh_topk(df, query_ids=qids, k=3).collect()
    multi = similarity.lsh_topk_multiprobe(df, query_ids=qids, k=3).collect()
    assert len(multi) >= len(single)
    r_single = _recall_at_k(single, vecs, 3)
    r_multi = _recall_at_k(multi, vecs, 3)
    assert r_multi >= r_single
    # the planted near-neighbor of query 0 must survive multiprobe
    top1 = [r for r in multi if r.query_id == 0 and r.rank == 1]
    assert top1 and top1[0].neighbor_id == 1


def test_semdedup_drops_planted_dups_keeps_lowest_id(spark):
    """Planted near-duplicate groups: every group's lowest id survives,
    every higher-id member with cosine >= threshold to it drops."""
    rng = np.random.RandomState(11)
    base = rng.randn(6, DIM)
    rows = []
    vid = 0
    dup_of = {}
    for g in range(6):
        for j in range(3):  # ids 3g..3g+2 are near-dups of each other
            rows.append((vid, base[g] + 0.001 * rng.randn(DIM)))
            if j > 0:
                dup_of[vid] = 3 * g
            vid += 1
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in similarity.semdedup(df, threshold=0.95).collect()}
    assert len(out) == vid  # one verdict per input vector
    for i in range(vid):
        if i in dup_of:
            assert not out[i].keep, i
            assert out[i].max_lower_sim >= 0.95
        else:
            assert out[i].keep, i  # group representative (lowest id)


def test_semdedup_max_lower_sim_matches_numpy(clustered_emb):
    """Within whatever clusters k-means produced, max_lower_sim must be
    the exact max cosine to lower-id cluster-mates (and keep its
    threshold complement) — verifies the pair join + order-free max."""
    df, vecs = clustered_emb
    thr = 0.6
    out = similarity.semdedup(df, threshold=thr, n_centroids=8).collect()
    # the DataFrame stores float32; round-trip so numpy sees the same bits
    v = vecs.astype(np.float32).astype(np.float64)
    sims = (v @ v.T) / (
        np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :]
    )
    cluster = {r.vec_id: r.centroid_id for r in out}
    for r in out:
        lower = [
            i for i in range(len(vecs))
            if i < r.vec_id and cluster[i] == r.centroid_id
        ]
        if not lower:
            assert r.max_lower_sim is None and r.keep
        else:
            expect = max(sims[r.vec_id][i] for i in lower)
            assert math.isclose(r.max_lower_sim, expect, rel_tol=1e-9)
            assert r.keep == (r.max_lower_sim < thr)


def test_derive_semdedup_centroids_linear_policy():
    assert similarity.derive_semdedup_centroids(500) == similarity.MIN_CENTROIDS
    assert similarity.derive_semdedup_centroids(10**6) == math.ceil(
        10**6 / similarity.TARGET_LIST_ROWS
    )
    assert (
        similarity.derive_semdedup_centroids(10**12) == similarity.MAX_CENTROIDS
    )


def _pq_codes(df, codebook):
    """(vec_id, codes) through the encoder fold that pq_topk and
    ivfpq_topk run (`_pq_encode` over the packed codebook)."""
    packed, m, _k = similarity._packed_codebook(codebook)
    base = df.select("vec_id", similarity._as_double(F.col("embedding")).alias("v"))
    return similarity._pq_encode(base, packed, m, "vec_id")


def test_pq_encode_shape_and_range(emb):
    df, _ = emb
    codes = _pq_codes(df, similarity.pq_seed_codebook(df)).collect()
    assert all(len(r.codes) == similarity.PQ_M for r in codes)
    flat = [c for r in codes for c in r.codes]
    assert min(flat) >= 0 and max(flat) < similarity.PQ_CODES


def test_pq_distortion_consistent_with_encode(emb):
    """Distortion ground truth from the PQ encoder itself: a vector's
    sq_err must equal the sum of squared L2 to its ASSIGNED codes
    (computed in python over the collected codebook), and every
    codebook vector reconstructs itself exactly (sq_err == 0.0)."""
    df, vecs = emb
    cb_df = similarity.pq_seed_codebook(df)
    cb = {(r.sub, r.code): list(r.cv) for r in cb_df.collect()}
    codes = {
        r.vec_id: list(r.codes)
        for r in _pq_codes(df, cb_df).collect()
    }
    got = {
        r.vec_id: r.sq_err
        for r in similarity.pq_distortion(df, cb_df).collect()
    }
    sd = similarity.PQ_SUB_DIM
    for vid in range(len(vecs)):
        v = [float(x) for x in vecs[vid]]
        want = sum(
            sum(
                (v[s * sd + i] - cb[(s, codes[vid][s])][i]) ** 2
                for i in range(sd)
            )
            for s in range(similarity.PQ_M)
        )
        assert math.isclose(got[vid], want, rel_tol=1e-12, abs_tol=1e-12)
    for vid in range(similarity.PQ_CODES):
        if vid in got:
            assert got[vid] == 0.0


def test_ivf_recall_curve_monotone_and_matches_per_setting(emb):
    """The one-plan curve must (a) be non-decreasing in n_probe, (b)
    reach recall 1.0 when probing every list (== brute force), and
    (c) reproduce exactly what separate ivf_topk calls score per
    setting — the nested-candidate-set shortcut changes the plan, not
    the answer."""
    df, _ = emb
    pred = F.col("vec_id") < 4
    nc = similarity.N_CENTROIDS
    curve = similarity.ivf_recall_curve(
        df, pred, probes=(1, 2, nc), k=5
    ).collect()
    by_p = {}
    for r in curve:
        by_p.setdefault(r.n_probe, {})[r.query_id] = r.n_hits
        assert r.recall == r.n_hits / 5.0
    means = {p: sum(q.values()) for p, q in by_p.items()}
    assert means[1] <= means[2] <= means[nc]
    assert all(h == 5 for h in by_p[nc].values())  # probe-all == truth
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(df, query_pred=pred, k=5).collect()
    }
    for p in (1, 2):
        single = similarity.ivf_topk(df, query_pred=pred, k=5, n_probe=p)
        hits = {}
        for r in single.collect():
            hits[r.query_id] = hits.get(r.query_id, 0) + (
                (r.query_id, r.neighbor_id) in truth
            )
        for q, h in by_p[p].items():
            assert h == hits.get(q, 0)


def test_pq_trained_codebook_beats_poisoned_seed(clustered_emb):
    """Seed codebook comes from ids 0..15 — all cluster 0 by
    construction — so its subspace codes can't separate the other 7
    clusters; per-subspace k-means on the md5 sample can."""
    df, vecs = clustered_emb
    qp = F.col("vec_id").isin([20, 60, 100, 140])  # spread across clusters
    labels = {r.vec_id: r.label for r in df.select("vec_id", "label").collect()}

    def same_cluster_frac(rows):
        ok = sum(1 for r in rows if labels[r.neighbor_id] == labels[r.query_id])
        return ok / len(rows)

    seed_rows = similarity.pq_topk(df, query_pred=qp, k=5).collect()
    trained = similarity.pq_codebook_kmeans(df)
    tr_rows = similarity.pq_topk(df, codebook=trained, query_pred=qp, k=5).collect()
    # PQ's job at this granularity is getting the NEIGHBORHOOD right:
    # within-cluster ordering is below its resolution (16 codes shared
    # by 8 clusters), so assert cluster membership of the returned
    # neighbors, not exact L2 rank overlap.
    assert same_cluster_frac(tr_rows) >= 0.8
    assert same_cluster_frac(tr_rows) >= same_cluster_frac(seed_rows)


def _lloyd_reference(vecs: dict[int, list[float]], k: int, iters: int) -> dict:
    """Pure-Python mirror of the sampled Lloyd trainer on one view:
    md5-of-decimal-id sample order, seeds = the first k rows of that
    order, nearest centroid by a left-fold cosine (strictly greater
    wins so ties keep the lowest id; a NaN similarity ranks largest,
    the first NaN wins and is never displaced), integer-snapped means
    sum(floor(x*1e6 + 0.5)) / (n*1e6), empty clusters dropped."""
    import hashlib

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def div(a, b):
        if b == 0.0:
            return math.nan if a == 0.0 or math.isnan(a) else math.copysign(math.inf, a)
        return a / b

    order = sorted(vecs, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    cents = {c: vecs[i] for c, i in enumerate(order[:k])}
    for _ in range(iters):
        members: dict[int, list[list[float]]] = {}
        for i in order:
            v = vecs[i]
            nv = math.sqrt(dot(v, v))
            best_sim, best_id = -2.0, -1
            for c in sorted(cents):
                cv = cents[c]
                s = div(dot(v, cv), nv * math.sqrt(dot(cv, cv)))
                if not math.isnan(best_sim) and (math.isnan(s) or s > best_sim):
                    best_sim, best_id = s, c
            members.setdefault(best_id, []).append(v)
        cents = {
            c: [
                float(sum(math.floor(x * 1_000_000 + 0.5) for x in col))
                / (len(vs) * 1e6)
                for col in zip(*vs)
            ]
            for c, vs in members.items()
        }
    return cents


def test_pq_codebook_kmeans_matches_python_lloyd(spark, clustered_emb):
    """Value coverage for the shared Lloyd trainer: every (sub, code)
    centroid of pq_codebook_kmeans equals, exactly, a pure-Python
    per-subspace Lloyd run. The corpus is clustered_emb plus a copy of
    the md5-first vector under the md5-second id, so two seed
    centroids tie in every subspace (the lowest id must win, leaving
    the other cluster empty and dropped)."""
    import hashlib

    df, _ = clustered_emb
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in df.collect()}
    first, second = sorted(
        vecs, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:2]
    vecs[second] = list(vecs[first])
    tied = spark.createDataFrame(
        sorted(vecs.items()), "vec_id long, embedding array<float>"
    )
    m, sub_dim = similarity.PQ_M, similarity.PQ_SUB_DIM
    want = {}
    for s in range(m):
        view = {i: v[s * sub_dim : (s + 1) * sub_dim] for i, v in vecs.items()}
        for c, cv in _lloyd_reference(
            view, similarity.PQ_CODES, similarity.KMEANS_ITERS
        ).items():
            want[(s, c)] = cv
    got = {
        (r.sub, r.code): list(r.cv)
        for r in similarity.pq_codebook_kmeans(tied).collect()
    }
    assert got == want
    # the tie really happened: seed 1 duplicates seed 0, so code 1
    # never wins an assignment and drops out of every subspace
    assert all((s, 1) not in got for s in range(m))


def test_pq_codebook_kmeans_deterministic(clustered_emb):
    df, _ = clustered_emb
    c1 = {(r.sub, r.code): r.cv for r in similarity.pq_codebook_kmeans(df).collect()}
    c2 = {(r.sub, r.code): r.cv for r in similarity.pq_codebook_kmeans(df).collect()}
    assert c1 == c2
    assert all(len(cv) == similarity.PQ_SUB_DIM for cv in c1.values())


def test_ivfpq_finds_cluster_neighborhood(clustered_emb):
    """IVF-PQ with enough probes returns neighbors from the query's own
    cluster (the coarse router's job), and probing more lists never
    shrinks the candidate set."""
    df, _ = clustered_emb
    labels = {r.vec_id: r.label for r in df.select("vec_id", "label").collect()}
    qp = F.col("vec_id").isin([20, 60, 100])
    rows = similarity.ivfpq_topk(df, query_pred=qp, k=5, n_probe=4).collect()
    same = sum(1 for r in rows if labels[r.neighbor_id] == labels[r.query_id])
    assert same / len(rows) >= 0.6
    # monotonicity: candidates(n_probe=1) ⊆ candidates reachable at 4
    r1 = {(r.query_id, r.neighbor_id) for r in
          similarity.ivfpq_topk(df, query_pred=qp, k=5, n_probe=1).collect()}
    assert len(r1) <= len(rows)


def test_ivfpq_plan_joins_codes_on_list_id(emb):
    df, _ = emb
    plan = (
        similarity.ivfpq_topk(df, query_ids=[0, 1], k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan


def test_pool_chunk_embeddings_exact_and_partition_invariant(spark):
    """Fixed-point pooling: exact sums, one-division means, and the
    same result at any partitioning (the property a float sum lacks)."""
    from pyspark.sql import functions as F

    from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
    saltjoin,
    similarity,
)

    rows = [
        (0, [1.0, -0.5]),
        (0, [0.5, 0.5]),
        (1, [0.25, 0.0]),
    ]
    df = spark.createDataFrame(rows, "group_id long, embedding array<float>")
    out = {
        (r.group_id, r.pos): (r.n_chunks, r.sum_q, r.mean)
        for r in similarity.pool_chunk_embeddings(df, "group_id", scale_bits=2).collect()
    }
    # scale 4: 1.0->4, -0.5->floor(-2+0.5)=-2 ... floor(-1.5)=-2
    assert out[(0, 0)] == (2, 4 + 2, 6 / 8)
    assert out[(0, 1)] == (2, -2 + 2, 0.0)
    assert out[(1, 0)] == (1, 1, 0.25)
    # partition invariance
    again = {
        (r.group_id, r.pos): (r.n_chunks, r.sum_q, r.mean)
        for r in similarity.pool_chunk_embeddings(
            df.repartition(7), "group_id", scale_bits=2
        ).collect()
    }
    assert again == out


def test_two_stage_rerank_pool_all_is_brute_force(emb):
    """With pool >= corpus-1 the coarse stage keeps EVERYTHING, so the
    exact rerank must reproduce brute force bit-for-bit (ids, ranks,
    and cosine values); with a small pool the result set is the
    rerank of a genuine subset (recall <= 1, every neighbor drawn
    from the coarse pool)."""
    df, vecs = emb
    qids = [0, 5, 9]
    k = 5
    bf = {
        (r.query_id, r.neighbor_id, round(r.cos_sim, 12), r.rank)
        for r in similarity.brute_force_topk(df, query_ids=qids, k=k).collect()
    }
    full = {
        (r.query_id, r.neighbor_id, round(r.cos_sim, 12), r.rank)
        for r in similarity.two_stage_topk(
            df, query_ids=qids, k=k, pool=len(vecs)
        ).collect()
    }
    assert full == bf
    small = similarity.two_stage_topk(df, query_ids=qids, k=k, pool=8).collect()
    assert all(r.coarse_rank <= 8 for r in small)
    assert {r.query_id for r in small} == set(qids)


def test_prefix_recall_curve_matches_numpy(emb):
    """Ground truth from numpy: per prefix dim, rank corpus by prefix
    cosine (ties by id) and count overlap with the full-dim top-5 —
    the one-plan curve must reproduce it exactly, and including the
    full dim as a curve point must score recall 1.0 everywhere."""
    df, vecs = emb
    k = 5
    dims = (8, 16, DIM)
    got = {
        (r.dim, r.query_id): r.n_hits
        for r in similarity.prefix_recall_curve(
            df, F.col("vec_id") < 4, dims=dims, k=k
        ).collect()
    }
    v = np.asarray([[float(x) for x in row] for row in vecs], dtype=np.float64)

    def topk(q, d):
        qv, cv = v[q, :d], v[:, :d]
        sims = cv @ qv / (np.linalg.norm(cv, axis=1) * np.linalg.norm(qv))
        order = sorted(
            (i for i in range(len(v)) if i != q),
            key=lambda i: (-sims[i], i),
        )
        return set(order[:k])

    for q in range(4):
        truth = topk(q, DIM)
        for d in dims:
            assert got[(d, q)] == len(topk(q, d) & truth)
        assert got[(DIM, q)] == k  # full dim == truth
