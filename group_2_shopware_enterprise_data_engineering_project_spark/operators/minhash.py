"""MinHash + LSH near-duplicate detection, fully deterministic.

Pipeline (standard shingle -> minhash -> band -> bucket-join design,
cf. Broder 1997 / Mining of Massive Datasets ch.3):

1. k-gram shingles per doc (distinct).
2. P "permutations": minhash_i = MIN over shingles of md5(i + ":" + s).
   md5 as the hash family makes every stage reproducible in ANSI SQL —
   no engine-specific hash, no RNG.
3. Bands of R rows: band_hash = md5(mh[2b] + "|" + mh[2b+1]).
4. Candidate pairs = docs sharing any (band_idx, band_hash) bucket.
5. Verify candidates with EXACT Jaccard via a shingle inverted-index
   join, keep pairs >= threshold.

Scale: the only data that shuffles is (band_hash, doc_id) pairs and
(shingle_hash, doc_id) pairs for candidates — never document bodies.
Bucket sizes bound the join fan-out; skewed buckets (boilerplate
shingles) are handled by AQE skew-join. With P=16, R=2 -> B=8 bands,
P(candidate | jaccard=j) = 1-(1-j^2)^8: ~0.90 at j=0.5, ~0.9996 at
j=0.8 — tune P/R per corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from group_2_shopware_enterprise_data_engineering_project_spark.functions.partitioning import (
    spread,
)
from group_2_shopware_enterprise_data_engineering_project_spark.operators.saltjoin import (
    BUCKET_CAP,
    salted_bipartite_join,
    salted_pair_join,
    salted_pair_tasks,
)
from group_2_shopware_enterprise_data_engineering_project_spark.operators.text import (
    shingles,
    tokens,
)

NUM_PERM = 16
BAND_ROWS = 2


def shingle_sets(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, shingles array) per doc. Input is spread across cores —
    signature hashing (num_perm md5s per shingle) is the compute-bound
    stage of the pipeline."""
    docs = spread(docs)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        shingles(tokens(text_col), k).alias("shingles"),
    )


def _perm_hash(i: int):
    """ONE-argument lambda factory for F.transform. The obvious
    `lambda s, i=i: ...` late-binding idiom is a trap here: PySpark
    decides the higher-order-function arity from the Python signature,
    so a two-parameter lambda receives the ARRAY INDEX as its second
    argument — shadowing the default and turning the permutation
    prefix into the stringified index Column (a plan-dependent name),
    i.e. an unstable hash family that silently diverges from the
    documented md5('i:' || s). Caught by the d7 cross-corpus join in
    r6; pinned by test_minhash_signature_matches_documented_family."""
    return lambda s: F.md5(F.concat(F.lit(f"{i}:"), s))


def minhash_signature(shingle_col: Column, num_perm: int = NUM_PERM) -> Column:
    """Array of `num_perm` minhashes (md5-hex strings; lexicographic
    MIN is the hash-space minimum)."""
    return F.array(
        *[
            F.array_min(F.transform(shingle_col, _perm_hash(i)))
            for i in range(num_perm)
        ]
    )


def _signed(ss: DataFrame) -> DataFrame:
    """(doc_id, signature) of a `shingle_sets` frame."""
    return ss.select(
        "doc_id", minhash_signature(F.col("shingles")).alias("signature")
    )


def signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    return _signed(shingle_sets(docs, text_col, id_col))


def band_buckets(
    sigs: DataFrame, num_perm: int = NUM_PERM, band_rows: int = BAND_ROWS
) -> DataFrame:
    """(doc_id, band_idx, band_hash) — one row per band per doc."""
    n_bands = num_perm // band_rows
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col("signature")[b * band_rows + r]
                            for r in range(band_rows)
                        ],
                    )
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select("doc_id", F.explode(bands).alias("band")).select(
        "doc_id", F.col("band.band_idx").alias("band_idx"), F.col("band.band_hash").alias("band_hash")
    )


def candidate_pairs(
    buckets: DataFrame, bucket_cap: int = BUCKET_CAP, materialize: bool = True
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing any band bucket. The
    self-join shuffles on (band_idx, band_hash) only.

    Oversized buckets are salt-split via the SHARED lossless pattern
    (`operators/saltjoin.py` — one implementation for the embedding,
    semdedup, and MinHash families): a bucket of n > cap rows hashes
    its docs into s = ceil(n/cap) groups and the join enumerates the
    (i, j) group-pair sub-tasks explicitly, so no reducer ever
    materializes more than ~cap^2 candidates while the pair SET stays
    identical to the unsalted join. Buckets at or under the cap have
    s = 1 and degenerate to the plain self-join row.

    ``materialize=False`` returns the LAZY pair plan with no internal
    persist: for callers that (a) already hold ``buckets`` cached or
    checkpointed and (b) consume the result in exactly one downstream
    plan, the eager checkpoint here is a pure scheduling barrier — it
    serializes the candidate join ahead of the verify stage instead of
    letting one action overlap their independent stages (guide §2.6;
    the k5 dead-end measured the same barrier cost in r12). Callers
    that fan the pair set into several branches (calibration's three
    joins) keep the default."""
    if materialize:
        # Persist the bucket frame (ids + digests only, ~50 B/row —
        # tiny next to the corpus) so the salt-split's oversized-bucket
        # sizing agg and the pair join share ONE evaluation of the
        # 16-permutation md5 signature pipeline above; without it the
        # sizing branch re-derives every signature (measured ~20% of
        # dedup_minhash_lsh wall at sf0.1, r7 bisect in PERF.md).
        # Eagerly checkpointed out below, so the cache lifetime is this
        # function. (With materialize=False the caller's own cache of
        # ``buckets`` plays this role.)
        buckets = buckets.persist()
    try:
        tasks = salted_pair_tasks(
            buckets, bucket_cap, ("band_idx", "band_hash"), "doc_id"
        )
        out = (
            salted_pair_join(tasks, ("band_idx", "band_hash"), "doc_id")
            .select(
                F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
                F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
            )
            .distinct()
        )
        if materialize:
            # narrow (doc_a, doc_b) rows only — eager, so the bucket
            # cache can be released before this function returns
            out = out.localCheckpoint(eager=True)
        return out
    finally:
        if materialize:
            buckets.unpersist()


def exact_jaccard(
    shingle_df: DataFrame,
    pairs: DataFrame,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact Jaccard for the GIVEN candidate pairs only.

    Restricts the shingle inverted index to candidate docs BEFORE any
    self-join: cost is O(candidate docs x their shingles), not
    O(all co-occurring pairs). Computing the full co-occurrence matrix
    and then filtering would silently reintroduce the quadratic blowup
    LSH exists to avoid — on a low-diversity corpus (long posting
    lists) that is the difference between seconds and hours.

    ``carry_cols``: extra ``pairs`` columns to ride through the
    intersection aggregate and come back on the output — for callers
    that would otherwise have to JOIN the verified pairs back to the
    candidate frame to re-attach per-pair metadata (an extra shuffle,
    and a second evaluation of the candidate plan). Sound because
    (doc_a, doc_b) is unique in every caller's pair set, so grouping
    by (doc_a, doc_b, *carry) == grouping by (doc_a, doc_b).
    """
    inter = _intersections(shingle_df, pairs, carry_cols)
    return _jaccard(_with_sizes(inter, shingle_df), carry_cols)


def _intersections(
    ss: DataFrame, pairs: DataFrame, carry_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_a, doc_b, *carry_cols, n_inter): shared-shingle counts of
    the GIVEN pairs only — the inverted index restricted to candidate
    docs on each side before the shingle-equality join. Pairs sharing
    no shingle produce no row."""
    exploded = ss.select("doc_id", F.explode("shingles").alias("shingle"))
    return (
        pairs.join(
            exploded.alias("x"), pairs["doc_a"] == F.col("x.doc_id")
        )
        .join(
            exploded.alias("y"),
            (pairs["doc_b"] == F.col("y.doc_id"))
            & (F.col("x.shingle") == F.col("y.shingle")),
        )
        .groupBy("doc_a", "doc_b", *carry_cols)
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )


def _with_sizes(pairs: DataFrame, ss: DataFrame) -> DataFrame:
    """``pairs`` plus each side's shingle-set size (sz_a, sz_b)."""
    sizes = ss.select("doc_id", F.size("shingles").alias("sz"))
    return pairs.join(
        sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"),
        "doc_a",
    ).join(
        sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"),
        "doc_b",
    )


def _union_size(n_inter: Column) -> Column:
    """|A u B| = |A| + |B| - |A n B| over a `_with_sizes` row."""
    return F.col("sz_a") + F.col("sz_b") - n_inter


def _jaccard(sized: DataFrame, carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """(doc_a, doc_b, jaccard, *carry_cols) from a `_with_sizes` frame
    of `_intersections` rows: the one Jaccard formula."""
    return sized.select(
        "doc_a",
        "doc_b",
        (F.col("n_inter").cast("double") / _union_size(F.col("n_inter"))).alias(
            "jaccard"
        ),
        *carry_cols,
    )


def minhash_lsh_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.4,
) -> DataFrame:
    """Full near-dup pipeline -> (doc_a, doc_b, jaccard) pairs with
    verified jaccard >= threshold, ordered for determinism.

    The shingle-set and bucket DataFrames each feed multiple plan
    branches (signature hashing, the bucket self-join's two sides, the
    verify stage's two explodes + two size lookups). Persist both so
    the shingle/md5 subtree runs ONCE instead of ~5x — (id, shingles)
    and (id, band_hash) are tiny relative to the corpus (no document
    bodies), so this holds at cluster scale where recomputing the
    signature stage per branch would dominate the job."""
    ss = shingle_sets(docs, text_col, id_col).persist()
    buckets = None
    try:
        buckets = band_buckets(_signed(ss)).persist()
        # Lazy candidates (materialize=False): `buckets` is persisted
        # right above and the pair set is consumed exactly once by the
        # verify join, so the eager checkpoint inside candidate_pairs
        # would only serialize candidate generation ahead of the verify
        # stage; one action lets Spark overlap their independent stages
        # (guide §2.6).
        cands = candidate_pairs(buckets, materialize=False)
        verified = exact_jaccard(ss, cands)
        # No terminal global sort: at scale the pair list is huge and
        # the driver compare / downstream joins are order-insensitive
        # (oracle SQL keeps ORDER BY for display). Threshold survivors
        # only (ids + jaccard, no text) materialize eagerly so both
        # corpus-sized caches release on return.
        out = verified.filter(F.col("jaccard") >= threshold)
        return out.localCheckpoint(eager=True)
    finally:
        ss.unpersist()
        if buckets is not None:
            buckets.unpersist()


def allpairs_jaccard_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.4,
) -> DataFrame:
    """n-gram Jaccard near-dup WITHOUT LSH: exact inverted-index
    all-pairs (ground truth / small-corpus path; LSH is the scale
    path — same verify stage, different candidate generation).

    Persisted for the same reason as minhash_lsh_dedup: the shingle
    subtree feeds 4 plan branches; released on return via eager
    materialization of the (small) surviving-pair result."""
    ss = shingle_sets(docs, text_col, id_col).persist()
    try:
        exploded = ss.select("doc_id", F.explode("shingles").alias("shingle"))
        inter = (
            exploded.alias("x")
            .join(exploded.alias("y"), (F.col("x.shingle") == F.col("y.shingle")) & (F.col("x.doc_id") < F.col("y.doc_id")))
            .groupBy(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        out = _jaccard(_with_sizes(inter, ss)).filter(F.col("jaccard") >= threshold)
        return out.localCheckpoint(eager=True)
    finally:
        ss.unpersist()


def bucket_index(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, band_idx, band_hash) for a corpus — the STORED artifact
    of incremental ingestion dedup: built once per corpus, appended as
    shards land, and probed by each new shard without re-shingling the
    history. The index carries digests + ids only, never text."""
    return band_buckets(signatures(docs, text_col, id_col))


def incremental_dedup(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.4,
    index: DataFrame | None = None,
    new_buckets: DataFrame | None = None,
) -> DataFrame:
    """Incremental-ingestion near-dup: verify a NEW shard against the
    existing corpus AND against itself, without ever self-joining the
    history. Emits verified pairs (doc_a < doc_b, jaccard >= threshold,
    vs_existing = 1 when one side is historical) — the verdict layer
    (keep-first / connected components) composes on top exactly as in
    `minhash_lsh_dedup`. Ids must be disjoint across the two corpora.

    ``index`` is the stored `bucket_index` of the history; pass it to
    skip re-shingling the history for candidate generation (the
    steady-state shape: the index is appended to as shards land — see
    `streaming.micro_batch.incremental_dedup_sink`). When None it is
    derived from ``existing_docs`` here. ``new_buckets`` is the
    shard's own `bucket_index`; pass it when the caller has already
    computed it (the streaming sink computes it once and both probes
    with it and appends it) to skip the signature stage — the
    compute-bound stage of the pipeline — a second time. The shard is
    still re-shingled here (shingles feed the verify join; they are
    one md5-free projection, cheap next to the NUM_PERM signature
    hashes).

    Semantics equal `minhash_lsh_dedup` over the UNION minus the
    existing-existing pairs (the oracle states it exactly that way);
    the plan differs where scale demands it:

      - the history contributes only its bucket index (ids + digests)
        to candidate generation; history TEXT is shingled only for
        docs that appear in a cross candidate (semi-join before the
        shingle projection — at 100 TB that is the difference between
        re-reading the corpus per shard and reading a few thousand
        candidate docs);
      - new-vs-existing candidates go through the LOSSLESS bipartite
        salt-split (`saltjoin.salted_bipartite_join`): a bucket
        degenerate on EITHER side — a boilerplate band in a huge index
        probed by a small shard, or a huge backfill shard against a
        small index — is split into cap x cap sub-tasks, so no reducer
        ever materializes more than ~cap^2 candidates and the pair set
        is identical to the plain bucket join;
      - new-vs-new candidates use the salt-split self-join as usual.
    """
    new_ss = shingle_sets(new_docs, text_col, id_col).persist()
    own_buckets = new_buckets is None
    own_index = index is None
    cross = None
    ex_ss = None
    try:
        if own_buckets:
            new_buckets = band_buckets(_signed(new_ss)).persist()
        if own_index:
            # Persisted for the same reason candidate_pairs persists its
            # bucket frame (r7 bisect, PERF.md): the bipartite salt
            # evaluates the index TWICE — the oversized-bucket sizing
            # agg and the task frame — and when the index is derived
            # here its lineage is the full NUM_PERM-permutation md5
            # signature pipeline over the HISTORY (measured at sf0.1:
            # ~5 s of d7's 14 s wall was this second evaluation). A
            # caller-passed index is a stored artifact (parquet read),
            # which the two branches re-scan cheaply — not persisted.
            index = bucket_index(existing_docs, text_col, id_col).persist()

        # new x existing: bipartite bucket join, hot buckets salted.
        # Persisted because it feeds BOTH the verify join and the
        # history-restriction semi-join below.
        cross = (
            salted_bipartite_join(
                new_buckets.withColumnRenamed("doc_id", "new_id"),
                index.withColumnRenamed("doc_id", "ex_id"),
                BUCKET_CAP,
                ("band_idx", "band_hash"),
                "new_id",
                "ex_id",
            )
            .select(F.col("a.new_id").alias("new_id"), F.col("b.ex_id").alias("ex_id"))
            .distinct()
            .persist()
        )
        # history text -> shingles ONLY for candidate docs
        ex_cand = existing_docs.join(
            cross.select(F.col("ex_id").alias(id_col)).distinct(),
            id_col,
            "semi",
        )
        # Persisted: exact_jaccard explodes its shingle frame on both
        # join sides and scans it twice more for sizes, so an
        # unpersisted ex_ss would re-run the documents scan + semi-join
        # + shingle projection up to 4x. Candidate-history shingles are
        # LSH-selected — a small fraction of the history by
        # construction — so the cache is shard-scale, not corpus-scale.
        ex_ss = shingle_sets(ex_cand, text_col, id_col).persist()

        cross_pairs = cross.select(
            F.least("new_id", "ex_id").alias("doc_a"),
            F.greatest("new_id", "ex_id").alias("doc_b"),
        ).withColumn("vs_existing", F.lit(1))
        # new x new: the standard capped self-join — LAZY
        # (materialize=False): new_buckets is persisted above (or
        # caller-checkpointed), and vs_existing rides through the
        # verify aggregate as a carry column, so the candidate set has
        # exactly one consumer. The previous shape eagerly checkpointed
        # `within` (a scheduling barrier serializing it ahead of the
        # cross/verify stages) and then JOINED the verified pairs back
        # to the candidate frame just to re-attach vs_existing — one
        # extra shuffle and a second evaluation of the candidate plan
        # per call. Sound because ids are disjoint across the two
        # corpora, so (doc_a, doc_b) determines vs_existing uniquely.
        within = candidate_pairs(new_buckets, materialize=False).withColumn(
            "vs_existing", F.lit(0)
        )
        cands = cross_pairs.unionByName(within)

        out = (
            exact_jaccard(
                new_ss.unionByName(ex_ss), cands, carry_cols=("vs_existing",)
            )
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard", "vs_existing")
        )
        return out.localCheckpoint(eager=True)
    finally:
        new_ss.unpersist()
        if own_buckets and new_buckets is not None:
            new_buckets.unpersist()
        if own_index and index is not None:
            index.unpersist()
        if cross is not None:
            cross.unpersist()
        if ex_ss is not None:
            ex_ss.unpersist()


#: Shared shingles listed per pair by `pair_evidence`.
EVIDENCE_TOP_N = 3


def pair_evidence(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup EXPLANATION: for every verified near-dup pair, the
    exact shared-shingle count and the lexicographically-first
    EVIDENCE_TOP_N shared shingles — the human-auditable evidence a
    curation review wants next to each dedup verdict ("why did we drop
    doc B against doc A?"). Composes the full `minhash_lsh_dedup`
    pipeline with one more inverted-index join restricted to the
    verified pairs.

    The evidence strings are capped BEFORE collection (rank window on
    the pair partition, t12's postings-cap pattern), so per-pair state
    is O(EVIDENCE_TOP_N) even for boilerplate pairs sharing thousands
    of shingles; the shared count still comes from the full uncapped
    aggregate on the same shuffle.
    """
    pairs = minhash_lsh_dedup(docs, text_col, id_col)
    ss = shingle_sets(docs, text_col, id_col)
    ex = ss.select("doc_id", F.explode("shingles").alias("s"))
    shared = (
        pairs.join(ex.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(
            ex.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "s", "s_b"
            ),
            ["doc_b"],
        )
        .filter(F.col("s") == F.col("s_b"))
        .select("doc_a", "doc_b", "jaccard", "s")
    )
    w = Window.partitionBy("doc_a", "doc_b").orderBy("s")
    capped = shared.withColumn("_rn", F.row_number().over(w))
    return capped.groupBy("doc_a", "doc_b", "jaccard").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared"),
        F.array_join(
            F.array_sort(
                F.collect_list(F.when(F.col("_rn") <= EVIDENCE_TOP_N, F.col("s")))
            ),
            ",",
        ).alias("top_shared"),
    )


def calibration(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """MinHash calibration report: per LSH candidate pair, the
    signature agreement count (0..NUM_PERM — NUM_PERM * the unbiased
    Jaccard estimator) NEXT TO the exact shared-shingle and union
    cardinalities. The sketch-quality audit a dedup pipeline publishes
    when tuning NUM_PERM / band geometry: if n_agree/NUM_PERM tracks
    inter/union poorly, the permutation budget is wrong for the corpus.

    All-integer output (n_agree, inter_n, union_n) — estimator and
    truth both ride as exact counts, division left to the reader.

    Scale shape: reuses the production pipeline end-to-end — ONE
    signature evaluation feeds buckets and the agreement join (persist
    + eager-checkpoint discipline inherited from candidate_pairs), the
    pair set is the salt-split-capped LSH candidate set (never all
    pairs), and the exact leg restricts the shingle index to candidate
    docs before joining (exact_jaccard's shape).
    """
    ss = shingle_sets(docs, text_col, id_col).persist()
    try:
        sigs = _signed(ss).persist()
        try:
            pairs = candidate_pairs(band_buckets(sigs))
            agree = (
                pairs.join(
                    sigs.select(
                        F.col("doc_id").alias("doc_a"),
                        F.col("signature").alias("_sig_a"),
                    ),
                    "doc_a",
                )
                .join(
                    sigs.select(
                        F.col("doc_id").alias("doc_b"),
                        F.col("signature").alias("_sig_b"),
                    ),
                    "doc_b",
                )
                .select(
                    "doc_a",
                    "doc_b",
                    F.size(
                        F.filter(
                            F.zip_with(
                                "_sig_a", "_sig_b", lambda x, y: x == y
                            ),
                            lambda v: v,
                        )
                    )
                    .cast("long")
                    .alias("n_agree"),
                )
            )
            n_inter = F.coalesce("n_inter", F.lit(0))
            out = _with_sizes(
                agree.join(_intersections(ss, pairs), ["doc_a", "doc_b"], "left"), ss
            ).select(
                "doc_a",
                "doc_b",
                "n_agree",
                n_inter.cast("long").alias("inter_n"),
                _union_size(n_inter).cast("long").alias("union_n"),
            )
            # |pairs|-sized rows — eager, so both caches release on return
            return out.localCheckpoint(eager=True)
        finally:
            sigs.unpersist()
    finally:
        ss.unpersist()
