"""Train/eval contamination detection — the decontamination stage of
an LLM training-data pipeline (the verbatim-overlap check described in
the GPT-3 appendix and most benchmark-hygiene writeups: a train doc is
contaminated if it shares any k-token n-gram with the eval set).

Beyond-reference operator (the reference's pipelines stop at KPI
aggregation); built from the same shingle primitives as the MinHash
dedup family (operators/text.py, operators/minhash.py).

Scale shape: the eval side of the join is a benchmark suite — a few
million n-grams at most, orders of magnitude smaller than a 100 TB
corpus — so its distinct n-gram digests BROADCAST and the corpus-side
probe is a map-side hash semi-join: the corpus never shuffles, never
materializes its exploded n-grams past the probe, and the only thing
that survives is (doc_id, hit) pairs for the per-doc rollup. For an
eval set too big to broadcast, `contamination_report_bloom` pre-filters
against a broadcast bloom bitmap and verifies with a digest-keyed
shuffle join (still digests, never text). n-grams join on
md5 digests, not raw strings, so row width is bounded regardless of
k — and md5 keeps every stage expressible in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from group_2_shopware_enterprise_data_engineering_project_spark.functions.partitioning import (
    spread,
)
from group_2_shopware_enterprise_data_engineering_project_spark.operators.text import (
    shingles,
    tokens,
)


def eval_ngram_digests(
    eval_docs: DataFrame, text_col: str = "text", k: int = 8
) -> DataFrame:
    """Distinct md5 digests of every k-token n-gram in the eval set —
    the (small) probe side of the contamination join.

    ``spread`` because the k-gram projection (slice+array_join per
    token position, O(g^2) array_distinct, md5) otherwise runs in the
    eval scan's partitioning — ONE task on a single-file local input
    (the t8/d5 disease; no-op on a many-split cluster scan)."""
    return (
        spread(eval_docs)
        .select(F.explode(shingles(tokens(text_col), k)).alias("ngram"))
        .select(F.md5("ngram").alias("ngram_md5"))
        .distinct()
    )


def contamination_report(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Per-train-doc overlap with the eval n-gram set: docs with at
    least one verbatim k-gram hit, with hit counts and the contaminated
    fraction of the doc's n-grams (the usual drop/keep signal).

    Output: (doc_id, n_shingles, n_overlap, contamination_ratio).
    """
    evals = F.broadcast(eval_ngram_digests(eval_docs, text_col, k))
    sh = spread(train_docs).select(
        F.col(id_col).alias("doc_id"),
        shingles(tokens(text_col), k).alias("shingles"),
    )
    exploded = sh.select(
        "doc_id",
        F.size("shingles").cast("long").alias("n_shingles"),
        F.explode("shingles").alias("ngram"),
    ).select("doc_id", "n_shingles", F.md5("ngram").alias("ngram_md5"))
    return (
        exploded.join(evals, "ngram_md5")
        .groupBy("doc_id")
        .agg(
            F.max("n_shingles").alias("n_shingles"),
            F.count(F.lit(1)).alias("n_overlap"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            (F.col("n_overlap").cast("double") / F.col("n_shingles")).alias(
                "contamination_ratio"
            ),
        )
    )


# --- bloom-filter scale path ----------------------------------------------
#
# When the eval suite's distinct n-gram digest set is too big to
# broadcast as an exact hash set (say 10^8+ digests -> GBs), the right
# 100 TB shape is: broadcast a BIT ARRAY instead (a bloom filter at
# p=1% is ~1.2 bytes/item vs 8+ for exact digests), pre-filter the
# corpus n-grams MAP-SIDE against it, and run the exact join only on
# the survivors (~p x corpus n-grams + true hits). Bloom filters have
# no false negatives, so the final report is IDENTICAL to the exact
# path — the filter only moves work, never answers.
#
# Spark's internal bloom_filter_agg/might_contain expressions are not
# in the public function registry, so the filter is built from first
# principles in DataFrame ops — which also keeps every stage
# whole-stage-codegen'd and visible to the optimizer: positions via
# double hashing (xxhash64), one groupBy(word).bit_or to build the
# bitmap words, one ordered array_agg into a dense array<bigint>
# bitmap, broadcast as a single row, probed with O(1) element_at bit
# tests. No Python anywhere.


#: Bit positions set per n-gram in the eval bloom filter.
BLOOM_HASHES = 5


def _bloom_positions(ngram: F.Column, m_bits: int) -> F.Column:
    """Double-hashing position family pos_j = (h1 + j*h2) mod m,
    j=1..BLOOM_HASHES (Kirsch-Mitzenmacher: two hashes simulate k)."""
    # reduce mod m BEFORE combining: raw h1 + j*h2 overflows int64
    # under ANSI mode; (h1' + j*h2') stays < (k+1)*m, far from 2^63
    h1 = F.pmod(F.xxhash64(ngram), F.lit(m_bits))
    h2 = F.pmod(F.xxhash64(F.lit("bloom2"), ngram), F.lit(m_bits))
    return F.array(
        *[F.pmod(h1 + F.lit(j) * h2, F.lit(m_bits)) for j in range(1, BLOOM_HASHES + 1)]
    )


def build_ngram_bloom(
    eval_docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    m_bits: int = 1 << 20,
) -> DataFrame:
    """One-row DataFrame holding the dense bloom bitmap
    (array<bigint>, m_bits/64 words) over the eval set's k-gram
    digests. Build cost: one explode (BLOOM_HASHES positions/ngram), one
    map-side-combining groupBy over at most m_bits/64 distinct word
    keys, one final array assembly. The bitmap row is what gets
    broadcast: m_bits=2^30 -> 128 MiB for ~10^8 items at p~1%."""
    n_words = m_bits // 64
    # spread: same single-task-scan reason as eval_ngram_digests
    pos = spread(eval_docs).select(
        F.explode(shingles(tokens(text_col), k)).alias("ngram")
    ).select(
        F.explode(_bloom_positions(F.col("ngram"), m_bits)).alias("pos")
    )
    words = pos.select(
        (F.col("pos") / 64).cast("long").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("bit"),
    ).groupBy("word_idx").agg(F.bit_or("bit").alias("word"))
    # densify: union zero-words so every index exists, then one ordered
    # array assembly (array_sort on (idx, word) structs -> project word)
    spark = eval_docs.sparkSession
    zeros = spark.range(n_words).select(
        F.col("id").alias("word_idx"), F.lit(0).cast("long").alias("word")
    )
    dense = (
        words.unionByName(zeros)
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("word_idx", "word"))
            ).alias("pairs")
        )
        .select(F.transform("pairs", lambda p: p["word"]).alias("bloom"))
    )
    return dense


def contamination_report_bloom(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    m_bits: int = 1 << 20,
) -> DataFrame:
    """`contamination_report` semantics via the bloom scale path:
    map-side bloom pre-filter on the corpus n-grams, then the exact
    digest join (non-broadcast, digest-keyed shuffle — the regime this
    path exists for) restricted to bloom survivors. Output is
    bit-identical to the exact path (no false negatives; false
    positives die in the verify join)."""
    bloom = F.broadcast(build_ngram_bloom(eval_docs, text_col, k, m_bits))
    sh = spread(train_docs).select(
        F.col(id_col).alias("doc_id"),
        shingles(tokens(text_col), k).alias("shingles"),
    )
    exploded = sh.select(
        "doc_id",
        F.size("shingles").cast("long").alias("n_shingles"),
        F.explode("shingles").alias("ngram"),
    )
    probed = exploded.crossJoin(bloom).filter(
        F.forall(
            _bloom_positions(F.col("ngram"), m_bits),
            lambda pos: F.bit_get(
                F.get("bloom", (pos / 64).cast("int")), (pos % 64).cast("int")
            )
            == 1,
        )
    )
    survivors = probed.select("doc_id", "n_shingles", F.md5("ngram").alias("ngram_md5"))
    evals = eval_ngram_digests(eval_docs, text_col, k)  # NOT broadcast: scale regime
    return (
        survivors.join(evals, "ngram_md5")
        .groupBy("doc_id")
        .agg(
            F.max("n_shingles").alias("n_shingles"),
            F.count(F.lit(1)).alias("n_overlap"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            (F.col("n_overlap").cast("double") / F.col("n_shingles")).alias(
                "contamination_ratio"
            ),
        )
    )
