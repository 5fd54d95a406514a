"""Corpus search operators: BM25 relevance scoring and bounded
inverted-index construction.

Part of the training-data-curation family (keyword-targeted corpus
slicing, quality-by-query probes). Both operators follow the repo's
determinism discipline: no transcendental functions (the classic BM25
``ln`` IDF is replaced by the monotone rational form already used by
``text.tfidf_top_terms`` — see its docstring for the measured
cross-engine ulp evidence), and no floating-point aggregation — per
(doc, term) scores are bit-identical single IEEE expressions, and the
per-doc total is summed in integer micro-units (floor(x·1e6 + 0.5)),
which is order-independent.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from group_2_shopware_enterprise_data_engineering_project_spark.operators.text import (
    tokens,
)


def bm25_topk(
    docs: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents for a bag-of-terms query under BM25 with a
    rational IDF.

    Per matched (doc, term):

        idf = (N − df + 0.5) / (df + 0.5)          [rational, not ln]
        tf_sat = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
        score_term = idf · tf_sat

    and the doc score is Σ floor(score_term·1e6 + 0.5) / 1e6 — summed
    as BIGINT micro-units so the total does not depend on the order
    terms arrive in (a double sum would).

    Scale shape: the corpus side explodes to (doc, term) once, filters
    to the query's terms IMMEDIATELY (the filter is a literal IN —
    pushed below the groupBy, so tf aggregation only ever sees
    query-term postings), df comes from the same filtered aggregate,
    and the df map (|query| rows) joins back as a broadcast. Document
    length dl and avgdl are one map-side-combined count. Final top-k
    is a rank cut, not a global sort.
    """
    n_docs_row = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))

    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    )
    # doc lengths over ALL tokens (BM25's dl), before the query filter
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    avgdl_row = dl.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias("avgdl")
    )

    matched = toks.filter(F.col("term").isin(list(query_terms)))
    tf = matched.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))

    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(n_docs_row))
        .join(F.broadcast(avgdl_row))
    )
    ndd = F.col("n_docs").cast("double")
    dfd = F.col("df").cast("double")
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    idf = (ndd - dfd + F.lit(0.5)) / (dfd + F.lit(0.5))
    tf_sat = (tfd * F.lit(k1 + 1.0)) / (
        tfd + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dld / F.col("avgdl"))
    )
    per_term_micro = F.floor(idf * tf_sat * F.lit(1e6) + F.lit(0.5)).cast("long")

    doc_scores = scored.groupBy("doc_id").agg(
        F.sum(per_term_micro).alias("score_micro"),
        F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
    )
    # global top-k via orderBy+limit = TakeOrderedAndProject (partial
    # per-task top-k, driver merge) — a row_number window here would
    # funnel EVERY matching doc through one partition. Rank is then
    # assigned over only the k survivors.
    cut = doc_scores.orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    ).limit(k)
    w = Window.orderBy(F.col("score_micro").desc(), F.col("doc_id").asc())
    return (
        cut.withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            "rank",
            "doc_id",
            (F.col("score_micro").cast("double") / F.lit(1e6)).alias("score"),
            "n_terms_matched",
        )
    )


def inverted_index(
    docs: DataFrame,
    posting_cap: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Term → (document frequency, total term frequency, bounded
    posting list) index.

    The posting list keeps only the first ``posting_cap`` doc ids in
    ascending order, CAPPED BEFORE COLLECTION: a rank window on
    (term, doc_id) discards beyond-cap postings before any
    collect_list runs, so per-term state is O(cap) even for a
    stopword that appears in every document — an uncapped
    collect_list would be the classic inverted-index OOM at corpus
    scale. df / tf_total still come from the full (uncapped)
    aggregate; both aggregations share the same term-keyed shuffle.
    Postings are emitted as a comma-joined string (driver hash
    compare is scalar-typed).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    )
    per_doc = toks.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    full = per_doc.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("tf_total"),
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    capped = (
        per_doc.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= posting_cap)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "doc_id"))),
                    lambda s: s["doc_id"].cast("string"),
                ),
                ",",
            ).alias("postings")
        )
    )
    return full.join(capped, "term").select(
        "term", "df", "tf_total", "postings"
    )


# --- reciprocal-rank fusion (hybrid keyword + vector retrieval) -------------

RRF_K = 60
RRF_MICRO = 1_000_000_000


def rrf_fuse(
    kw_ranks: DataFrame,
    vec_ranks: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two ranked
    retrieval lists — the standard hybrid-search combiner (BM25 keyword
    ranks + embedding-cosine ranks) of a RAG data stack. Input frames
    carry (id, rank_kw) / (id, rank_vec); a doc absent from one list
    contributes only the other term (the RRF convention).

    The fused score is computed in integer micro-units —
    ``RRF_MICRO div (RRF_K + rank)`` per list, summed as BIGINT — so it is
    exactly reproducible cross-engine (the float 1/(k+r) sum would be
    fine at 2 terms, but the integer form stays exact at any number of
    fused lists). Ties broken by id; fused_rank assigned over the
    union of the two top-k lists (<= |kw| + |vec| rows, so the global
    rank window is bounded by construction, not by data volume).
    """
    fused = kw_ranks.join(vec_ranks, id_col, "full")
    contrib = (
        F.coalesce(
            F.expr(f"{RRF_MICRO} div ({RRF_K} + rank_kw)"), F.lit(0).cast("long")
        )
        + F.coalesce(
            F.expr(f"{RRF_MICRO} div ({RRF_K} + rank_vec)"), F.lit(0).cast("long")
        )
    ).cast("long")
    scored = fused.select(
        id_col, "rank_kw", "rank_vec", contrib.alias("rrf_micro")
    )
    w = Window.orderBy(F.col("rrf_micro").desc(), F.col(id_col).asc())
    return scored.withColumn(
        "fused_rank", F.row_number().over(w).cast("long")
    )
