"""Training-data preparation operators: deterministic splits, gap
sessionization, PII redaction, group-wise top-k, document frequency,
stratified sampling.

These extend the reference's batch analytics (no counterpart in
GEssuman/Group_2-Shopware-Enterprise-Data-Engineering-Project — its
pipelines stop at KPI aggregation) with the operations a large-scale
LLM training-data pipeline runs over the same tables. Every function
is pure DataFrame API (whole-stage codegen, no Python in the hot
path), and every derivation is deterministic so the DuckDB oracles in
queries/ml_prep.py reproduce results bit-for-bit.

Scale notes per operator are in the docstrings; the common theme:
one shuffle where one is unavoidable (window/groupBy on the natural
key), zero where it isn't (hash-projection splits, per-row redaction).
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .hints import broadcast_if_small

# --- deterministic split assignment ---------------------------------------

#: 16-bit bucket space: md5-hex prefix length 4 -> 65536 lexicographic
#: buckets, uniform over any key distribution.
_SPLIT_BUCKETS = 65536


def split_thresholds(fracs: tuple[float, ...]) -> list[str]:
    """Cumulative hex-prefix upper bounds for each split fraction.
    Lexicographic comparison on fixed-width lowercase hex == numeric
    comparison, and behaves identically in Spark (Java) and DuckDB
    (binary collation), so the oracle can reuse these exact literals.
    """
    bounds, acc = [], 0.0
    for f in fracs[:-1]:
        acc += f
        bounds.append(format(int(acc * _SPLIT_BUCKETS), "04x"))
    return bounds


SPLIT_NAMES = ("train", "val", "test")
SPLIT_FRACS = (0.9, 0.05, 0.05)


def split_assign(
    df: DataFrame,
    key_col: str,
) -> DataFrame:
    """Assign each row to a SPLIT_NAMES split (SPLIT_FRACS of the key
    space) by hashing its key: bucket = first 4 hex chars of
    md5('split:' key). Deterministic (same key ->
    same split across runs, clusters, and engines), independent of row
    order and partitioning, and stable under corpus growth — adding
    documents never reassigns existing ones, unlike fraction-based
    ``randomSplit``.

    Scale: a pure projection — no shuffle, no state; the split of 100
    TB costs one codegen'd map over the scan.
    """
    bucket = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col(key_col).cast("string"))), 1, 4
    )
    bounds = split_thresholds(SPLIT_FRACS)
    expr: Column = F.lit(SPLIT_NAMES[-1])
    for name, bound in reversed(list(zip(SPLIT_NAMES[:-1], bounds))):
        expr = F.when(bucket < bound, name).otherwise(expr)
    return df.withColumn("bucket", bucket).withColumn("split", expr)


# --- gap-based sessionization ---------------------------------------------


def sessionize(
    events: DataFrame,
    gap_sec: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Derive sessions from raw events by inactivity gap (ties in
    ``ts_col`` ordered by event_id): a session
    breaks when the time since the user's previous event exceeds
    ``gap_sec``. This is the scalable generalization of the reference's
    pre-assigned session_id analytics (ST6 — web_transform.py groups by
    an upstream-provided session): here the engine derives the sessions
    itself, which is what a 100 TB event log demands.

    Returns one row per (user, session): event count, start/end,
    duration_ms, and total value (exact integer-cents sum — float sums
    are order-dependent and would break cross-engine parity).

    Scale: ONE shuffle. The window partitions by user; the subsequent
    groupBy(user, session_seq) reuses that hash partitioning because
    the partition key is a prefix of the group key (EnsureRequirements
    accepts HashPartitioning(user) for the clustered distribution), so
    no second exchange. Per-user data must fit a task's sort spill —
    true at any corpus size since it scales with per-user activity,
    not corpus size.
    """
    # Type-defensive: TIMESTAMP_NTZ (Spark 4.x parquet inference) breaks
    # unix_millis. Normalize once up front — with a UTC session TZ the
    # NTZ->TIMESTAMP cast is value-exact, and it is a no-op otherwise.
    if dict(events.dtypes).get(ts_col) == "timestamp_ntz":
        events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(user_col).orderBy(ts_col, "event_id")
    prev_ms = F.unix_millis(F.lag(ts_col).over(w))
    is_new = F.when(
        prev_ms.isNull() | (F.unix_millis(F.col(ts_col)) - prev_ms > gap_sec * 1000),
        F.lit(1),
    ).otherwise(F.lit(0))
    with_seq = events.withColumn(
        "session_seq", F.sum(is_new).over(w).cast("long")
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return (
        with_seq.groupBy(user_col, "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            (F.unix_millis(F.max(ts_col)) - F.unix_millis(F.min(ts_col))).alias(
                "duration_ms"
            ),
            (F.sum(cents) / 100.0).alias("total_value"),
        )
    )


# --- PII redaction ---------------------------------------------------------

#: Patterns restricted to syntax with identical semantics in Java
#: regex (Spark) and RE2 (DuckDB): no backrefs, no lookaround; greedy
#: quantifiers whose leftmost-first and leftmost-longest matches agree.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+[0-9][0-9 ()-]{6,}[0-9]"


def pii_redact(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Count and redact emails / phone numbers. Emits per-doc match
    counts and the redacted text (plus its length), replacing matches
    with ``[EMAIL]`` / ``[PHONE]`` placeholders.

    Scale: pure per-row projection — regexp_count/replace run inside
    whole-stage codegen; no shuffle, no Python.
    """
    c = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(c, EMAIL_PATTERN, "[EMAIL]"), PHONE_PATTERN, "[PHONE]"
    )
    return docs.select(
        id_col,
        F.regexp_count(c, F.lit(EMAIL_PATTERN)).cast("long").alias("n_emails"),
        F.regexp_count(c, F.lit(PHONE_PATTERN)).cast("long").alias("n_phones"),
        redacted.alias("redacted_text"),
        F.length(redacted).cast("long").alias("redacted_len"),
    )


# --- group-wise top-k ------------------------------------------------------


def topk_per_group(
    df: DataFrame,
    group_col: str,
    order_col: str,
    tiebreak_col: str,
    k: int = 3,
) -> DataFrame:
    """Top-k rows per group by ``order_col`` desc (ties broken by
    ``tiebreak_col`` asc, making the selected set deterministic).

    Scale: one shuffle on the group key; the rank filter runs during
    the sort (WindowExec emits rows streamingly per group, and rows
    past rank k are dropped before any downstream operator). Unlike
    global top-k (O1's TakeOrderedAndProject) the result is per-group,
    so a full-partition sort per group key is the right plan.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.col(order_col).desc(), F.col(tiebreak_col).asc()
    )
    return (
        df.withColumn("rank_in_group", F.row_number().over(w).cast("long"))
        .filter(F.col("rank_in_group") <= k)
    )


# --- document frequency / IDF ---------------------------------------------


def doc_frequency(
    docs: DataFrame,
    top_n: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-term document frequency over the corpus with an exact IDF
    ratio (n_docs / df as double — no transcendental, so the oracle
    matches bit-for-bit; callers wanting classic idf apply ln() on
    top). Returns the ``top_n`` terms by (df desc, term asc) — a total
    order, so the selected set is deterministic.

    Scale: explode(distinct tokens per doc) -> groupBy(term). The
    shuffle carries (term, partial count) after map-side combine, not
    doc bodies. The scalar corpus count joins in as a broadcast of one
    row. top_n lands in TakeOrderedAndProject (per-partition heaps,
    driver merges top_n per partition — no global sort).
    """
    toks = F.array_distinct(
        F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    )
    exploded = docs.select(id_col, F.explode(toks).alias("term"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        exploded.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "df",
            (F.col("n_docs").cast("double") / F.col("df")).alias("idf_ratio"),
        )
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(top_n)
    )


# --- stratified sampling ---------------------------------------------------


def stratified_sample(
    docs: DataFrame,
    frac: Fraction = Fraction(1, 5),
    strata_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum quota sample: within each stratum,
    rank rows by md5('samp:' id) and keep rank * frac.denominator <=
    stratum_size * frac.numerator — exactly floor(frac * n) rows per
    stratum, chosen uniformly by the hash. The Fraction keeps the
    quota in integer arithmetic, so Spark and the SQL oracle agree
    without any float-rounding hazard.

    This is the rebalancing step of a data-mixing pipeline (downsample
    dominant languages/sources to a target distribution) — sampling
    ``randomSplit`` can't do deterministically or per-stratum.

    Scale: one shuffle on the stratum key; count-over-window and
    rank share the same partitioning. Per-stratum data must fit a
    task sort — salt-split strata if one stratum dominates the corpus.
    """
    h = F.md5(F.concat(F.lit("samp:"), F.col(id_col).cast("string")))
    w_rank = Window.partitionBy(strata_col).orderBy(h, id_col)
    w_all = Window.partitionBy(strata_col)
    return (
        docs.withColumn("sample_rank", F.row_number().over(w_rank).cast("long"))
        .withColumn("n_stratum", F.count(F.lit(1)).over(w_all).cast("long"))
        .filter(
            F.col("sample_rank") * F.lit(frac.denominator)
            <= F.col("n_stratum") * F.lit(frac.numerator)
        )
        .select(strata_col, id_col, "sample_rank", "n_stratum")
    )


# --- sequence packing (concat-and-chunk plan) ------------------------------


def sequence_pack(
    docs: DataFrame,
    cap: int = 1024,
    shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str | None = None,
) -> DataFrame:
    """GPT-2/T5-style concat-and-chunk packing PLAN: lay documents
    end-to-end in a deterministic order, cut the token stream into
    fixed-``cap`` windows, and emit each doc's pack assignment,
    intra-pack offset, and whether it spans a pack boundary. This is
    the layout step a tokenize-and-pack job needs before writing
    training shards; the actual byte concatenation is a per-pack
    ``array_agg`` the writer does downstream.

    Scale: a single global running sum would serialize the corpus
    through ONE task (empty ``partitionBy`` window), so the stream is
    sharded by ``doc_id % shards`` and packed independently per shard
    — exactly how multi-file tokenized corpora are packed in practice
    (one writer per output shard). Window state per task is one
    running sum (O(1) memory); at 100 TB set ``shards`` ~ the number
    of output files and the window sort is per-shard, not global.
    Pack ids are (shard, pack_id) pairs so no cross-shard coordination
    exists anywhere in the plan.

    ``shard_col`` overrides the default ``id % shards`` sharding with a
    caller-provided grouping column — the SEMANTIC-packing variant
    (Staniszewski et al.'s related-document packing): assign documents
    to clusters first (e.g. `similarity.ivf_assign`), pass the cluster
    id as the shard, and each pack then holds topically-related docs —
    long-context training examples with coherent context instead of
    random concatenation. Same plan shape: per-shard running sum, no
    global window.
    """
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.text import (
        token_count,
    )

    shard_expr = (
        F.col(shard_col).cast("long")
        if shard_col is not None
        else (F.col(id_col) % F.lit(shards))
    )
    d = docs.select(
        F.col(id_col),
        shard_expr.alias("shard"),
        token_count(text_col).cast("long").alias("n_tokens"),
        # Tie-break for the running-sum ordering: if id_col ever has
        # duplicates, plain orderBy(id_col) + a ROWS frame is
        # physical-order-nondeterministic (and Spark's DEFAULT frame is
        # RANGE, which sums ALL peers — a silent engine divergence vs
        # any oracle that pins ROWS). md5(text) makes the ordering
        # total across engines; full-duplicate rows remain
        # interchangeable, so the output multiset is still unique.
        F.md5(F.col(text_col)).alias("_tie"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col, "_tie")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("cum_before")
    d = d.withColumn("cum_before", cum_before)
    return d.select(
        id_col,
        "shard",
        "n_tokens",
        F.expr(f"cum_before div {cap}").alias("pack_id"),
        (F.col("cum_before") % F.lit(cap)).alias("pack_offset"),
        # INT, not BOOLEAN: removes the only boolean canonicalization
        # surface between Spark and oracle hashing.
        ((F.col("cum_before") % F.lit(cap)) + F.col("n_tokens") > F.lit(cap))
        .cast("int")
        .alias("spans_boundary"),
    )


def chunk_manifest(
    docs: DataFrame,
    cap: int = 1024,
    shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    base_offsets: DataFrame | None = None,
) -> DataFrame:
    """The writer-side complement of ``sequence_pack``: the per-chunk
    GATHER MANIFEST. ``sequence_pack`` tells each document where it
    starts; the shard writer needs the inverse view — for every output
    chunk, which documents contribute which token slices. One row per
    (document, chunk) overlap: a doc spanning three chunks emits three
    rows whose (slice_start, slice_len) tile the doc exactly; grouping
    by (shard, chunk_id) and sorting by slice order IS the gather list
    a tokenized-shard writer executes.

    Same layout math and ordering contract as ``sequence_pack``
    (shard = id % shards, per-shard running sum ordered by (id,
    md5(text)) with a ROWS frame), so the two plans agree row-for-row
    on pack placement. Zero-token docs occupy no chunk and are
    dropped. Scale: the only shuffle is the per-shard window; the
    explode emits ceil(n_tokens/cap)+1 rows per doc at most — output-
    linear, no joins.

    ``base_offsets`` (shard, base_offset) shifts every shard's stream
    position — the INCREMENTAL form: a streaming chunker passes the
    token counts accumulated by earlier micro-batches, so this batch's
    docs continue the token stream instead of restarting chunk 0
    (st28). Missing shards start at 0; the frame is shard-cardinality,
    broadcast.

    Skew note (r11 manifest_hot probe): shard = id % shards, so a
    STRIDED id pattern (every id ≡ 0 mod 8 collapsed shards=8 to ONE
    live shard holding the whole corpus; shards=64 re-spread it 8
    ways, 625 vs 5000 max rows/shard at sf0.1). Callers facing
    residue-correlated ids raise ``shards`` or pre-mix ids; per-task
    window state is bounded by the largest shard either way.
    """
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.text import (
        token_count,
    )

    d = docs.select(
        F.col(id_col),
        (F.col(id_col) % F.lit(shards)).alias("shard"),
        token_count(text_col).cast("long").alias("n_tokens"),
        F.md5(F.col(text_col)).alias("_tie"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col, "_tie")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn(
        "cum_before", F.sum("n_tokens").over(w) - F.col("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    if base_offsets is not None:
        d = d.join(
            F.broadcast(base_offsets.select("shard", "base_offset")),
            "shard",
            "left",
        ).withColumn(
            "cum_before",
            F.col("cum_before")
            + F.coalesce(F.col("base_offset"), F.lit(0)).cast("long"),
        ).drop("base_offset")
    first = F.expr(f"cum_before div {cap}")
    last = F.expr(f"(cum_before + n_tokens - 1) div {cap}")
    x = d.select(
        "shard",
        id_col,
        "n_tokens",
        "cum_before",
        F.explode(F.sequence(first, last)).alias("chunk_id"),
    )
    c_start = F.col("chunk_id") * F.lit(cap)
    c_end = (F.col("chunk_id") + 1) * F.lit(cap)
    doc_end = F.col("cum_before") + F.col("n_tokens")
    return x.select(
        "shard",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        id_col,
        F.greatest(c_start - F.col("cum_before"), F.lit(0))
        .cast("long")
        .alias("slice_start"),
        (F.least(doc_end, c_end) - F.greatest(F.col("cum_before"), c_start))
        .cast("long")
        .alias("slice_len"),
    )


# --- domain mixture weights (temperature sampling) -------------------------


def mixture_weights(
    docs: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-domain mixture statistics for temperature-scaled sampling
    (the XLM-R / GPT-3-style rebalancing that up-samples small domains:
    sample domain d with weight ∝ p_d^alpha, alpha=0.5 here). Emits per
    domain: doc/token counts, the natural token share p_d, the
    UNNORMALIZED alpha-weight sqrt(p_d), and the relative up-sampling
    factor vs natural sampling 1/sqrt(p_d).

    Weights are left unnormalized on purpose: normalizing requires
    summing sqrt() terms across domains, whose float ordering differs
    between engines (a last-ulp hazard for the oracle) — and with D
    domains it is a trivial O(D) epilogue for the caller. Everything
    emitted here is deterministic: BIGINT-exact counts, one int→double
    division, and sqrt/division, which IEEE 754 requires to be
    correctly rounded — so Spark and DuckDB agree bit-for-bit.

    Scale: one map-side-combining groupBy on the domain key; D is
    small so the final agg is a few rows. No second pass over data.
    """
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.text import (
        token_count,
    )

    per = docs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(text_col).cast("long")).alias("n_tokens"),
    )
    # Global total via an empty-partition window: legitimate here because
    # the input is the POST-AGGREGATION frame (D rows), not the corpus.
    total = F.sum("n_tokens").over(Window.partitionBy())
    share = F.col("n_tokens").cast("double") / total
    return per.select(
        group_col,
        "n_docs",
        "n_tokens",
        share.alias("token_share"),
        F.sqrt(share).alias("alpha_weight_unnorm"),
        (F.lit(1.0) / F.sqrt(share)).alias("rel_upsample"),
    )


# --- token-budget corpus selection -----------------------------------------


def token_budget_select(
    docs: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Select the best docs under a token budget — the final cut of a
    curation pipeline ("10B tokens of the highest-quality data"):
    fill the budget from the highest quality band down, breaking the
    one partially-fitting band uniformly by a deterministic hash.

    Scale shape (the reason this is NOT one global quality-ordered
    window): band totals are a map-side-combining groupBy to ~5 rows;
    whole bands are then accepted/rejected by a band-level prefix sum
    (driver-sized frame, broadcast back) with NO per-doc ordering; only
    the single straddling band pays a window sort, and that sort is
    hash-ordered, so at extreme scale it can be swapped for a hash
    THRESHOLD cut (keep h < t with t ≈ remaining/band_total) at the
    cost of exactness — the knob is documented, the default is exact.

    Output: (doc_id, quality_score, n_tokens, band_rule) for selected
    docs; band_rule marks 'full_band' vs 'partial_band' provenance.
    """
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.text import (
        quality_score,
        text_stats,
    )

    stats = quality_score(text_stats(docs, text_col, id_col)).select(
        F.col(id_col), "quality_score", "n_tokens"
    )
    bands = stats.groupBy("quality_score").agg(
        F.sum("n_tokens").alias("band_tokens")
    )
    wb = Window.orderBy(F.col("quality_score").desc())
    band_cum = bands.select(
        "quality_score",
        "band_tokens",
        (F.sum("band_tokens").over(wb) - F.col("band_tokens")).alias("band_cum_before"),
    )
    banded = stats.join(F.broadcast(band_cum), "quality_score")

    full = banded.filter(
        F.col("band_cum_before") + F.col("band_tokens") <= F.lit(budget_tokens)
    ).select(
        id_col, "quality_score", "n_tokens", F.lit("full_band").alias("band_rule")
    )

    strad = banded.filter(
        (F.col("band_cum_before") < F.lit(budget_tokens))
        & (F.col("band_cum_before") + F.col("band_tokens") > F.lit(budget_tokens))
    )
    h = F.md5(F.concat(F.lit("sel:"), F.col(id_col).cast("string")))
    ws = Window.partitionBy("quality_score").orderBy(h, id_col)
    partial = (
        strad.withColumn(
            "cum_in_band", F.sum("n_tokens").over(ws)
        )
        .filter(
            F.col("band_cum_before") + F.col("cum_in_band") <= F.lit(budget_tokens)
        )
        .select(
            id_col, "quality_score", "n_tokens", F.lit("partial_band").alias("band_rule")
        )
    )
    return full.unionByName(partial)


def budget_waterfill(
    docs: DataFrame,
    budget_pct: int = 60,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Water-filling token-budget allocation across sources — the
    mixture-balancing primitive behind "no source may dominate the
    corpus": given per-source token totals and a global budget
    (``budget_pct`` percent of all tokens), find the unique integer cap
    C such that allocating min(total_s, C) to every source s exhausts
    the budget; small sources keep everything, over-represented sources
    are clipped at the common waterline. Equivalent to maximizing the
    minimum allocation subject to the budget — the fairness objective
    temperature resampling (m29) approximates smoothly, solved exactly.

    Closed form, no iteration: sort sources ascending by total; the
    feasibility predicate g(i) = P(i-1) + (n-i+1)*t(i) <= B is monotone
    in i (g(i+1)-g(i) = (n-i)(t(i+1)-t(i)) >= 0), so the number k of
    fully-funded sources is one MAX over the ranked frame, and
    C = (B - P(k)) div (n - k) (all BIGINT; k = n means the budget
    covers everything and C = max total). Every step is exact integer
    arithmetic — reproducible across engines.

    Scale shape: one map-side-combined groupBy(source) reduces the
    corpus to a source-cardinality frame (tens of rows); the ranking
    window, the 1-row solve, and the broadcast join back all run on
    that frame — the table itself is scanned once and never re-sorted.

    Output per source: total_tokens, cap_tokens (the waterline),
    alloc_tokens = min(total, cap), capped flag.
    """
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.text import (
        token_count,
    )

    per_src = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.sum(token_count(F.coalesce(F.col(text_col), F.lit(""))))
        .cast("long")
        .alias("total_tokens")
    )
    return waterfill_from_totals(per_src, budget_pct)


def waterfill_from_totals(
    per_src: DataFrame, budget_pct: int = 60
) -> DataFrame:
    """The water-fill solve over a pre-aggregated (source,
    total_tokens) frame — the entry point for callers that already
    maintain the totals (e.g. st26's streaming counter table, where
    per-batch token counts MERGE additively and the waterline is
    re-solved from accumulated state). See `budget_waterfill` for the
    algebra and scale argument; this frame is source-cardinality-sized
    by construction."""
    w_ord = Window.orderBy("total_tokens", "source")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    ranked = per_src.select(
        "source",
        "total_tokens",
        F.row_number().over(w_ord).cast("long").alias("i"),
        F.sum("total_tokens").over(w_run).cast("long").alias("p"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
        F.sum("total_tokens").over(w_all).cast("long").alias("grand"),
    )
    budget = F.expr(f"(grand * {int(budget_pct)}) div 100")
    feasible = (
        (F.col("p") - F.col("total_tokens"))
        + (F.col("n") - F.col("i") + 1) * F.col("total_tokens")
    ) <= budget
    sol = ranked.agg(
        F.max(F.when(feasible, F.col("i")).otherwise(F.lit(0)))
        .cast("long")
        .alias("k"),
        F.max(F.when(feasible, F.col("p")).otherwise(F.lit(0)))
        .cast("long")
        .alias("pk"),
        F.max("n").alias("n_src"),
        F.max("grand").alias("grand"),
        F.max("total_tokens").alias("max_total"),
    )
    cap = F.when(F.col("k") >= F.col("n_src"), F.col("max_total")).otherwise(
        F.expr(
            f"((grand * {int(budget_pct)}) div 100 - pk) div (n_src - k)"
        )
    )
    solved = sol.select(cap.cast("long").alias("cap_tokens"))
    return ranked.crossJoin(F.broadcast(solved)).select(
        "source",
        "total_tokens",
        "cap_tokens",
        F.least(F.col("total_tokens"), F.col("cap_tokens")).alias(
            "alloc_tokens"
        ),
        (F.col("total_tokens") > F.col("cap_tokens")).cast("int").alias(
            "capped"
        ),
    )


def fim_transform(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fill-in-the-middle (FIM) training example construction (Bavarian
    et al. 2022, "Efficient Training of Language Models to Fill in the
    Middle"): split each document at two deterministic points into
    (prefix, middle, suffix) and re-serialize in PSM order —
    sentinel+prefix, sentinel+suffix, sentinel+middle — so a causal LM
    learns infilling from plain next-token prediction. The span
    endpoints come from disjoint md5 slices of the doc id (mod len+1,
    order-normalized), so the transform is a pure deterministic
    PROJECTION: zero shuffles, zero Python, reproducible across engines
    and retries — the m53 span-corruption discipline applied to the
    document-level FIM recipe.

    Output: (doc_id, n_prefix, n_middle, n_suffix, fim_text). Char
    counts are emitted (not byte counts) because both engines'
    substring/length are character-based.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(txt)
    h = F.md5(F.concat(F.lit("fim:"), F.col(id_col).cast("string")))
    cut_a = F.pmod(
        F.conv(F.substring(h, 1, 4), 16, 10).cast("long"), n + F.lit(1)
    )
    cut_b = F.pmod(
        F.conv(F.substring(h, 5, 4), 16, 10).cast("long"), n + F.lit(1)
    )
    lo = F.least(cut_a, cut_b)
    hi = F.greatest(cut_a, cut_b)
    prefix = F.substring(txt, F.lit(1), lo)
    middle = F.substring(txt, lo + 1, hi - lo)
    suffix = F.substring(txt, hi + 1, n - hi)
    return docs.select(
        F.col(id_col),
        lo.cast("long").alias("n_prefix"),
        (hi - lo).cast("long").alias("n_middle"),
        (n - hi).cast("long").alias("n_suffix"),
        F.concat(
            F.lit("<|fim_prefix|>"),
            prefix,
            F.lit("<|fim_suffix|>"),
            suffix,
            F.lit("<|fim_middle|>"),
            middle,
        ).alias("fim_text"),
    )


# --- sequence-length bucketing ---------------------------------------------

#: Power-of-two bucket caps for length-bucketed batching. The last cap
#: doubles as the overflow clamp (longer docs get truncated/packed by
#: the downstream collator; the stats here price that decision).
LENGTH_BUCKETS = (8, 16, 32, 64, 128, 256, 512, 1024, 2048, 4096, 8192)


def length_buckets(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Sequence-length bucketing stats — the dataloader-prep step that
    batches similar-length sequences together so per-batch padding is
    bounded by the bucket cap instead of the corpus max (the standard
    bucketed-batching trade; cf. the fixed-cap alternative in
    ``sequence_pack``). Per power-of-two cap: doc count, real tokens,
    padding tokens, and the bucket's packing efficiency
    (real / (real + pad)).

    Determinism: bucket caps are integer CASE comparisons and every
    aggregate is a BIGINT sum; the one double division is int-exact /
    int-exact, so Spark and DuckDB agree bit-for-bit. Scale: a narrow
    projection plus ONE map-side-combining groupBy onto
    len(LENGTH_BUCKETS) rows — no data shuffle beyond the ~11-row agg.
    """
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.text import (
        token_count,
    )

    n = token_count(text_col).cast("long")
    cap = F.lit(LENGTH_BUCKETS[-1]).cast("long")
    for b in reversed(LENGTH_BUCKETS):
        cap = F.when(n <= b, F.lit(b).cast("long")).otherwise(cap)
    d = docs.select(
        F.col(id_col), n.alias("n_tokens"), cap.alias("bucket_cap_tokens")
    )
    return d.groupBy("bucket_cap_tokens").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.col("bucket_cap_tokens") - F.col("n_tokens")).alias("pad_tokens"),
        (
            F.sum("n_tokens").cast("double")
            / F.sum("bucket_cap_tokens").cast("double")
        ).alias("pack_efficiency"),
    )


# --- document chunking (fixed token windows with overlap) ------------------


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 32,
    overlap_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """RAG/pretraining chunker: split each document into fixed-size
    token windows with overlap (stride = chunk - overlap), the standard
    context-window splitter. Emits (doc_id, chunk_idx, chunk_text,
    n_tokens); the final window may be short, and a doc shorter than
    one window yields exactly one chunk.

    Window count is pure integer arithmetic
    (1 + (n - W + S - 1) div S for n > W) so both engines agree
    exactly. Scale: tokenize -> per-row sequence explode — narrow,
    shuffle-free, embarrassingly parallel; output size is
    input x (1/stride) overlap factor, priced by the caller.
    """
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.text import (
        tokens,
    )

    if overlap_tokens >= chunk_tokens:
        raise ValueError("overlap_tokens must be < chunk_tokens")
    stride = chunk_tokens - overlap_tokens
    d = docs.select(F.col(id_col), tokens(text_col).alias("_t"))
    n = F.size("_t")
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.lit(1)
        + F.expr(f"(size(_t) - {chunk_tokens} + {stride - 1}) div {stride}").cast(
            "int"
        )
    )
    d = d.select(
        id_col, "_t", F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx")
    )
    window = F.slice(F.col("_t"), F.col("chunk_idx") * stride + 1, chunk_tokens)
    return d.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.array_join(window, " ").alias("chunk_text"),
        F.size(window).cast("long").alias("n_tokens"),
    )


N_SHARDS = 8


def shard_assign(
    df: DataFrame,
    key_col: str,
    n_shards: int = N_SHARDS,
    salt: str = "shard",
) -> DataFrame:
    """Deterministic global shuffle + sharding for training-data
    writes: shard = md5_16(salt ':' key) mod n_shards (a pure
    projection — assigning 100 TB to shards costs one codegen'd map,
    like `split_assign`), plus shard_pos = the row's rank within its
    shard under the same hash order. The (shard, shard_pos) pair IS
    the reproducible random order data loaders need: independent of
    input partitioning, stable across runs/engines, and adding new
    rows never permutes the relative order of existing ones within a
    shard (md5 order is fixed per key).

    Scale shape: one shuffle on the shard key. Within-shard ranking
    sorts per shard in a task, so n_shards should scale with corpus
    size (shard ~ a few GB); writers that only need shard-local order
    can skip the rank and `repartition(shard).sortWithinPartitions(h)`
    instead — same order, no row numbers.
    """
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string")))
    shard = F.pmod(
        F.conv(F.substring(h, 1, 4), 16, 10).cast("long"), F.lit(n_shards)
    )
    out = df.withColumn("_h", h).withColumn("shard", shard)
    w = Window.partitionBy("shard").orderBy("_h", key_col)
    return (
        out.withColumn("shard_pos", F.row_number().over(w).cast("long"))
        .drop("_h")
    )


def group_quantile_filter(
    df: DataFrame,
    value_col: str,
    group_col: str,
    q: float = 0.25,
) -> DataFrame:
    """Per-group adaptive threshold filter: compute the exact q-th
    percentile of `value_col` WITHIN each group and flag rows at or
    above their own group's threshold. This is the per-domain quality
    cut of training-data pipelines (per-source perplexity / length
    cutoffs a la CCNet): a global threshold over-prunes strict-format
    sources and under-prunes noisy ones; per-group quantiles adapt.

    Scale shape: the threshold table is one row per group (a dimension
    by construction) — groups aggregate in one shuffle with map-side
    partial percentile buffers, then the per-row flag is a broadcast
    join, so the corpus itself never reshuffles. Exact interpolated
    percentile matches SQL quantile_cont bit-for-bit (see m10);
    sketch-based `percentile_approx` is the drop-in at extreme group
    cardinality.

    The flag frame is TOTAL (the budget_select audit contract): a
    null group is a real group — groupBy gives it its own threshold
    row and the join-back is null-safe, so its rows flag against
    their own percentile instead of silently vanishing from the
    output through a null-unsafe equi-join.
    """
    th = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.percentile(value_col, F.lit(q)).alias("q_threshold")
    )
    return (
        df.join(
            F.broadcast(th), F.col(group_col).eqNullSafe(F.col("_g"))
        )
        .select(
            *df.columns,
            "q_threshold",
            (F.col(value_col).cast("double") >= F.col("q_threshold")).alias(
                "keep"
            ),
        )
    )


# --- next-event training examples ------------------------------------------


def sequence_examples(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    label_col: str = "event_type",
    context_len: int = 3,
) -> DataFrame:
    """Build (context, next-event) supervised examples from per-key
    event streams: for each event with at least ``context_len``
    predecessors, emit the previous ``context_len`` labels (oldest
    first, comma-joined) as the context and the current label as the
    target — the classic next-action dataset builder.

    Ordering is (ts, tiebreak) with a unique tiebreak column, so the
    examples are deterministic even under timestamp ties.

    Scale shape: one shuffle on the key, then pure window lags — per-
    task memory is one key's sorted run, the same bound as
    sessionization (hot keys: see asof_join_bucketed's bucketing
    pattern).
    """
    if context_len < 1:
        raise ValueError("context_len must be >= 1")
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    lags = [
        F.lag(label_col, i).over(w) for i in range(context_len, 0, -1)
    ]  # oldest first
    return (
        events.select(
            F.col(key_col),
            F.col(ts_col),
            F.col(tiebreak_col),
            F.concat_ws(",", *lags).alias("context"),
            F.col(label_col).alias("label"),
            lags[0].isNotNull().alias("_full"),
        )
        .filter(F.col("_full"))
        .drop("_full")
    )


# --- deterministic negative sampling ---------------------------------------


def negative_sample(
    interactions: DataFrame,
    user_col: str,
    item_col: str,
    pool_size: int = 100,
    k: int = 5,
) -> DataFrame:
    """Per-user hard-negative candidates for recommendation training:
    from the ``pool_size`` most-popular items, pick the ``k`` items
    this user has NOT interacted with, ranked by a salted md5 — fully
    deterministic (same user+item → same rank across runs and
    engines), unlike rand()-based sampling.

    Scale shape: the candidate pool is a TakeOrderedAndProject top-N
    (bounded, broadcastable); users cross the POOL, never the item
    catalog, so the expansion is |users|·pool_size; interactions are
    removed with a shuffle anti-join on (user, item); the final
    per-user top-k window sorts at most pool_size rows per user.
    Popularity-pool negatives are also the *useful* negatives — a
    uniform sample over the full catalog is dominated by items the
    model already scores low.
    """
    u = F.col(user_col)
    it = F.col(item_col)
    pool = (
        interactions.groupBy(it.alias("item"))
        .agg(F.count(F.lit(1)).alias("pop"))
        .orderBy(F.col("pop").desc(), F.col("item").asc())
        .limit(pool_size)
        .select("item")
    )
    users = interactions.select(u.alias("user")).distinct()
    cands = users.join(F.broadcast(pool))
    seen = interactions.select(u.alias("user"), it.alias("item")).distinct()
    unseen = cands.join(seen, ["user", "item"], "left_anti")
    rk = F.md5(
        F.concat(
            F.lit("neg:"),
            F.col("user").cast("string"),
            F.lit(":"),
            F.col("item").cast("string"),
        )
    )
    w = Window.partitionBy("user").orderBy(rk)
    return (
        unseen.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("user").alias(user_col),
            F.col("item").alias(item_col),
            "rnk",
        )
    )


# --- dense global id assignment --------------------------------------------


def dense_ids(
    df: DataFrame,
    order_cols: Sequence[str],
    id_col: str = "dense_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign contiguous ids 0..n-1 by a total order over
    ``order_cols`` — the surrogate-key / training-example-id pattern —
    WITHOUT a single-partition global window.

    The scalable global row-numbering shape: range-partition on the
    order key, rank locally within each sorted partition (parallel
    windows), and add each partition's exclusive prefix offset. The
    offsets come from one O(num_partitions) count collect — driver
    work proportional to the cluster, not the data. ``order_cols``
    must be a unique key, otherwise tie order (and therefore ids)
    is undefined.

    The partitioned frame is persisted because it feeds two jobs (the
    offset count and the final projection); Spark's range sampler uses
    deterministic per-partition seeds, but recomputing the input scan
    twice would still double the I/O.
    """
    if not order_cols:
        raise ValueError("order_cols must be non-empty")
    from pyspark.storagelevel import StorageLevel

    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # This persist is CORRECTNESS, not caching, and deliberately lives
    # as long as the returned plan: the collected per-partition offsets
    # below are only valid for THIS materialized partitioning — a
    # recompute could re-sample range boundaries and silently skew ids.
    # The result is corpus-sized, so eager re-materialization just to
    # release the cache would double the I/O for nothing;
    # ContextCleaner reclaims the blocks when the plan is dropped.
    with_pid = (
        df.repartitionByRange(n, *[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = with_pid.groupBy("_pid").agg(F.count(F.lit(1)).alias("_c")).collect()
    offsets: dict[int, int] = {}
    acc = 0
    for r in sorted(counts, key=lambda row: row["_pid"]):
        offsets[r["_pid"]] = acc
        acc += r["_c"]
    omap = F.create_map(
        *[F.lit(x) for pid_off in sorted(offsets.items()) for x in pid_off]
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        with_pid.withColumn("_off", omap[F.col("_pid")])
        .withColumn(
            id_col, (F.col("_off") + F.row_number().over(w) - 1).cast("long")
        )
        .drop("_pid", "_off")
    )


# --- temperature-mixture resampling ----------------------------------------


def temperature_resample(
    docs: DataFrame,
    sample_div: int = 4,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """APPLY the temperature-scaled source mixture that
    `mixture_weights` only prices: draw a deterministic sample of
    N // ``sample_div`` docs whose per-source quotas follow
    alpha=0.5 temperature weights (w_s = isqrt(n_s), the XLM-R
    sqrt-rebalance), allocated by the largest-remainder method and
    filled per source by md5 rank — the actual resampling step of a
    multilingual/multi-source training mix.

    Integer-exact by construction (the m15 lesson: remove EVERY
    engine-divergence surface, don't hope): the alpha weight is
    floor(sqrt(n_s)) — exact for n_s < 2^52 because IEEE sqrt is
    correctly rounded — and quota arithmetic is BIGINT div/mod
    (largest-remainder ranks tie-break on the source name), so Spark
    and DuckDB agree bit-for-bit with no float sum anywhere. Sampling
    without replacement: a quota is clamped to its source size;
    clamped leftovers are NOT redistributed (single-pass contract,
    documented — redistribution would need a driver loop).

    Scale: one map-side-combining groupBy to the D-row per-source
    frame; quota arithmetic runs in windows over THAT frame (D rows,
    not the corpus — same legitimacy note as `mixture_weights`);
    quotas broadcast back; the only corpus-sized work is one
    per-source hash-ordered row_number, whose per-task memory is
    bounded by the largest source (salt-split the rank via a
    two-level hash prefix if one source dominates).

    Group-key contract: the quota join-back is null-UNSAFE, so docs
    with a NULL group never enter the sample (their group's quota row
    exists but is unreachable). This is a SELECTION — absent means
    not selected, unlike the TOTAL audit frames (budget_select,
    group_quantile_filter); pre-coalesce null to a sentinel source if
    those docs should compete for quota.
    """
    per = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    wall = Window.partitionBy()
    sized = (
        per.select(
            group_col,
            F.col("n_docs").cast("long").alias("n_docs"),
            F.floor(F.sqrt(F.col("n_docs").cast("double")))
            .cast("long")
            .alias("wgt"),
        )
        .withColumn("wsum", F.sum("wgt").over(wall))
        .withColumn("n_total", F.sum("n_docs").over(wall))
        .withColumn("k", F.expr(f"n_total div {int(sample_div)}"))
        .withColumn("base_q", F.expr("(k * wgt) div wsum"))
        .withColumn("rem", F.expr("(k * wgt) % wsum"))
    )
    ranked = sized.withColumn(
        "leftover", F.col("k") - F.sum("base_q").over(wall)
    ).withColumn(
        "rrank",
        F.row_number().over(
            Window.orderBy(F.col("rem").desc(), F.col(group_col).asc())
        ),
    )
    quotas = ranked.select(
        group_col,
        F.least(
            F.col("base_q")
            + F.when(F.col("rrank") <= F.col("leftover"), F.lit(1)).otherwise(
                F.lit(0)
            ),
            F.col("n_docs"),
        )
        .cast("long")
        .alias("quota"),
    )
    h = F.md5(F.concat(F.lit("mix:"), F.col(id_col).cast("string")))
    wr = Window.partitionBy(group_col).orderBy(h, id_col)
    return (
        docs.join(F.broadcast(quotas), group_col)
        .withColumn("mix_rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("mix_rank") <= F.col("quota"))
        .select(group_col, id_col, "mix_rank", "quota")
    )


# --- preference-pair construction (DPO/RLHF prep) ---------------------------


def preference_pairs(
    df: DataFrame,
    group_col: str,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Preference-pair construction — the data-prep step of DPO/RLHF
    fine-tuning: within each prompt group, pair the best-scored
    response (chosen) against the worst-scored (rejected). Groups with
    a single candidate produce no pair (chosen == rejected is
    excluded), and the margin is emitted so downstream filtering can
    drop low-signal pairs.

    Determinism: both extremes are picked by row_number over a TOTAL
    ordering ((score, id) desc for chosen, asc for rejected), so ties
    cannot flip the pair between runs or engines.

    Scale: one shuffle on the group key; both rank windows share that
    partitioning (one exchange, two in-partition sorts); per-group
    data must fit a task sort — the usual salt-split escape applies if
    one prompt group dominates.
    """
    w_hi = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).desc()
    )
    w_lo = Window.partitionBy(group_col).orderBy(
        F.col(score_col).asc(), F.col(id_col).asc()
    )
    ranked = (
        df.select(group_col, id_col, score_col)
        .withColumn("_rh", F.row_number().over(w_hi))
        .withColumn("_rl", F.row_number().over(w_lo))
    )
    chosen = ranked.filter(F.col("_rh") == 1).select(
        F.col(group_col),
        F.col(id_col).alias("chosen_id"),
        F.col(score_col).alias("chosen_score"),
    )
    rejected = ranked.filter(F.col("_rl") == 1).select(
        F.col(group_col),
        F.col(id_col).alias("rejected_id"),
        F.col(score_col).alias("rejected_score"),
    )
    return (
        chosen.join(rejected, group_col)
        .filter(F.col("chosen_id") != F.col("rejected_id"))
        .select(
            group_col,
            "chosen_id",
            "rejected_id",
            (F.col("chosen_score") - F.col("rejected_score"))
            .cast("long")
            .alias("margin"),
        )
    )


# --- conversation linearization (SFT-example assembly) -----------------------


def linearize_conversations(
    events: DataFrame,
    user_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    turn_col: str = "turn",
    max_turns: int = 512,
) -> DataFrame:
    """SFT-example assembly: per user, linearize their event turns into
    ONE newline-joined string in strict (ts, id) order — the
    dialogue-flattening step that turns an interaction log into
    supervised fine-tuning examples. Emits (user_id, n_turns,
    convo_chars, convo_digest): the md5 digest stands in for shipping
    the assembled text through comparisons, same pattern as t20.

    Per-key state is CAPPED before collection: a rank window keeps the
    first ``max_turns`` turns per user, so collect_list state is
    O(max_turns) even for a bot account with millions of events — the
    uncapped version is the classic groupBy-collect OOM at corpus
    scale. The cap and the collect share one user-key shuffle. The
    turn array is sorted by the order columns INSIDE the aggregation
    (array_sort over (order..., turn) structs), so the result is
    independent of partitioning and task arrival order.
    """
    w = Window.partitionBy(user_col).orderBy(
        *[F.col(c) for c in order_cols]
    )
    capped = (
        events.select(user_col, *order_cols, turn_col)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_turns)
    )
    sorted_turns = F.transform(
        F.array_sort(
            F.collect_list(F.struct(*[F.col(c) for c in order_cols], F.col(turn_col)))
        ),
        lambda s: s[turn_col],
    )
    convo = F.array_join(sorted_turns, "\n")
    return capped.groupBy(user_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.length(convo).cast("long").alias("convo_chars"),
        F.md5(convo).alias("convo_digest"),
    )


def loss_mask_spans(
    events: DataFrame,
    user_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    turn_col: str = "turn",
    max_turns: int = 512,
) -> DataFrame:
    """Loss-mask metadata for SFT training over linearized
    conversations (the sibling of `linearize_conversations` /
    m47's attention spans): per conversation, the char-offset spans of
    the COMPLETION turns — the positions a supervised-fine-tune loss is
    computed on, with prompt turns masked out. Turn roles alternate
    deterministically by position (odd rank = prompt/masked, even rank
    = completion/loss), the standard user/assistant alternation after
    dialogue flattening.

    Offsets count characters in the newline-joined linearization
    (turn lengths + 1 separator per preceding turn), so downstream
    writers can slice the m36 convo string directly. Emits
    (user_id, n_turns, n_loss_chars, loss_spans) with spans as
    ordered 'offset:len' strings (m47's span-string pattern) — all
    counts exact, digest-free.

    Scale shape: ONE user-key shuffle serves the rank cap, the running
    offset, and the span assembly; per-key window state is O(1) and
    collect state is O(max_turns).
    """
    w = Window.partitionBy(user_col).orderBy(*[F.col(c) for c in order_cols])
    capped = (
        events.select(user_col, *order_cols, turn_col)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_turns)
    )
    wlen = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spans = capped.select(
        user_col,
        *order_cols,
        "_rn",
        F.length(turn_col).alias("_len"),
        # chars before this turn: prior turn lengths + one '\n' each
        (
            F.sum(F.length(turn_col)).over(wlen)
            - F.length(turn_col)
            + (F.col("_rn") - 1)
        ).alias("_off"),
    )
    completion = F.col("_rn") % 2 == 0
    span_str = F.concat(
        F.col("_off").cast("string"), F.lit(":"), F.col("_len").cast("string")
    )
    ordered = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(
                    completion,
                    F.struct(F.col("_off").alias("o"), span_str.alias("s")),
                )
            )
        ),
        lambda x: x["s"],
    )
    return spans.groupBy(user_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum(F.when(completion, F.col("_len")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_loss_chars"),
        F.array_join(ordered, ",").alias("loss_spans"),
    )


def budget_select(
    docs: DataFrame,
    budget_pct: int = 60,
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
    bucket_width: int = 1 << 16,
) -> DataFrame:
    """Doc-level realization of ``budget_waterfill``: the allocation
    says how many tokens each source may keep; this picks WHICH
    documents — the greedy id-ordered prefix whose cumulative token
    count stays within the source's cap (deterministic, replayable:
    re-running on the same corpus keeps the same docs, and appending
    docs never un-keeps earlier ones). EVERY input doc is emitted with
    its running total and keep verdict (docs whose source got no
    allocation — absent from the waterfill frame — surface with
    cap 0 and keep_flag 0), so the drop set is auditable rather than
    silently filtered.

    Scale: the waterfill solve runs on the source-cardinality frame
    and broadcasts back. The per-source running sum is SHARDED, not a
    single per-source window: docs are range-bucketed by id
    (``bucket = id div bucket_width`` — monotone in id, so bucket
    order IS id order), a window per (source, bucket) computes the
    partial sum, and per-bucket totals — a (source x bucket)-
    cardinality frame — are prefix-summed and broadcast back as each
    bucket's carry-in. Semantics are bit-identical to the naive
    per-source window (greedy prefix in id order) but no task ever
    sorts more than one bucket's rows, so a hot source (30%+ of a
    crawl corpus) can no longer become one straggler task's sort/OOM.
    Same carried-offset idiom as ``chunk_manifest``'s base_offsets.
    Ordering contract: ``id_col`` must be unique (the testdata
    doc_id); callers with duplicate ids should pre-dedup or add a
    tiebreak column. The carry frame's cardinality is the number of
    distinct (source, id div bucket_width) pairs — bucket-cardinality
    ONLY when ids are reasonably dense. With sparse/hashed ids
    (snowflake-style) nearly every doc lands in its own bucket and
    the carry frame approaches corpus cardinality, so its broadcast
    is SIZE-GATED (``broadcast_if_small``): dense ids keep the
    broadcast fast path, sparse ids fall back to a shuffle join on
    (source, bucket) — still sharded, still correct, never a driver
    OOM. Callers with sparse ids should widen ``bucket_width`` (or
    re-key) to recover the broadcast path.
    """
    caps = budget_waterfill(
        docs, budget_pct=budget_pct, text_col=text_col, source_col=source_col
    ).select("source", "cap_tokens")
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.text import (
        token_count,
    )

    d = docs.select(
        F.col(id_col),
        F.col(source_col).alias("source"),
        token_count(F.coalesce(F.col(text_col), F.lit("")))
        .cast("long")
        .alias("n_tokens"),
        F.expr(f"{id_col} div {int(bucket_width)}").alias("_bkt"),
    )
    w_part = (
        Window.partitionBy("source", "_bkt")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("_part_cum", F.sum("n_tokens").over(w_part).cast("long"))
    # Bucket-cardinality carry frame: total tokens of every EARLIER
    # bucket of the same source (exclusive prefix over the tiny
    # per-bucket-totals frame), broadcast back on (source, bucket).
    w_carry = (
        Window.partitionBy("source")
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        d.groupBy("source", "_bkt")
        .agg(F.sum("n_tokens").cast("long").alias("_bkt_tot"))
        .select(
            "source",
            "_bkt",
            F.coalesce(F.sum("_bkt_tot").over(w_carry), F.lit(0))
            .cast("long")
            .alias("_carry"),
        )
    )
    # Null-safe on source: a null-source group still needs its carry
    # row (the audit contract is TOTAL — see the null-source test).
    c = carry.select(
        F.col("source").alias("_c_src"),
        F.col("_bkt").alias("_c_bkt"),
        "_carry",
    )
    d = d.join(
        broadcast_if_small(c),
        F.col("source").eqNullSafe(F.col("_c_src"))
        & (F.col("_bkt") == F.col("_c_bkt")),
    ).withColumn(
        "cum_tokens", (F.col("_part_cum") + F.col("_carry")).cast("long")
    )
    # A source absent from the waterfill frame (no allocation — the
    # null-source group, or a zero-budget solve) keeps NOTHING: a
    # zero-token doc must not slip through `0 <= coalesce(null, 0)`.
    return d.join(F.broadcast(caps), "source", "left").select(
        id_col,
        "source",
        "n_tokens",
        "cum_tokens",
        F.when(F.col("cap_tokens").isNull(), F.lit(0))
        .otherwise((F.col("cum_tokens") <= F.col("cap_tokens")).cast("int"))
        .cast("int")
        .alias("keep_flag"),
    )


def head_tail_truncate(
    docs: DataFrame,
    head_tokens: int = 512,
    tail_tokens: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Long-document truncation PLAN keeping the head and the tail —
    the standard long-context policy (lead paragraphs carry topic,
    trailing ones carry conclusions; middles are the cheapest cut,
    cf. middle-truncation in long-doc LM eval). Emits token-slice
    coordinates, not rewritten text, so the (cheap) plan can feed the
    (expensive) tokenizer exactly once downstream: head = [0,
    head_len), tail = [tail_start, n) with the two spans guaranteed
    disjoint and tiling min(n, H+T) tokens — a doc shorter than H+T
    keeps everything in the head span (tail_len 0, tail_start = n).

    Every column is closed-form BIGINT arithmetic on the token count:
    zero shuffles, zero joins — scan-linear at any corpus size.
    """
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.text import (
        token_count,
    )

    h = F.lit(int(head_tokens)).cast("long")
    t = F.lit(int(tail_tokens)).cast("long")
    n = token_count(F.coalesce(F.col(text_col), F.lit(""))).cast("long")
    head_len = F.least(n, h)
    tail_len = F.greatest(F.least(t, n - h), F.lit(0).cast("long"))
    return docs.select(
        F.col(id_col),
        n.alias("n_tokens"),
        head_len.alias("head_len"),
        (n - tail_len).alias("tail_start"),
        tail_len.alias("tail_len"),
        (head_len + tail_len).alias("kept_tokens"),
        (n - head_len - tail_len).alias("dropped_tokens"),
    )


def deterministic_downsample(
    docs: DataFrame,
    cap_per_source: int,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source downsampling to ~``cap_per_source`` EXPECTED rows,
    fully deterministic and engine-portable: keep iff
    ``hash(id) < (M * cap) div n_source``.

    The hash is Knuth multiplicative in pure modular BIGINT arithmetic
    — ``h = (id mod M) * (A mod M) mod M`` with M = 2^31 - 1 (prime)
    and A = 2654435761 — so ANY engine computes the identical keep
    set from the same ids: no rand() (irreproducible), no engine hash
    builtin (murmur3 vs md5 mismatch), no floats anywhere. The
    per-source threshold ``t = (M*cap) div n`` is one integer
    division on the source-cardinality count frame (t >= M when
    n <= cap, so small sources keep everything); the kept count is
    Binomial(n, t/M) around cap — a sampling rate, not an exact-k
    quota (exact-k needs a per-source ORDER BY — the corpus sort this
    operator exists to avoid). Overflow audit: (id mod M) and A are
    both < 2^31, so their product < 2^62 stays in BIGINT; M*cap fits
    while cap < 2^32.

    EVERY row is emitted with its keep_flag (the budget_select audit
    contract); a null source is a real group (null-safe count join).
    Scale: one map-side-combined count per source, the broadcast of a
    source-cardinality frame, then a scan-linear filter — no shuffle
    of the corpus itself.
    """
    M = (1 << 31) - 1
    A = 2654435761 % M
    n_per = docs.groupBy(F.col(source_col).alias("_s")).agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    thresh = n_per.select(
        "_s",
        F.expr(f"({M} * CAST({int(cap_per_source)} AS BIGINT)) div _n").alias(
            "_t"
        ),
    )
    h = (
        (F.col(id_col) % F.lit(M)) * F.lit(A) % F.lit(M)
    ).cast("long")
    return (
        docs.select(F.col(id_col), F.col(source_col).alias("source"))
        .withColumn("_h", h)
        .join(
            F.broadcast(thresh),
            F.col("source").eqNullSafe(F.col("_s")),
        )
        .select(
            id_col,
            "source",
            (F.col("_h") < F.col("_t")).cast("int").alias("keep_flag"),
        )
    )
