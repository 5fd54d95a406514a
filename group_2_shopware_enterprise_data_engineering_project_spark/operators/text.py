"""Text-analysis operators for LLM training-data pipelines.

Beyond-reference surface (BASELINE.json north star): token counting,
quality scoring, language-ID heuristic, document fingerprinting
(md5 + winnowing). All pure Column expressions over `split` + higher-
order array functions — JVM-side, codegen'd, no Python in the hot
path, so they scale linearly with input size (the only shuffle in any
of these is a final rollup if the caller adds one).

Tokenization convention: split on single spaces, drop empties —
chosen because it is exactly mirrorable in ANSI SQL for the oracle.
Swap `tokens()` for a regex/BPE tokenizer without touching the rest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from group_2_shopware_enterprise_data_engineering_project_spark.functions.partitioning import (
    spread,
)

STOPWORDS = ("a", "value", "row", "table")

LANG_MARKERS = {
    "de": ("der", "und", "die"),
    "en": ("the", "and", "of"),
    "es": ("el", "la", "los"),
    "fr": ("le", "et", "les"),
}


def tokens(text_col: Column | str) -> Column:
    """Whitespace tokens, empties dropped."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(c, " "), lambda t: t != F.lit(""))


def token_count(text_col: Column | str) -> Column:
    return F.size(tokens(text_col))


# BPE-ish pre-tokenization: contiguous letter runs, single digits,
# single non-alnum marks — the GPT-2-style split shape (letters stay
# merged, numbers split per digit, punctuation isolated), without a
# merges table. One regexp_extract_all, portable to ANSI SQL.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_ish_tokens(text_col: Column | str) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)


def token_counts(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Both token-count flavors per doc: whitespace words and BPE-ish
    subword-proxy counts (the training-cost estimator at corpus scale —
    one narrow projection, no shuffle)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        token_count(text_col).cast("long").alias("n_words"),
        F.size(bpe_ish_tokens(text_col)).cast("long").alias("n_bpe_tokens"),
    )


def shingles(tokens_col: Column, k: int = 3, distinct: bool = True) -> Column:
    """k-gram shingles over a token array (the unit for Jaccard /
    MinHash / winnowing). Guarded for short docs (< k tokens -> empty;
    an unguarded sequence(1,0) would count DOWN in Spark)."""
    sh = F.when(
        F.size(tokens_col) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(tokens_col) - (k - 1)),
            lambda i: F.array_join(F.slice(tokens_col, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(sh) if distinct else sh


def text_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document stats: chars, tokens, avg token length, stopword
    ratio, punctuation ratio."""
    docs = spread(docs)
    toks = tokens(text_col)
    n_tok = F.size(toks)
    chars_no_space = F.length(F.regexp_replace(F.col(text_col), " ", ""))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    punct = F.length(F.regexp_replace(F.col(text_col), r"[^.,!?;:]", ""))
    # BIGINT counts to match SQL engines' length()/len() typing.
    return docs.select(
        F.col(id_col),
        F.length(text_col).cast("long").alias("n_chars"),
        n_tok.cast("long").alias("n_tokens"),
        (chars_no_space.cast("double") / n_tok).alias("avg_token_len"),
        (stop_hits.cast("double") / n_tok).alias("stopword_ratio"),
        (punct.cast("double") / F.length(text_col)).alias("punct_ratio"),
    )


def quality_score(stats: DataFrame) -> DataFrame:
    """Heuristic quality gate over text_stats output: 4 independent
    checks summed to a 0-4 score; is_quality = all pass. The checks
    mirror common pretraining filters (length band, stopword share,
    punctuation share, token-length band)."""
    checks = [
        F.col("n_tokens").between(20, 2000),
        F.col("stopword_ratio") <= 0.6,
        F.col("punct_ratio") <= 0.2,
        F.col("avg_token_len").between(2.0, 15.0),
    ]
    score = sum(c.cast("int") for c in checks).cast("long")
    return stats.withColumn("quality_score", score).withColumn(
        "is_quality", score == len(checks)
    )


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-token language-ID heuristic: count hits per language's
    marker list, argmax with deterministic alphabetical tiebreak,
    'unknown' when no markers hit."""
    toks = tokens(text_col)
    scores = {
        lang: F.size(F.filter(toks, lambda t: t.isin(*markers)))
        for lang, markers in sorted(LANG_MARKERS.items())
    }
    m = F.greatest(*scores.values())
    pred = F.when(m == 0, F.lit("unknown"))
    for lang in sorted(scores):  # alphabetical priority on ties
        pred = pred.when(scores[lang] == m, F.lit(lang))
    out = docs.select(
        F.col(id_col),
        *[s.cast("long").alias(f"score_{lang}") for lang, s in scores.items()],
        pred.alias("predicted_lang"),
    )
    return out


def fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(fingerprint, id): md5 of the raw text per document. The
    exact-dedup key (hash-groupBy dedup shuffles 32 hex chars per doc,
    not the document bodies)."""
    return docs.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., SIGMOD 2003): hash all
    k-shingles, take the min hash in each sliding window of `window`
    consecutive shingles, keep the distinct minima. Robust local
    fingerprints for near-dup detection / plagiarism-style overlap.
    """
    docs = spread(docs)
    sh = shingles(tokens(text_col), k, distinct=False)
    hashes = F.transform(sh, F.md5)
    n_windows = F.size(hashes) - (window - 1)
    # Sliding min via `window` SHIFTED copies folded element-wise with
    # least(): minima[i] = min(hashes[i..i+window-1]) exactly as the
    # per-window form array_min(slice(hashes, i, window)) — same
    # lexicographic string comparator, no nulls (md5 is total). The
    # shifted form allocates window+1 arrays per doc instead of one
    # slice per window position (measured 7.2 s -> 1.2 s for the t5
    # projection at sf0.1, exceptAll-identical both directions).
    mins = F.slice(hashes, 1, n_windows)
    for j in range(1, window):
        mins = F.zip_with(
            mins, F.slice(hashes, 1 + j, n_windows), lambda x, y: F.least(x, y)
        )
    minima = F.when(n_windows >= 1, mins).otherwise(
        F.array().cast("array<string>")
    )
    return docs.select(
        F.col(id_col),
        F.array_sort(F.array_distinct(minima)).alias("fingerprints"),
    )


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup groups: one row per distinct text, keeping the min id
    (hash-groupBy on the md5 fingerprint — the 100 TB-safe form: the
    shuffle carries (hash, id), never the text)."""
    return fingerprint(docs, text_col, id_col).groupBy("fingerprint").agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def repetition_signals(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher/C4-style repetition quality signals, per document —
    the within-doc complement to the cross-doc dedup family. All four
    repetition measures from the Gopher filtering appendix that apply
    to unsegmented text: unique-token fraction, most-common-token
    fraction, and duplicate 2-/3-gram fractions (MassiveText drops
    docs dominated by repeated phrases); `symbol_ratio` is the C4-ish
    non-alphanumeric share.

    Everything stays inside whole-stage codegen: per-doc arrays with
    higher-order functions — the most-common-token count is an
    in-array argmax (distinct x count scan, O(d*n) per doc, no
    explode/groupBy shuffle per document), and n-gram dup fractions
    compare raw vs distinct shingle counts. Zero shuffles: a pure
    projection the optimizer pipelines into the scan.
    """
    docs = spread(docs)
    toks = tokens(text_col)
    n_tok = F.size(toks)
    uniq = F.array_distinct(toks)
    top_cnt = F.array_max(
        F.transform(uniq, lambda x: F.size(F.filter(toks, lambda y: y == x)))
    )

    def _dup_frac(k: int):
        all_sh = shingles(toks, k, distinct=False)
        return F.when(F.size(all_sh) == 0, F.lit(0.0)).otherwise(
            F.lit(1.0)
            - F.size(F.array_distinct(all_sh)).cast("double") / F.size(all_sh)
        )

    symbols = F.length(F.regexp_replace(F.col(text_col), r"[A-Za-z0-9\s]", ""))
    sig = docs.select(
        F.col(id_col),
        n_tok.cast("long").alias("n_tokens"),
        F.when(n_tok == 0, F.lit(0.0))
        .otherwise(F.size(uniq).cast("double") / n_tok)
        .alias("unique_token_frac"),
        F.when(n_tok == 0, F.lit(0.0))
        .otherwise(top_cnt.cast("double") / n_tok)
        .alias("top_token_frac"),
        _dup_frac(2).alias("dup_2gram_frac"),
        _dup_frac(3).alias("dup_3gram_frac"),
        F.when(F.length(text_col) == 0, F.lit(0.0))
        .otherwise(symbols.cast("double") / F.length(text_col))
        .alias("symbol_ratio"),
    )
    keep = (
        (F.col("unique_token_frac") >= 0.5)
        & (F.col("top_token_frac") <= 0.2)
        & (F.col("dup_2gram_frac") <= 0.2)
        & (F.col("dup_3gram_frac") <= 0.18)
        & (F.col("symbol_ratio") <= 0.1)
    )
    return sig.withColumn("repetition_keep", keep)


def corpus_dup_ngrams(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-wide duplicate 3-gram profile (the Gopher-style quality
    signal): per document, how many of its distinct n-grams occur in
    at least one OTHER document. High dup_gram_frac marks boilerplate /
    templated text that within-doc repetition signals (t7) and
    token-level doc frequency (m5) both miss — the unit here is the
    n-gram and the scope is the whole corpus.

    Scale shape: the inverted-index pattern — shuffle carries
    (md5(gram), doc_id) pairs only, never text; one groupBy on the
    gram hash, one join back (AQE skew-join absorbs boilerplate
    grams), one groupBy on doc_id. Short docs (< 3 tokens) have zero
    grams and report frac 0.0 via the left join.

    ``spread`` because the shingle projection is the expensive stage
    (per token position: one slice + array_join, then an O(k^2)
    array_distinct over the doc's grams) and it is evaluated on BOTH
    plan branches (the count agg and the join-back side share no
    exchange) — a single-file local scan would run it twice in one
    task (measured 2.3 s/branch at sf0.1). No-op on a many-split
    cluster scan.
    """
    docs = spread(docs)
    grams = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(shingles(tokens(text_col), 3)).alias("g"),
        )
        .select("doc_id", F.md5(F.col("g").cast("binary")).alias("h"))
    )
    counts = grams.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        grams.join(counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("df") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_shared_grams"),
        )
    )
    base = docs.select(F.col(id_col).alias("doc_id"))
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce(F.col("n_shared_grams"), F.lit(0))
        .cast("long")
        .alias("n_shared_grams"),
        F.when(
            F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
            F.col("n_shared_grams").cast("double")
            / F.col("n_grams").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_gram_frac"),
    )


SPAN_WORDS = 10


def dedup_spans(
    docs: DataFrame,
    span_words: int = SPAN_WORDS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level duplicate-SPAN removal (CCNet-style paragraph
    dedup, Wenzek et al. 2020 §4.1 — there the unit is the paragraph;
    this corpus has no paragraph breaks, so the unit is a fixed
    non-overlapping window of `span_words` whitespace tokens).

    Every span that occurs anywhere else in the corpus keeps exactly
    its FIRST occurrence — ordered by (doc_id, span_idx), so the rule
    is deterministic — and is dropped from every later document, then
    documents are reassembled from their surviving spans. This removes
    boilerplate (headers, navbars, license blocks) that document-level
    dedup (t4/minhash/simhash) cannot touch because the containing
    documents differ.

    Scale shape: two shuffles, both unavoidable for a rewrite —
    (1) first-occurrence ranking partitions by the span's md5 digest
    (128-bit key; boilerplate spans are exactly the hot keys, and AQE
    skew handling splits them), (2) document reassembly partitions by
    doc_id. The span text rides along only for the rebuild; the
    ranking key itself is the fixed-width digest, never raw text.
    Output: (doc_id, clean_text, n_spans, n_dropped) — one row per
    input document, clean_text == '' when every span was dropped.
    """
    words = F.split(F.col(text_col), " ")
    n_spans = F.ceil(F.size(words) / F.lit(float(span_words))).cast("int")
    span_arr = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.array_join(
            F.slice(words, i * span_words + 1, span_words), " "
        ),
    )
    spans = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(span_arr).alias("span_idx", "span"),
    )
    w = Window.partitionBy(F.md5(F.col("span").cast("binary"))).orderBy(
        "doc_id", "span_idx"
    )
    ranked = spans.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct("span_idx", "span")
    )  # collect_list skips the NULLs for dropped spans
    return ranked.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["span"]
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k characteristic terms per document by a smoothed TF-IDF
    weight: tf * (N + 1) / (df + 1).

    The weight is deliberately the RATIONAL smoothed form rather than
    tf * ln(N/df): ln() is not bit-identical across engines (measured:
    145 of 2000 representative inputs differ in the last ulp between
    the JVM and libm), while integer-valued doubles divide
    IEEE-exactly — so the ranking is deterministic and the DuckDB
    oracle hash-exact. The map df -> (N+1)/(df+1) is strictly
    decreasing (as is ln(N/df)), so rarer terms still weigh more; for
    any fixed tf the ordering matches the classic formula.

    Scale shape: explode -> groupBy(doc_id, term) for tf (map-side
    combine), groupBy(term) for df, a term-keyed join (AQE handles
    stopword skew), then per-doc top-k. N is one count() — metadata
    only on parquet. Ties break by term ASC for determinism.
    """
    n_docs = docs.count()
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = tf.join(dfreq, "term").withColumn(
        "weight",
        F.col("tf").cast("double")
        * F.lit(float(n_docs + 1))
        / (F.col("df").cast("double") + F.lit(1.0)),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("weight").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "weight", "rank")
    )


def compression_ratio(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """zlib compression ratio per document — the classic cheap
    redundancy signal for corpus filtering (highly repetitive /
    boilerplate text compresses far below prose; binary-ish noise
    barely compresses). Returns (doc_id, n_bytes, n_compressed,
    ratio = compressed/raw).

    This is one of the few legitimately-Python operators: there is no
    native Spark expression for DEFLATE, so it runs as an
    Arrow-batched mapInPandas (one Python roundtrip per batch, zlib in
    C inside). Ratio is deterministic: zlib level 6 output is a pure
    function of the bytes.
    """
    import pandas as pd  # noqa: F401 — runtime import on executors

    schema = "doc_id long, n_bytes long, n_compressed long, ratio double"

    def _batches(it):
        import zlib

        import pandas as pd

        for pdf in it:
            raw = pdf[text_col].fillna("").str.encode("utf-8")
            n = raw.str.len().astype("int64")
            comp = raw.map(lambda b: len(zlib.compress(b, 6)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": n,
                    "n_compressed": comp.astype("int64"),
                    "ratio": comp / n.where(n > 0, 1),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(_batches, schema)


# --- PII redaction (scrubbing stage of an LLM data pipeline) ---------------

# (class, pattern, replacement) applied IN ORDER — email first so its
# digit-bearing local parts can't later half-match the phone/IP
# patterns; replacement tokens contain no digits or '@', so redactions
# never cascade. Patterns are the RE2/Java-regex common subset
# (char classes, bounded repeats, ASCII \b), so Spark and an ANSI-SQL
# oracle (regexp_extract_all / regexp_replace ... 'g') agree exactly.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def pii_redact(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII scrubbing — the redaction stage every LLM training-data
    pipeline runs before text leaves quarantine. Per document: count
    then replace each PII class sequentially (counts are taken on the
    text as it stands when that class is scanned, exactly what the
    redactor saw). Pure Column expressions — JVM regex, codegen'd, no
    shuffle, linear in corpus size; returns (doc_id, n_email, n_phone,
    n_ipv4, redacted).
    """
    docs = spread(docs)
    # NULL text -> zero counts + empty redaction, not size(NULL) == -1
    # count poison and a NULL passthrough
    cur = F.coalesce(F.col(text_col), F.lit(""))
    counts = []
    for name, pat, rep in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), 0))
            .cast("long")
            .alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, rep)
    return docs.select(
        F.col(id_col).alias("doc_id"), *counts, cur.alias("redacted")
    )


# --- markup stripping (HTML -> visible text) -------------------------------

# Java-regex / RE2 common-subset patterns; applied in order. Script and
# style blocks go first (their CONTENT must vanish, not just the tags),
# then remaining tags, then whitespace normalization.
_SCRIPT_STYLE_PATTERN = r"(?s)<(script|style)\b[^>]*>.*?</(script|style)>"
_TAG_PATTERN = r"<[^>]+>"


def strip_markup(
    docs: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """HTML/markup stripping — the extract-visible-text stage of a web
    corpus pipeline (the trafilatura/jusText role, reduced to its
    deterministic regex core): drop <script>/<style> blocks with their
    contents, drop remaining tags, collapse whitespace. Emits per doc
    the removed-tag count and the cleaned text. Pure Column
    expressions, zero shuffle, linear scan.
    """
    docs = spread(docs)
    # NULL html -> n_tags 0 / empty clean text (size(NULL) is -1)
    h = F.coalesce(F.col(html_col), F.lit(""))
    n_tags = F.size(F.regexp_extract_all(h, F.lit(_TAG_PATTERN), 0)).cast("long")
    no_blocks = F.regexp_replace(h, _SCRIPT_STYLE_PATTERN, " ")
    no_tags = F.regexp_replace(no_blocks, _TAG_PATTERN, " ")
    clean = F.trim(F.regexp_replace(no_tags, r"\s+", " "))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_tags.alias("n_tags"),
        F.length(clean).cast("long").alias("clean_len"),
        clean.alias("clean_text"),
    )


# --- URL extraction + canonicalization (crawl-corpus bookkeeping) ----------

# (?i) so mixed-case schemes/hosts ARE captured and then canonicalized
# — a case-sensitive pattern would silently skip 'HTTPS://' URLs (and
# skip them identically in the oracle, hiding the gap).
URL_PATTERN = r"(?i)https?://[A-Za-z0-9.\-:_/?=&#%]+"


def canonicalize_url(url) -> Column:
    """Column expression: canonical form of a single URL string —
    lowercase, #fragment stripped, scheme-default port dropped. Shared
    by url_stats and unit-testable standalone; see url_stats for the
    portability constraints that shape it."""
    low = F.regexp_replace(F.lower(url), "#.*", "")
    scheme = F.regexp_extract(low, r"^(https?)://", 1)
    # '?' terminates the authority (RFC 3986): without it in the
    # classes, 'https://host:443?a=1' captured portpart ':443?a=1'
    # (default port NOT stripped) and 'https://host?a=1' swallowed the
    # query into host — a no-path-with-query URL canonicalized
    # differently from its pathed twin
    host = F.regexp_extract(low, r"^https?://([^/:?#]+)", 1)
    # the ':<port>' authority suffix, kept verbatim unless it is
    # exactly the scheme's default port
    portpart = F.regexp_extract(low, r"^https?://[^/:?#]+(:[^/?#]*)", 1)
    rest = F.regexp_replace(low, r"^https?://[^/?#]+", "")
    default_port = ((scheme == F.lit("https")) & (portpart == F.lit(":443"))) | (
        (scheme == F.lit("http")) & (portpart == F.lit(":80"))
    )
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(default_port, F.lit("")).otherwise(portpart),
        rest,
    )


def url_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """URL extraction + canonicalization + per-domain rollup — the
    crawl-corpus bookkeeping stage (domain mix drives sampling and
    blocklists). Canonicalization is deliberately backreference- and
    lookahead-free so the exact pipeline mirrors into ANSI SQL (Spark's
    `$1` vs DuckDB's `\\1` replacement syntax, and Java-regex lookahead
    vs RE2, would otherwise diverge): lowercase the URL, strip the
    #fragment, then decompose into scheme/host/port-part/rest and
    rebuild, dropping the port ONLY when it is the scheme's default
    (':443' for https, ':80' for http) — 'http://host:443/x' is a
    DIFFERENT resource and keeps its port, and a default port with no
    trailing path ('https://host:443') is stripped too. Emits
    (domain, n_urls, n_docs) — counts after canonicalization.

    Scale: extraction is a zero-shuffle projection; the only exchange
    is the domain rollup (map-side combined), carrying (domain, count)
    pairs.
    """
    docs = spread(docs)
    urls = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            # NULL text -> no URL rows (explode of NULL array drops the
            # row, same as the oracle's unnest of an empty list)
            F.regexp_extract_all(
                F.coalesce(F.col(text_col), F.lit("")), F.lit(URL_PATTERN), 0
            )
        ).alias("url"),
    )
    canon = canonicalize_url(F.col("url")).alias("canon_url")
    with_domain = urls.select(
        "doc_id",
        canon,
    ).select(
        "doc_id",
        "canon_url",
        F.regexp_extract("canon_url", r"^https?://([^/:?#]+)", 1).alias("domain"),
    )
    return with_domain.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )


# --- bigram-coverage quality proxy (LM-score stand-in) ---------------------


def bigram_coverage(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 5,
) -> DataFrame:
    """Cheap LM-likelihood proxy for corpus quality filtering: the
    fraction of a document's distinct word bigrams that are "known" —
    appearing in at least ``min_df`` documents corpus-wide. Fluent text
    is built from common collocations, so its bigrams are overwhelmingly
    known; gibberish, OCR noise, and word-salad spam score low. This is
    the integer-exact stand-in for a KenLM perplexity gate (whose ln()
    is libm-divergent cross-engine and so stays out of hashed outputs).

    Emits (doc_id, n_bigrams, n_covered, coverage) — counts BIGINT,
    coverage a single exact division (NULL for docs with < 2 words).

    Scale: bigram doc-frequency is a map-side-combined groupBy (hot
    stopword bigrams partial-aggregate before the exchange); the
    coverage join redistributes (bigram, doc_id) pairs only — document
    bodies never shuffle. Tokenization re-evaluates once per branch
    (two corpus scans), the deliberate trade against persisting the
    exploded bigram table.
    """
    from group_2_shopware_enterprise_data_engineering_project_spark.functions.partitioning import (
        spread,
    )

    docs = spread(docs)
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        shingles(tokens(text_col), k=2).alias("bgs"),
    )
    ex = sh.select("doc_id", F.explode("bgs").alias("bg"))
    dfc = ex.groupBy("bg").agg(F.count(F.lit(1)).cast("long").alias("df"))
    per = (
        ex.join(dfc, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(
                F.when(F.col("df") >= min_df, F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_covered"),
        )
    )
    return sh.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce(F.col("n_covered"), F.lit(0)).cast("long").alias("n_covered"),
        F.when(
            F.col("n_bigrams") > 0,
            F.col("n_covered").cast("double") / F.col("n_bigrams"),
        ).alias("coverage"),
    )


# --- C4-style line-quality filtering (page -> kept lines) -------------------

#: lowercase substrings whose presence disqualifies a line (the C4
#: "bad words / boilerplate" rule, trimmed to a deterministic,
#: SQL-portable core)
LINE_BLOCKLIST: tuple[str, ...] = ("cookie", "javascript", "privacy policy", "lorem ipsum")

#: a kept line must end in terminal punctuation (C4's sentence rule)
_LINE_TERMINAL_RE = r'[.!?"]$'

#: and carry at least this many whitespace words
LINE_MIN_WORDS = 5


def c4_line_filter(
    pages: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): split a
    page into newline lines and keep only lines that (1) end in
    terminal punctuation, (2) have >= LINE_MIN_WORDS words, and (3)
    contain no blocklisted boilerplate substring (case-insensitive).
    Emits per page: line counts before/after, the kept text's length,
    an md5 digest of the kept lines (order preserved — the digest
    stands in for shipping the cleaned page through the comparison),
    and C4's page-level verdict (>= ``page_min_kept`` surviving lines).

    Scale: pure per-row array expressions — no explode, no shuffle; the
    whole filter is one codegen'd projection over the corpus.
    """
    from group_2_shopware_enterprise_data_engineering_project_spark.functions.partitioning import (
        spread,
    )

    pages = spread(pages)
    lines = F.split(F.col(text_col), "\n")

    def _keep(line: Column) -> Column:
        low = F.lower(line)
        no_block = ~reduce_or([low.contains(b) for b in LINE_BLOCKLIST])
        return (
            line.rlike(_LINE_TERMINAL_RE)
            & (F.size(tokens(line)) >= LINE_MIN_WORDS)
            & no_block
        )

    kept = F.filter(lines, _keep)
    return pages.select(
        F.col(id_col).alias("doc_id"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        F.length(F.array_join(kept, "\n")).cast("long").alias("kept_chars"),
        F.md5(F.array_join(kept, "\n")).alias("kept_digest"),
        (F.size(kept) >= F.lit(2)).cast("int").alias("page_kept"),
    )


def reduce_or(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


# --- cross-source overlap matrix (dedup-priority planning) ------------------


def source_overlap(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-overlap matrix between sources: exact Jaccard similarity
    of each source pair's distinct-bigram vocabularies — the signal a
    curation pipeline uses to ORDER cross-source dedup work (scrape A
    vs mirror B with jaccard 0.9 gets deduped first; disjoint sources
    skip the pairwise pass entirely).

    Emits (src_a < src_b, n_a, n_b, n_common, jaccard) with exact
    BIGINT set sizes and one exact division.

    Scale: the shuffle carries (source, bigram) pairs only — documents
    never move. The bigram self-join fans out at most S rows per
    bigram side (S = source count), so a universal stopword bigram
    costs O(S^2) pair rows, bounded by the source-pair matrix itself,
    not by corpus size. Distinct-per-source dedup is map-side
    combined.
    """
    from group_2_shopware_enterprise_data_engineering_project_spark.functions.partitioning import (
        spread,
    )

    docs = spread(docs)
    src_bg = (
        docs.select(
            F.col(group_col).alias("src"),
            F.explode(shingles(tokens(text_col), k=2)).alias("bg"),
        )
        .distinct()
    )
    sizes = src_bg.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    pairs = (
        src_bg.alias("a")
        .join(src_bg.alias("b"), "bg")
        .filter(F.col("a.src") < F.col("b.src"))
        .groupBy(
            F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    return (
        pairs.join(
            F.broadcast(sizes.select(F.col("src").alias("src_a"), F.col("n").alias("n_a"))),
            "src_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("src").alias("src_b"), F.col("n").alias("n_b"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


# --- Unicode-script mix detection (multilingual routing) --------------------

#: (script, Java-regex char class, RE2 char class) — the two regex
#: dialects spell code-point ranges differently ('\\uXXXX' vs
#: '\\x{XXXX}'), but the RANGES are identical, so counts match exactly.
SCRIPT_RANGES: tuple[tuple[str, str, str], ...] = (
    ("latin", "[A-Za-z]", "[A-Za-z]"),
    ("cjk", "[一-鿿]", "[\\x{4E00}-\\x{9FFF}]"),
    ("cyrillic", "[Ѐ-ӿ]", "[\\x{0400}-\\x{04FF}]"),
    ("arabic", "[؀-ۿ]", "[\\x{0600}-\\x{06FF}]"),
)


def script_mix(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unicode-script composition per document — the routing signal a
    multilingual pipeline uses BEFORE language-ID (a doc that is 90%
    CJK never reaches the Latin-marker classifier) and the basis of
    mixed-script spam gates. Counts code points per script range plus
    the dominant script under a deterministic (count, name-order)
    rule. Pure codegen projection — no shuffle, no UDF.
    """
    from group_2_shopware_enterprise_data_engineering_project_spark.functions.partitioning import (
        spread,
    )

    docs = spread(docs)
    t = F.coalesce(F.col(text_col), F.lit(""))
    counts = {
        name: F.length(t) - F.length(F.regexp_replace(t, java_cls, ""))
        for name, java_cls, _ in SCRIPT_RANGES
    }
    # dominant: highest count, ties broken by SCRIPT_RANGES order;
    # all-zero -> 'none'
    dom = F.lit("none")
    best = F.lit(0).cast("long")
    for name, *_ in SCRIPT_RANGES:
        c = counts[name].cast("long")
        dom = F.when(c > best, F.lit(name)).otherwise(dom)
        best = F.when(c > best, c).otherwise(best)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        *[counts[name].cast("long").alias(f"n_{name}") for name, *_ in SCRIPT_RANGES],
        dom.alias("dominant_script"),
    )


# --- feature hashing (the hashing trick) -------------------------------------


def feature_hashing(
    docs: DataFrame,
    n_features: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature hashing (Weinberger et al. 2009 — the fastText/VW input
    encoding): each token maps to index md5_16(token) mod D, counts
    aggregate per (doc, index). No vocabulary pass, no vocab broadcast,
    collisions by design — the fixed-dimension sparse featurizer for
    linear/fastText-style models over unbounded token spaces. md5 keeps
    the index assignment engine-portable (same rule as `prep`'s
    hash_bucket).

    Emits long-format (doc_id, feature_idx, n) sparse triples; one
    map-side-combined groupBy after a narrow explode.
    """
    from group_2_shopware_enterprise_data_engineering_project_spark.functions.partitioning import (
        spread,
    )

    docs = spread(docs)
    ex = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("tok"),
    )
    idx = F.pmod(
        F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("long"),
        F.lit(n_features),
    )
    return ex.select("doc_id", idx.alias("feature_idx")).groupBy(
        "doc_id", "feature_idx"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


# --- within-doc repetition signal (Gopher-style quality gate) -----------------


def bigram_repetition_gate(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Most-frequent-BIGRAM share gate (Gopher/MassiveText A1.1's
    top-2gram filter — the one repetition gate `repetition_signals`/t7
    omits, which covers unique-token, top-TOKEN, and dup-ngram
    fractions): per doc, word and bigram cardinalities plus the
    most-frequent-bigram count, flagging template spam and decode-loop
    degeneration dominated by one repeated phrase.

    Scale shape: word stats are zero-shuffle array expressions; the
    per-doc bigram mode runs as explode -> groupBy(doc, bigram) ->
    groupBy(doc), both map-side combined on doc-prefixed keys, so no
    reducer ever holds more than one doc's distinct bigrams. (A pure
    array-expression mode — max over transform(distinct, count-equal) —
    would be O(len^2) per doc: quadratic in DOCUMENT length is the
    wrong trade for web-scale docs; the groupBy is linear.)

    The flag is integer cross-multiplication (top*100 > n*18 mirrors
    Gopher's 0.18 top-bigram share) — no float division in any output.
    """
    from group_2_shopware_enterprise_data_engineering_project_spark.functions.partitioning import (
        spread,
    )

    docs = spread(docs)
    # null text counts as empty (quality gates must not emit NULL stats)
    t = tokens(F.coalesce(F.col(text_col), F.lit("")))
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(t).cast("long").alias("n_words"),
        F.size(F.array_distinct(t)).cast("long").alias("n_distinct_words"),
    )
    bg = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(t, k=2, distinct=False)).alias("b"),
    )
    bga = (
        bg.groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy("doc_id")
        .agg(
            F.sum("_n").cast("long").alias("n_bigrams"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_bigrams"),
            F.max("_n").cast("long").alias("top_bigram_n"),
        )
    )
    out = words.join(bga, "doc_id", "left").select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("n_distinct_bigrams", F.lit(0))
        .cast("long")
        .alias("n_distinct_bigrams"),
        F.coalesce("top_bigram_n", F.lit(0)).cast("long").alias("top_bigram_n"),
    )
    return out.withColumn(
        "rep_flag",
        (
            (F.col("n_bigrams") >= 10)
            & (F.col("top_bigram_n") * 100 > F.col("n_bigrams") * 18)
        ).cast("long"),
    )


# --- bigram-LM OOV quality filter ---------------------------------------------


def lm_oov_score(
    score_docs: DataFrame,
    ref_docs: DataFrame,
    min_ref_count: int = 2,
    max_oov_pct: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Count-LM quality filter (the CCNet/KenLM-style gate, Wenzek et
    al. 2020, with counts instead of probabilities): build a reference
    bigram vocabulary from `ref_docs` (bigrams seen >= min_ref_count
    times), then score every `score_docs` document by how many of its
    bigrams the reference knows. Documents whose out-of-vocabulary
    bigram share exceeds max_oov_pct% are flagged out — gibberish,
    wrong-language, and OCR-mangled text score high OOV against any
    clean reference.

    Scale shape: the reference table aggregates once (map-side
    combined) and joins on the bigram key — a shuffle join, NOT a
    broadcast, because a real reference LM's vocabulary is
    GB-scale; per-doc roll-up is a second map-side-combined groupBy.
    The keep flag is integer cross-multiplication (no float division).
    """
    from group_2_shopware_enterprise_data_engineering_project_spark.functions.partitioning import (
        spread,
    )

    ref_bg = (
        spread(ref_docs)
        .select(F.explode(shingles(tokens(text_col), 2, distinct=False)).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_ref_count)
        .select("b", F.lit(1).alias("_known"))
    )
    bg = spread(score_docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(tokens(text_col), 2, distinct=False)).alias("b"),
    )
    scored = (
        bg.join(ref_bg, "b", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(F.coalesce("_known", F.lit(0))).cast("long").alias("n_hit"),
        )
    )
    ids = score_docs.select(F.col(id_col).alias("doc_id"))
    out = ids.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
    )
    return out.select(
        "doc_id",
        "n_bigrams",
        "n_hit",
        (F.col("n_bigrams") - F.col("n_hit")).alias("n_oov"),
        (
            (F.col("n_bigrams") - F.col("n_hit")) * 100
            <= F.col("n_bigrams") * max_oov_pct
        )
        .cast("long")
        .alias("keep_flag"),
    )


# --- vocabulary coverage curve --------------------------------------------------


def vocab_coverage(
    docs: DataFrame,
    ks: tuple[int, ...] = (10, 100, 1000),
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary coverage curve: for each k in `ks`, how many corpus
    token OCCURRENCES the k most frequent types cover — the statistic
    behind tokenizer vocab sizing and OOV-rate budgeting ("32k types
    cover 97% of tokens").

    Scale shape: one map-side-combined token count, then a PARTIAL
    top-max(k) (TakeOrderedAndProject — every task forwards only its
    own top max(k), no global sort of the vocabulary), and a cumulative
    window over that bounded max(k)-row frame. The corpus total rides
    as a broadcast single-row join. Counts exact; no floats.
    """
    from group_2_shopware_enterprise_data_engineering_project_spark.functions.partitioning import (
        spread,
    )

    kmax = max(ks)
    counts = (
        spread(docs)
        .select(F.explode(tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    total = counts.agg(F.sum("n").cast("long").alias("total_tokens"))
    topk = counts.orderBy(F.col("n").desc(), F.col("tok")).limit(kmax)
    w = (
        Window.orderBy(F.col("n").desc(), F.col("tok"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = (
        topk.withColumn("covered", F.sum("n").over(w).cast("long"))
        .withColumn("k", F.row_number().over(
            Window.orderBy(F.col("n").desc(), F.col("tok"))
        ).cast("long"))
        .filter(F.col("k").isin([int(k) for k in ks]))
        .select("k", "covered")
    )
    return curve.join(F.broadcast(total)).select("k", "covered", "total_tokens")


# --- cross-document boilerplate-line removal ------------------------------------


def boilerplate_lines(
    pages: DataFrame,
    source_col: str = "source",
    min_share_pct: int = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document boilerplate removal (the corpus-level complement
    of `c4_line_filter`'s per-line blocklist): a line that appears in
    >= min_share_pct% of a SOURCE's documents is template chrome —
    nav bars, footers, cookie banners — and is dropped from every
    document of that source. Unlike a static blocklist this learns the
    boilerplate from the corpus itself, per source.

    Sources with fewer than 2 documents learn NOTHING: in a
    one-doc source every line has 100% share, so an unguarded learner
    deletes the entire document (caught by the toy-corpus test).

    Emits per doc: line counts before/after, dropped-line count, and
    an md5 digest of the kept text (t20's digest pattern).

    Scale shape: line frequencies aggregate on (source, line-fp) —
    map-side combined, 16-byte fingerprints shuffle, never line text;
    the boilerplate verdict joins back on the same key; per-doc
    reassembly is ONE doc-key groupBy with order restored by
    in-aggregation array_sort on line position (m36's pattern). The
    share test is integer cross-multiplication.
    """
    lines = pages.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("line_fp", F.md5("line"))
    totals = (
        pages.groupBy(F.col(source_col).alias("source"))
        .agg(F.count(F.lit(1)).alias("_n_docs"))
        .filter(F.col("_n_docs") >= 2)
    )
    freqs = (
        lines.select("source", "line_fp", "doc_id")
        .distinct()
        .groupBy("source", "line_fp")
        .agg(F.count(F.lit(1)).alias("_n_with"))
        .join(totals, "source")
        .filter(F.col("_n_with") * 100 >= F.col("_n_docs") * min_share_pct)
        .select("source", "line_fp", F.lit(1).alias("_boiler"))
    )
    tagged = lines.join(freqs, ["source", "line_fp"], "left")
    kept_struct = F.when(
        F.col("_boiler").isNull(),
        F.struct(F.col("pos").alias("p"), F.col("line").alias("l")),
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(kept_struct)), lambda x: x["l"]
    )
    kept_text = F.array_join(ordered, "\n")
    return tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.when(F.col("_boiler").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_boiler"),
        F.sum(F.when(F.col("_boiler").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.md5(kept_text).alias("kept_digest"),
    )


# --- RAKE keyword extraction ----------------------------------------------------


def rake_keywords(
    docs: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    classic: bool = False,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010), corpus-level:
    candidate phrases are maximal stopword-free token runs; each word
    accumulates freq (occurrences in candidates) and degree (sum of
    lengths of the phrases it appears in — its co-occurrence degree);
    a phrase scores by its words' degree and freq totals. The DEFAULT
    ranks by the RATIO OF SUMS sum(degree)/sum(freq) — ONE exact
    division of BIGINT totals — rather than classic RAKE's sum of
    per-word ratios, because an unordered cross-engine float SUM is
    fold-order-dependent (the repo-wide float discipline).

    ``classic=True`` gives textbook RAKE — score(phrase) = SUM over
    the phrase's token occurrences of degree(w)/freq(w) — and CHANGES
    RANKINGS vs the default: the ratio of sums is the freq-weighted
    mean of per-word ratios, so classic boosts phrases containing a
    rare word of high average-phrase-length while the default damps
    it by the other words' frequencies. The float sum stays exactly
    reproducible by construction: each ratio is one exact IEEE
    division, and both engines LEFT-FOLD the ratios in phrase token
    order (Spark ``F.aggregate`` over a pos-sorted array; DuckDB
    ``list_reduce`` over ``list(... ORDER BY pos)``) — same addition
    tree, bit-identical double.

    Scale shape: phrase segmentation is one doc-key window (running
    stopword count) + one (doc, run) groupBy sharing the shuffle;
    word stats are a vocabulary-sized groupBy; the final cut is a
    partial top-k (TakeOrderedAndProject), never a global sort of the
    phrase space. The classic branch adds one phrase-key groupBy over
    the (distinct-phrase x words) frame — vocabulary-bounded, not
    corpus-bounded.
    """
    docs = spread(docs)
    pos = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias(
            "pos", "w"
        ),
    ).withColumn("is_stop", F.col("w").isin(list(STOPWORDS)))
    wseg = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    seg = pos.withColumn(
        "g", F.sum(F.col("is_stop").cast("int")).over(wseg)
    ).filter(~F.col("is_stop"))
    # (doc, run) -> ordered phrase string + length; order restored by
    # in-aggregation sort (m36's pattern)
    ordered = F.transform(
        F.array_sort(
            F.collect_list(F.struct(F.col("pos").alias("p"), F.col("w").alias("t")))
        ),
        lambda x: x["t"],
    )
    phrases = seg.groupBy("doc_id", "g").agg(
        F.array_join(ordered, " ").alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    # word stats over candidate occurrences (word rides with its run's
    # length, so degree needs no second join back to phrases)
    word_occ = seg.join(phrases, ["doc_id", "g"]).select("w", "plen")
    word_stats = word_occ.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("degree"),
    )
    phrase_occ = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    if classic:
        tok = phrase_occ.select(
            "phrase",
            "n_occurrences",
            F.posexplode(F.split(F.col("phrase"), " ")).alias("pos", "w"),
        )
        ratios = (
            tok.join(word_stats, "w")
            .withColumn(
                "r",
                F.col("degree").cast("double") / F.col("freq").cast("double"),
            )
            .groupBy("phrase", "n_occurrences")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_words"),
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("pos").alias("p"), F.col("r").alias("r")
                            )
                        )
                    ),
                    lambda x: x["r"],
                ).alias("rs"),
            )
        )
        scored = ratios.withColumn(
            "score", F.aggregate("rs", F.lit(0.0), lambda acc, x: acc + x)
        ).drop("rs")
        top = scored.orderBy(F.col("score").desc(), F.col("phrase")).limit(k)
        wr = Window.orderBy(F.col("score").desc(), F.col("phrase"))
        return top.withColumn("rank", F.row_number().over(wr).cast("long"))
    scored = (
        phrase_occ.select("phrase", "n_occurrences")
        .withColumn("w", F.explode(F.split(F.col("phrase"), " ")))
        .join(word_stats, "w")
        .groupBy("phrase", "n_occurrences")
        .agg(
            F.sum("degree").cast("long").alias("sum_degree"),
            F.sum("freq").cast("long").alias("sum_freq"),
        )
        .withColumn(
            "score",
            F.col("sum_degree").cast("double") / F.col("sum_freq").cast("double"),
        )
    )
    top = scored.orderBy(F.col("score").desc(), F.col("phrase")).limit(k)
    wr = Window.orderBy(F.col("score").desc(), F.col("phrase"))
    return top.withColumn("rank", F.row_number().over(wr).cast("long"))
