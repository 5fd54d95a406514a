"""Distributed BPE tokenizer training and encoding.

Byte-pair-encoding merges are learned from PAIR FREQUENCIES, and the
classic scaling insight makes this cheap at any corpus size: training
never touches the corpus per iteration — it runs on the word-frequency
table (distinct words + counts), which is orders of magnitude smaller
than the text and FIXED across iterations. The 100 TB corpus is read
once (one explode + groupBy to build word counts); each of the k merge
iterations then processes |vocab| rows.

Per iteration:
  1. pair counts — explode each word's adjacent symbol pairs weighted
     by word count (native zip/explode, map-side combined),
  2. best pair — max count, ties broken lexicographically (a, b): a
     one-row TakeOrderedAndProject collect — the merge table is a
     MODEL, so driver materialization is the same contract as
     k-means centroids,
  3. merge application — rewrite the |vocab| symbol arrays with a
     NATIVE left fold (`aggregate` higher-order function): the
     left-to-right adjacent-pair scan is a fold, so it needs no
     Python (guide §4.1 — built-ins, including higher-order array
     functions, beat UDFs; the r12 A/B measured the pandas-UDF
     rewrite + its eager count() at ~0.6 s/iteration of pure
     JVM<->Python and job overhead on a 31-row vocab).

One Spark job per iteration: the top-pair collect. The rewritten
vocab is persisted lazily and materialized by the NEXT iteration's
collect; the previous cache is released right after (so at most two
vocab generations are cached at once, each |vocab|-sized).

Determinism: counts are exact integers, ties are ordered, and the
merge rewrite is a pure function — same corpus, same merges, every
run and engine.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from group_2_shopware_enterprise_data_engineering_project_spark.operators.text import (
    tokens,
)

END = "</w>"


def _merge_series(symbols: pd.Series, a: str, b: str) -> pd.Series:
    """Reference sequential scan for one merge rule. No longer on the
    training path (`_merge_fold` is the native form); kept as the
    executable spec that test_merge_fold_matches_sequential_scan pins
    the fold against."""
    merged = a + b

    def apply_one(syms):
        out = []
        i = 0
        n = len(syms)
        while i < n:
            if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                out.append(merged)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    return symbols.map(apply_one)


def _merge_fold(symbols: Column, a: str, b: str) -> Column:
    """Native left fold equivalent of `_merge_series`: scan the symbol
    array left to right, replacing each non-overlapping adjacent
    (a, b) with a+b.

    Equivalence with the sequential scan: the scan never reconsiders a
    just-merged token as the LEFT side of another merge in the same
    pass; in the fold the merged token becomes last(acc) and could
    only re-match if it equaled `a` — i.e. a+b == a — impossible for
    non-empty b. a == b overlap runs ([x,x,x] with (x,x) -> [xx, x])
    fold identically because the merged token no longer equals `a`.
    Pinned against the Python scan by
    test_merge_fold_matches_sequential_scan.
    """
    append = lambda acc, x: F.concat(acc, F.array(x))  # noqa: E731
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(F.size(acc) == 0, append(acc, x)).otherwise(
            F.when(
                (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
                ),
            ).otherwise(append(acc, x))
        ),
    )


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, count, symbols) — the word-frequency training table.
    symbols = characters + the end-of-word marker. The corpus scan is
    `spread` so tokenization parallelizes even when the source is one
    row group (no-op on a many-split cluster scan)."""
    from group_2_shopware_enterprise_data_engineering_project_spark.functions.partitioning import (
        spread,
    )

    words = (
        spread(docs.select(F.col(text_col)))
        .select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("count"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.substring(F.col("word"), i, 1),
    )
    return words.withColumn(
        "symbols", F.concat(chars, F.array(F.lit(END)))
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
) -> list[tuple[str, str, int]]:
    """Learn up to ``n_merges`` BPE merges; returns [(left, right,
    pair_count)] in merge order. Stops early when no pair occurs at
    least twice."""
    if n_merges < 0:
        raise ValueError("n_merges must be >= 0")
    # Lazy persist: the first iteration's collect materializes the
    # cache. `prev` keeps the previous generation cached until the
    # CURRENT one is materialized (unpersisting it earlier would make
    # a cache miss recompute the whole merge chain from the corpus).
    vocab = word_vocab(docs, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    prev: DataFrame | None = None
    merges: list[tuple[str, str, int]] = []
    try:
        for _ in range(n_merges):
            pairs = (
                vocab.select(
                    "count",
                    F.explode(
                        F.zip_with(
                            F.slice(F.col("symbols"), 1, F.size("symbols") - 1),
                            F.slice(F.col("symbols"), 2, F.size("symbols") - 1),
                            lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                        )
                    ).alias("p"),
                )
                .groupBy("p.a", "p.b")
                .agg(F.sum("count").alias("n"))
            )
            # The iteration's ONE job: scanning `vocab` here also
            # fills its cache, so the previous generation can go.
            top = (
                pairs.orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
                .limit(1)
                .collect()
            )
            if prev is not None:
                prev.unpersist()
                prev = None
            if not top or top[0]["n"] < 2:
                break
            a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
            merges.append((a, b, n))
            new_vocab = vocab.withColumn(
                "symbols", _merge_fold(F.col("symbols"), a, b)
            ).persist(StorageLevel.MEMORY_AND_DISK)
            prev, vocab = vocab, new_vocab
        return merges
    finally:
        vocab.unpersist()
        if prev is not None:
            prev.unpersist()


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize documents with a learned merge table: per word, apply
    every merge in training order. One Arrow-batched pass over the
    corpus (the merge list is a broadcast closure constant); returns
    (doc_id, n_tokens, tokens) with tokens comma-joined for
    scalar-stable comparison.

    Each DISTINCT word is encoded once per task (guide §4.5 heavyweight
    work amortized across the partition): word->tokens is a pure
    function, and natural-language word frequency is Zipfian, so the
    memo turns ~total-words merge scans into ~distinct-words scans
    (measured 6.7x on the sf0.1 corpus, bit-identical output). The
    input is `spread` so a single-row-group source still encodes on
    all cores (no-op on a many-split cluster scan)."""
    from group_2_shopware_enterprise_data_engineering_project_spark.functions.partitioning import (
        spread,
    )

    order = [(a, b) for a, b, _ in merges]

    schema = "doc_id long, n_tokens long, tokens string"

    def _encode_word(word: str) -> list[str]:
        syms = list(word) + [END]
        for a, b in order:
            merged = a + b
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    def _batches(it):
        cache: dict[str, list[str]] = {}  # per task, spans batches
        for pdf in it:
            toks_out = []
            for text in pdf[text_col].fillna(""):
                syms_all: list[str] = []
                for word in [w for w in text.split(" ") if w]:
                    got = cache.get(word)
                    if got is None:
                        got = _encode_word(word)
                        cache[word] = got
                    syms_all.extend(got)
                toks_out.append(syms_all)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_tokens": [len(t) for t in toks_out],
                    "tokens": [",".join(t) for t in toks_out],
                }
            )

    return spread(docs.select(id_col, text_col)).mapInPandas(_batches, schema)
