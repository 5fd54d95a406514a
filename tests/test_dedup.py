"""Dedup family: exact, minhash-LSH, n-gram Jaccard, simhash and the
banded-Hamming join behind simhash and media pHash.

Strategy: plant exact duplicates and near-duplicates in a small corpus
and assert each detector finds them (and nothing spurious at high
thresholds), plus determinism across runs.
"""

from __future__ import annotations

import random

import pytest

from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
    dedup,
    minhash,
    saltjoin,
    simhash,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the afternoon sun light"
)
NEAR = BASE.replace("lazy", "sleepy")  # one-token edit -> high jaccard
FAR = "completely different content about spark query engines and distributed joins at scale"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(0, BASE), (1, NEAR), (2, FAR), (3, BASE)]  # 3 = exact dup of 0
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import text

    out = {r.keep_id: r.n_copies for r in text.exact_dedup(docs).collect()}
    # 3 distinct texts; the (0, 3) exact-dup group keeps min id 0 with 2 copies
    assert out == {0: 2, 1: 1, 2: 1}


def test_distinct_rows_and_keep_latest(spark):
    df = spark.createDataFrame(
        [(1, 100, "a"), (1, 100, "a"), (1, 200, "b"), (2, 50, "c")],
        "id long, ts long, v string",
    )
    assert dedup.distinct_rows(df).count() == 3
    latest = {r.id: r.v for r in dedup.keep_latest(df, ("id",), "ts").collect()}
    assert latest == {1: "b", 2: "c"}


def test_minhash_lsh_finds_planted_pairs(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash.minhash_lsh_dedup(docs, threshold=0.4).collect()
    }
    assert pairs[(0, 3)] == 1.0  # exact dup
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.6  # near dup
    assert not any({a, b} & {2} for (a, b) in pairs)  # FAR matches nothing


def test_allpairs_jaccard_matches_lsh_on_planted(docs):
    lsh = {(r.doc_a, r.doc_b) for r in minhash.minhash_lsh_dedup(docs, threshold=0.4).collect()}
    ap = {(r.doc_a, r.doc_b) for r in minhash.allpairs_jaccard_dedup(docs, threshold=0.4).collect()}
    # LSH candidates are a subset of all-pairs; on this corpus the
    # planted pairs are far above threshold so both find exactly them.
    assert lsh == ap == {(0, 1), (0, 3), (1, 3)}


def test_minhash_deterministic(docs):
    a = sorted(map(tuple, minhash.minhash_lsh_dedup(docs).collect()))
    b = sorted(map(tuple, minhash.minhash_lsh_dedup(docs).collect()))
    assert a == b


def test_simhash_exact_dup_distance_zero(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash.simhash_dedup(docs, max_hamming=3).collect()
    }
    assert pairs[(0, 3)] == 0
    assert (0, 1) in pairs  # one-token edit stays within hamming 3


def test_simhash_signature_properties(spark):
    # empty text -> 0; signatures deterministic
    df = spark.createDataFrame([(0, ""), (1, "a b c"), (2, "a b c")], "doc_id long, text string")
    sigs = {r.doc_id: r.simhash for r in simhash.simhash_signatures(df).collect()}
    assert sigs[0] == 0
    assert sigs[1] == sigs[2] != 0


@pytest.mark.parametrize("n_bits,n_bands", [(64, 4), (60, 4)])
def test_banded_hamming_pairs_matches_all_pairs(spark, monkeypatch, n_bits, n_bands):
    """At both signature widths in use (SimHash 64 x 4, pHash 60 x 4)
    the banded join returns exactly the all-pairs set with
    popcount(a ^ b) <= 3, where banding guarantees full recall. Planted
    pairs sit at Hamming 0..3; one pair differs only in the top bit,
    which at 64 bits makes one side a negative signed long, so every
    band must split on the raw bit pattern. The cap is lowered so a
    planted hot band (seven near-copies sharing band 0) is salt-split
    and its pairs meet across salt groups."""
    monkeypatch.setattr(saltjoin, "BUCKET_CAP", 2)
    rng = random.Random(n_bits)
    sigs = [rng.getrandbits(n_bits) for _ in range(30)]
    for d in range(4):
        for base in rng.sample(sigs[:30], 3):
            sigs.append(base ^ sum(1 << b for b in rng.sample(range(n_bits), d)))
    top = rng.getrandbits(n_bits) | (1 << (n_bits - 1))
    sigs += [top, top ^ (1 << (n_bits - 1))]
    hot = rng.getrandbits(n_bits)
    sigs += [hot ^ (1 << b) for b in rng.sample(range(n_bits // n_bands, n_bits), 7)]
    signed = [s - (1 << 64) if s >> 63 else s for s in sigs]
    assert any(s < 0 for s in signed) == (n_bits == 64)
    df = spark.createDataFrame(list(enumerate(signed)), "id long, sig long")

    got = {
        (r.id_a, r.id_b): r.hamming
        for r in saltjoin.banded_hamming_pairs(
            df, "id", "sig", n_bits, n_bands, 3
        ).collect()
    }
    want = {
        (i, j): bin(a ^ b).count("1")
        for i, a in enumerate(sigs)
        for j, b in enumerate(sigs)
        if i < j and bin(a ^ b).count("1") <= 3
    }
    assert set(want.values()) == {0, 1, 2, 3}
    assert got == want


def test_bpe_ish_tokens(spark):
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import text
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "Hello, world! 42 abc-def")], "doc_id long, text string")
    out = text.token_counts(df).collect()[0]
    # words: Hello, world! 42 abc-def -> 4 whitespace tokens
    # bpe-ish: Hello , world ! 4 2 abc - def -> 9
    assert (out.n_words, out.n_bpe_tokens) == (4, 9)
    toks = df.select(text.bpe_ish_tokens("text").alias("t")).collect()[0].t
    assert toks == ["Hello", ",", "world", "!", "4", "2", "abc", "-", "def"]


def test_repetition_signals(spark):
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import text

    rows = [
        (0, "clean varied prose with many different words here today"),
        (1, "spam spam spam spam spam spam spam spam spam spam"),
        (2, ""),
        (3, "buy now buy now buy now buy now buy now buy now"),
        (4, "$$$ !!! ### @@@ %%% ^^^ &&& *** ((( )))"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.repetition_signals(df).collect()}

    # clean doc: all-distinct tokens, no repeated n-grams, keeps
    assert out[0].unique_token_frac == 1.0
    assert out[0].dup_2gram_frac == 0.0
    assert out[0].repetition_keep is True

    # one-token spam: top token owns the doc, n-grams all duplicate
    assert out[1].unique_token_frac == pytest.approx(0.1)
    assert out[1].top_token_frac == 1.0
    assert out[1].dup_2gram_frac == pytest.approx(1 - 1 / 9)
    assert out[1].repetition_keep is False

    # empty doc: guarded zeros, no nulls/NaNs; fails the unique-frac gate
    assert out[2].n_tokens == 0
    assert out[2].unique_token_frac == 0.0
    assert out[2].symbol_ratio == 0.0
    assert out[2].repetition_keep is False

    # phrase spam: every token appears 6x, every 2-gram repeats
    assert out[3].top_token_frac == pytest.approx(0.5)
    assert out[3].dup_2gram_frac > 0.8
    assert out[3].repetition_keep is False

    # symbol soup: symbol_ratio ~ 30/39, fails the C4-ish symbol gate
    assert out[4].symbol_ratio > 0.5
    assert out[4].repetition_keep is False


def test_corpus_dup_ngrams_scope_and_edges(spark):
    """Corpus-scope semantics: a gram shared ACROSS docs counts, a gram
    repeated only WITHIN one doc does not (per-doc distinct), short and
    empty docs report zero grams with frac 0.0."""
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.text import (
        corpus_dup_ngrams,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),          # grams: abc, bcd
            (2, "a b c x"),          # grams: abc (shared w/ 1), bcx
            (3, "q q q q q"),        # within-doc repeat only: qqq distinct once
            (4, "x y"),              # < 3 tokens -> no grams
            (5, ""),                 # empty
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in corpus_dup_ngrams(docs).collect()}
    assert len(out) == 5  # every doc present, incl. gram-less ones
    assert out[1].n_grams == 2 and out[1].n_shared_grams == 1
    assert out[1].dup_gram_frac == 0.5
    assert out[2].n_shared_grams == 1
    assert out[3].n_grams == 1 and out[3].n_shared_grams == 0  # no cross-doc
    assert out[4].n_grams == 0 and out[4].dup_gram_frac == 0.0
    assert out[5].n_grams == 0 and out[5].dup_gram_frac == 0.0


def test_dedup_spans_removes_cross_doc_boilerplate(spark):
    """The CCNet rule: a repeated span keeps only its first (doc_id,
    span_idx) occurrence; documents rebuild from surviving spans in
    original order."""
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.text import (
        dedup_spans,
    )

    boiler = "b1 b2 b3"  # one span at span_words=3
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} u1 u2 u3"),           # first occurrence -> keeps all
            (2, f"{boiler} v1 v2 v3"),           # later occurrence -> drops span 0
            (3, f"w1 w2 w3 {boiler}"),           # drops span 1, keeps span 0
            (4, boiler),                          # everything drops -> empty text
            (5, "solo"),                          # short doc, 1 partial span
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_spans(docs, span_words=3).collect()}
    assert len(out) == 5
    assert out[1].clean_text == f"{boiler} u1 u2 u3" and out[1].n_dropped == 0
    assert out[2].clean_text == "v1 v2 v3" and out[2].n_dropped == 1
    assert out[3].clean_text == "w1 w2 w3" and out[3].n_dropped == 1
    assert out[4].clean_text == "" and out[4].n_dropped == 1
    assert out[5].clean_text == "solo" and out[5].n_spans == 1
    # span accounting: n_spans counts pre-drop spans
    assert out[1].n_spans == 2 and out[2].n_spans == 2


def test_tfidf_top_terms_ranks_rare_terms_higher(spark):
    from group_2_shopware_enterprise_data_engineering_project_spark.operators.text import (
        tfidf_top_terms,
    )

    docs = spark.createDataFrame(
        [
            (1, "common rare1 common common"),  # tf(common)=3 but df=3
            (2, "common rare2"),
            (3, "common zzz zzz"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, {})[r.rank] = r
    # doc 1: tf=3 * 4/4 = 3.0 for 'common' vs tf=1 * 4/2 = 2.0 for rare1
    assert by_doc[1][1].term == "common" and by_doc[1][1].weight == 3.0
    assert by_doc[1][2].term == "rare1" and by_doc[1][2].weight == 2.0
    # doc 3: doc-unique repeated term dominates the ubiquitous one
    assert by_doc[3][1].term == "zzz"
    assert by_doc[3][1].weight == 2 * 4.0 / 2.0
    assert all(max(d) <= 2 for d in by_doc.values())  # k enforced


def test_compression_ratio_separates_repetitive_from_prose(spark):
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
        text as text_ops,
    )

    docs = spark.createDataFrame(
        [
            (1, "spam " * 500),  # highly repetitive
            (2, "The quarterly results show a moderate improvement in "
                "customer retention across most regions, though supply "
                "chain costs continue to vary widely by category."),
            (3, ""),  # empty must not divide by zero
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text_ops.compression_ratio(docs).collect()}
    assert out[1].ratio < 0.1          # boilerplate crushes
    assert out[2].ratio > 0.5          # prose doesn't
    assert out[3].n_bytes == 0         # empty handled
    # deterministic across runs
    again = {r.doc_id: r.ratio for r in text_ops.compression_ratio(docs).collect()}
    assert again == {k: v.ratio for k, v in out.items()}


def test_bpe_train_matches_reference_algorithm(spark):
    """Distributed BPE == the classic single-machine algorithm
    (Sennrich et al.), implemented independently here as the oracle."""
    import collections

    from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
        bpe,
    )

    corpus = ["low low low lower lower newest newest newest newest widest"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )

    # reference implementation (pure python)
    def ref_bpe(text, k):
        words = collections.Counter(text.split())
        vocab = {w: list(w) + [bpe.END] for w in words}
        merges = []
        for _ in range(k):
            pairs = collections.Counter()
            for w, c in words.items():
                syms = vocab[w]
                for x, y in zip(syms, syms[1:]):
                    pairs[(x, y)] += c
            if not pairs:
                break
            # max count, ties lexicographic
            (a, b), n = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            if n < 2:
                break
            merges.append((a, b, n))
            for w in vocab:
                syms, out, i = vocab[w], [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                vocab[w] = out
        return merges

    expect = ref_bpe(corpus[0], 6)
    got = bpe.bpe_train(docs, n_merges=6)
    assert got == expect
    assert len(got) == 6


def test_bpe_encode_compresses_with_more_merges(spark):
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
        bpe,
    )

    docs = spark.createDataFrame(
        [(1, "banana banana bandana")], "doc_id long, text string"
    )
    merges = bpe.bpe_train(docs, n_merges=5)
    n0 = bpe.bpe_encode(docs, []).collect()[0].n_tokens
    n5 = bpe.bpe_encode(docs, merges).collect()[0].n_tokens
    assert n5 < n0  # merges shorten the token stream
    out = bpe.bpe_encode(docs, merges).collect()[0]
    # round-trip sanity: concatenated tokens minus markers == the text
    flat = out.tokens.replace(",", "").replace(bpe.END, " ").strip()
    assert flat == "banana banana bandana"


def test_candidate_pairs_bucket_cap_lossless_and_bounded(spark):
    """Adversarial boilerplate corpus: N identical docs collapse into
    ONE band bucket. The salt-split cap must (a) return exactly the
    same candidate-pair set as the uncapped join, and (b) bound the
    per-task pair volume so no reducer sees the O(N^2) bucket."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    n, cap = 60, 10
    docs = spark.createDataFrame(
        [(i, "identical boilerplate body repeated across the corpus shard")
         for i in range(n)],
        "doc_id long, text string",
    )
    sigs = minhash.signatures(docs)
    buckets = minhash.band_buckets(sigs)

    capped = {
        (r.doc_a, r.doc_b)
        for r in minhash.candidate_pairs(buckets, bucket_cap=cap).collect()
    }
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in minhash.candidate_pairs(buckets, bucket_cap=10**9).collect()
    }
    # lossless: every same-bucket pair survives, exactly once
    assert capped == uncapped
    assert len(capped) == n * (n - 1) // 2

    # bounded: with s = ceil(n/cap) groups, no (band, i, j) task's two
    # sides exceed a small multiple of the cap (hash-mod slop), so the
    # worst task materializes ~cap^2 pairs, not n^2
    tasks = (
        buckets.withColumn(
            "_s",
            F.ceil(
                F.count(F.lit(1)).over(Window.partitionBy("band_idx", "band_hash"))
                / F.lit(cap)
            ).cast("int"),
        )
        .withColumn("_g", F.pmod(F.xxhash64("doc_id"), F.col("_s")).cast("int"))
        .groupBy("band_idx", "band_hash", "_g")
        .count()
    )
    max_group = tasks.agg(F.max("count")).collect()[0][0]
    assert max_group <= 3 * cap  # each join side per task is O(cap)


def test_pii_redact_counts_and_cascade(spark):
    """Count-then-replace cascade: emails consume their digits before
    the phone/IP scans; replacement tokens never re-match."""
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import text

    df = spark.createDataFrame(
        [
            (0, "mail a.b+c@ex-ample.org and 555-123-4567 from 10.0.0.7 done"),
            (1, "no pii here at all"),
            (2, "two mails x@y.io z@w.co one ip 192.168.1.1"),
            (3, "digits 123-456-7890@host.com are an email, not a phone"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.pii_redact(df).collect()}
    assert (out[0].n_email, out[0].n_phone, out[0].n_ipv4) == (1, 1, 1)
    assert out[0].redacted == "mail <EMAIL> and <PHONE> from <IP> done"
    assert (out[1].n_email, out[1].n_phone, out[1].n_ipv4) == (0, 0, 0)
    assert out[1].redacted == "no pii here at all"
    assert (out[2].n_email, out[2].n_ipv4) == (2, 1)
    # the email regex consumes the phone-shaped local part first
    assert out[3].n_email == 1 and out[3].n_phone == 0
    assert "<EMAIL>" in out[3].redacted and "<PHONE>" not in out[3].redacted


def test_strip_markup_removes_script_content_and_tags(spark):
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import text

    df = spark.createDataFrame(
        [
            (0, '<html><body><h1>T</h1><p>hello <b>bold</b> world</p>'
                '<script type="x">var leak = "SECRET";</script></body></html>'),
            (1, "plain text no markup"),
            (2, "<style>.a{color:red}</style><p>kept</p>"),
        ],
        "doc_id long, html string",
    )
    out = {r.doc_id: r for r in text.strip_markup(df).collect()}
    assert out[0].clean_text == "T hello bold world"
    assert "SECRET" not in out[0].clean_text  # script CONTENT gone
    # html body h1 /h1 p b /b /p script /script /body /html = 12
    assert out[0].n_tags == 12
    assert out[1].clean_text == "plain text no markup" and out[1].n_tags == 0
    assert out[2].clean_text == "kept"  # style content gone too


def test_url_stats_canonicalizes_case_port_fragment(spark):
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import text

    df = spark.createDataFrame(
        [
            (0, "x HTTPS://A.Example.COM:443/p/1#frag y"),
            (1, "x https://a.example.com/p/1 y"),  # same URL canonicalized
            (2, "http://b.example.org:80/q and no more"),
            (3, "no urls"),
        ],
        "doc_id long, text string",
    )
    out = {r.domain: (r.n_urls, r.n_docs) for r in text.url_stats(df).collect()}
    # case, default port, and fragment all canonicalize away
    assert out == {"a.example.com": (2, 2), "b.example.org": (1, 1)}


def test_url_canonicalize_port_strip_is_scheme_aware(spark):
    from pyspark.sql import functions as F

    from group_2_shopware_enterprise_data_engineering_project_spark.operators import text

    df = spark.createDataFrame(
        [
            # :443 on http is NOT the default port — a different resource
            (0, "http://H.Example.com:443/x"),
            # default port with NO trailing path still strips
            (1, "https://h.example.com:443"),
            (2, "http://h.example.com:80"),
            # non-default ports survive verbatim
            (3, "https://h.example.com:8443/x"),
            (4, "HTTPS://h.example.com:443/p/1#frag"),
            # default port followed by a QUERY, no path: '?' must
            # terminate the authority or the port capture swallows the
            # query and the default port survives un-stripped
            (5, "https://h.example.com:443?a=1"),
            (6, "http://h.example.com:8080?a=1"),
            (7, "https://h.example.com?a=1"),
        ],
        "doc_id long, url string",
    )
    got = {
        r.doc_id: r.c
        for r in df.select(
            "doc_id", text.canonicalize_url(F.col("url")).alias("c")
        ).collect()
    }
    assert got == {
        0: "http://h.example.com:443/x",
        1: "https://h.example.com",
        2: "http://h.example.com",
        3: "https://h.example.com:8443/x",
        4: "https://h.example.com/p/1",
        5: "https://h.example.com?a=1",
        6: "http://h.example.com:8080?a=1",
        7: "https://h.example.com?a=1",
    }


def test_minhash_signature_matches_documented_family(spark):
    """Regression for the F.transform arity trap: a two-parameter
    lambda receives the ARRAY INDEX as its second argument, silently
    replacing the permutation prefix with a plan-dependent column name
    (an unstable hash family). The signature must be the module
    docstring's md5('i:' || shingle) — the family every oracle
    mirrors — and identical however the input frame was built."""
    import hashlib

    from pyspark.sql import functions as F

    from group_2_shopware_enterprise_data_engineering_project_spark.operators import minhash

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    got = list(minhash.signatures(df).collect()[0].signature)
    shingles = ["a b c", "b c d", "c d e"]
    want = [
        min(hashlib.md5(f"{i}:{s}".encode()).hexdigest() for s in shingles)
        for i in range(minhash.NUM_PERM)
    ]
    assert got == want
    # and stable across plan shapes (the bug made these differ)
    again = list(
        minhash.signatures(df.filter(F.col("doc_id") == 1)).collect()[0].signature
    )
    assert again == got


def test_bigram_coverage_counts_and_short_docs(spark):
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import text

    df = spark.createDataFrame(
        [
            (0, "a b c"),      # bigrams: "a b", "b c"
            (1, "a b d"),      # "a b", "b d"
            (2, "a b"),        # "a b"
            (3, "x"),          # <2 words -> no bigrams
            (4, None),         # NULL text -> no bigrams
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_bigrams, r.n_covered, r.coverage)
        for r in text.bigram_coverage(df, min_df=3).collect()
    }
    # "a b" df=3 (covered); "b c"/"b d" df=1 (not)
    assert out[0] == (2, 1, 0.5)
    assert out[1] == (2, 1, 0.5)
    assert out[2] == (1, 1, 1.0)
    assert out[3] == (0, 0, None)
    assert out[4] == (0, 0, None)


def test_c4_line_filter_rules(spark):
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import text

    page = "\n".join(
        [
            "This line is long enough and ends with a period.",  # kept
            "Ends with a question mark does this line?",         # kept
            "no terminal punctuation here despite being long",   # dropped: punct
            "Too short.",                                        # dropped: <5 words
            "Please accept our Cookie banner to continue now.",  # dropped: blocklist
            "Check the PRIVACY POLICY for details right here.",  # dropped: blocklist (case-insensitive)
        ]
    )
    df = spark.createDataFrame([(0, page), (1, "Short.")], "doc_id long, text string")
    out = {r.doc_id: r for r in text.c4_line_filter(df).collect()}
    assert (out[0].n_lines, out[0].n_kept, out[0].page_kept) == (6, 2, 1)
    assert (out[1].n_lines, out[1].n_kept, out[1].page_kept) == (1, 0, 0)
    import hashlib

    kept = (
        "This line is long enough and ends with a period.\n"
        "Ends with a question mark does this line?"
    )
    assert out[0].kept_digest == hashlib.md5(kept.encode()).hexdigest()
    assert out[0].kept_chars == len(kept)


def test_source_overlap_exact_jaccard(spark):
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import text

    df = spark.createDataFrame(
        [
            (0, "a b c", "s1"),     # bigrams {a b, b c}
            (1, "a b d", "s2"),     # {a b, b d}
            (2, "x y", "s3"),       # {x y} — disjoint from s1/s2
        ],
        "doc_id long, text string, source string",
    )
    out = {
        (r.src_a, r.src_b): (r.n_a, r.n_b, r.n_common, r.jaccard)
        for r in text.source_overlap(df).collect()
    }
    # only pairs with common bigrams appear (inner join semantics)
    assert out == {("s1", "s2"): (2, 2, 1, 1 / 3)}


def test_script_mix_counts_and_dominance(spark):
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import text

    df = spark.createDataFrame(
        [
            (0, "hello world"),
            (1, "汉字" * 5),
            (2, "привет hi"),        # cyrillic 6 > latin 2
            (3, "!!! 123"),          # no script chars
            (4, "ab 汉字"),           # tie 2-2 -> first-in-order: latin
            (5, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.script_mix(df).collect()}
    assert (out[0].n_latin, out[0].dominant_script) == (10, "latin")
    assert (out[1].n_cjk, out[1].dominant_script) == (10, "cjk")
    assert (out[2].n_cyrillic, out[2].dominant_script) == (6, "cyrillic")
    assert out[3].dominant_script == "none"
    assert (out[4].n_latin, out[4].n_cjk, out[4].dominant_script) == (2, 2, "latin")
    assert out[5].dominant_script == "none"


def test_leakage_free_split_never_splits_clusters(spark):
    """m48's structural guarantee: members of one near-dup cluster all
    receive the same split, for any cluster shape."""
    from pyspark.sql import functions as F

    from group_2_shopware_enterprise_data_engineering_project_spark.operators import prep

    clusters = spark.createDataFrame(
        [(i, i % 7) for i in range(100)], "doc_id long, cluster_rep long"
    )
    out = prep.split_assign(clusters, "cluster_rep").select(
        "doc_id", "cluster_rep", "split"
    )
    per_cluster = {
        r.cluster_rep: r.n
        for r in out.groupBy("cluster_rep")
        .agg(F.countDistinct("split").alias("n"))
        .collect()
    }
    assert all(n == 1 for n in per_cluster.values())


def test_bigram_repetition_gate_toy_corpus(spark):
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import text

    df = spark.createDataFrame(
        [
            (0, "a b a b a b"),  # 6 words/2 distinct; bigrams: ab x3, ba x2
            (1, "x y z"),        # all distinct
            (2, "w"),            # no bigrams
            (3, None),           # null text -> empty
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.bigram_repetition_gate(df).collect()}
    assert (out[0].n_words, out[0].n_distinct_words) == (6, 2)
    assert (out[0].n_bigrams, out[0].n_distinct_bigrams, out[0].top_bigram_n) == (5, 2, 3)
    assert out[0].rep_flag == 0  # only 5 bigrams, below the >=10 floor
    assert (out[1].n_bigrams, out[1].top_bigram_n, out[1].rep_flag) == (2, 1, 0)
    assert (out[2].n_words, out[2].n_bigrams) == (1, 0)
    assert (out[3].n_words, out[3].n_bigrams, out[3].rep_flag) == (0, 0, 0)
    # a long degenerate loop fires the flag: 11 bigrams, all the same
    loop = spark.createDataFrame([(9, "q " * 12)], "doc_id long, text string")
    r = text.bigram_repetition_gate(loop).collect()[0]
    assert (r.n_bigrams, r.top_bigram_n, r.rep_flag) == (11, 11, 1)


def test_lm_oov_score_reference_gating(spark):
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import text

    ref = spark.createDataFrame(
        # "a b" appears twice (known at min_ref_count=2); "b c" once (unknown)
        [(0, "a b c"), (2, "a b")],
        "doc_id long, text string",
    )
    score = spark.createDataFrame(
        [
            (1, "a b c"),   # bigrams: "a b" hit, "b c" oov -> 50% oov
            (3, "a b a b"), # "a b" x2 hit, "b a" oov -> 33% oov
            (5, "z"),       # no bigrams -> keep (0 <= 0)
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in text.lm_oov_score(
            score, ref, min_ref_count=2, max_oov_pct=40
        ).collect()
    }
    assert (out[1].n_bigrams, out[1].n_hit, out[1].n_oov, out[1].keep_flag) == (2, 1, 1, 0)
    assert (out[3].n_bigrams, out[3].n_hit, out[3].n_oov, out[3].keep_flag) == (3, 2, 1, 1)
    assert (out[5].n_bigrams, out[5].keep_flag) == (0, 1)


def test_vocab_coverage_exact_curve(spark):
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import text

    df = spark.createDataFrame(
        # counts: a=4, b=2, c=1 -> total 7; curve k=1: 4, k=2: 6, k=3: 7
        [(0, "a a b"), (1, "a b c a")],
        "doc_id long, text string",
    )
    out = {r.k: (r.covered, r.total_tokens)
           for r in text.vocab_coverage(df, ks=(1, 2, 3)).collect()}
    assert out == {1: (4, 7), 2: (6, 7), 3: (7, 7)}


def test_boilerplate_lines_learned_threshold(spark):
    import hashlib

    from group_2_shopware_enterprise_data_engineering_project_spark.operators import text

    df = spark.createDataFrame(
        [
            # s1: footer on all 3 docs (100% >= 50% -> dropped);
            # "promo" on 1/3 (33% < 50% -> kept); unique body kept
            (0, "body0\nfooter s1\npromo", "s1"),
            (1, "body1\nfooter s1", "s1"),
            (2, "body2\nfooter s1", "s1"),
            # s2: same footer TEXT but a 1-doc source — below the
            # 2-document floor, so NOTHING is learned there (an unguarded
            # learner would delete the whole doc at 100% share); also
            # proves learning is per-source, not global
            (3, "body3\nfooter s1", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r.doc_id: r for r in text.boilerplate_lines(df, min_share_pct=50).collect()}
    assert (out[0].n_lines, out[0].n_boiler, out[0].n_kept) == (3, 1, 2)
    assert out[0].kept_digest == hashlib.md5(b"body0\npromo").hexdigest()
    assert (out[1].n_boiler, out[1].n_kept) == (1, 1)
    assert (out[3].n_boiler, out[3].n_kept) == (0, 2)


def test_minhash_calibration_bounds_and_exact_dup(spark):
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import minhash

    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),  # exact dup
            (2, "completely different text with other words entirely here"),
        ],
        "doc_id long, text string",
    )
    rows = minhash.calibration(df).collect()
    by_pair = {(r.doc_a, r.doc_b): r for r in rows}
    assert (0, 1) in by_pair  # exact dups must be LSH candidates
    r = by_pair[(0, 1)]
    assert r.n_agree == minhash.NUM_PERM  # identical signatures
    assert r.inter_n == r.union_n  # identical shingle sets
    for r in rows:
        assert 0 <= r.n_agree <= minhash.NUM_PERM
        assert 0 <= r.inter_n <= r.union_n


def test_rake_keywords_toy_corpus(spark):
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import text

    # stopwords: a, value, row, table. Runs: doc0 -> ["deep learning"],
    # ["deep"]; doc1 -> ["deep learning"], ["fast"]
    df = spark.createDataFrame(
        [
            (0, "deep learning a deep"),
            (1, "deep learning value fast"),
        ],
        "doc_id long, text string",
    )
    out = {r.phrase: r for r in text.rake_keywords(df, k=10).collect()}
    # word stats: deep: freq 3 (two phrases of len2, one of len1),
    # degree 2+2+1=5; learning: freq 2, degree 4; fast: freq 1, degree 1
    r = out["deep learning"]
    assert (r.n_occurrences, r.sum_degree, r.sum_freq) == (2, 9, 5)
    assert (out["deep"].sum_degree, out["deep"].sum_freq) == (5, 3)
    assert (out["fast"].sum_degree, out["fast"].sum_freq) == (1, 1)
    # ratio-of-sums ordering: "deep learning" 1.8 > "deep" 1.667 > "fast" 1.0
    assert [p for p, v in sorted(out.items(), key=lambda kv: kv[1].rank)] == [
        "deep learning", "deep", "fast",
    ]


def test_rake_classic_diverges_from_ratio_of_sums(spark):
    """classic=True is textbook RAKE (sum of per-word degree/freq
    ratios); the default is the ratio of sums — a freq-WEIGHTED mean
    of the same ratios, always <= the classic sum and capable of
    FLIPPING rankings. This corpus pins one flip. Stopword: 'a'."""
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import text

    # doc0 runs: [v],[v],[v],[v w],[w],[w]
    #   v: freq 4, degree 1+1+1+2=5, ratio 1.25
    #   w: freq 3, degree 2+1+1=4, ratio 4/3
    # doc1 runs: [u p q],[u]
    #   u: freq 2, degree 3+1=4, ratio 2.0 (p, q: freq 1, degree 3)
    df = spark.createDataFrame(
        [
            (0, "v a v a v a v w a w a w"),
            (1, "u p q a u"),
        ],
        "doc_id long, text string",
    )
    classic = {
        r.phrase: r for r in text.rake_keywords(df, k=10, classic=True).collect()
    }
    default = {r.phrase: r for r in text.rake_keywords(df, k=10).collect()}
    # classic: score("v w") = 1.25 + 4/3 = 2.5833... > score("u") = 2.0
    assert classic["v w"].score == 1.25 + 4 / 3
    assert classic["u"].score == 2.0
    assert classic["v w"].rank < classic["u"].rank
    # default: score("v w") = (5+4)/(4+3) = 9/7 ~ 1.286 < score("u") = 2.0
    assert default["v w"].score == 9 / 7
    assert default["u"].rank < default["v w"].rank
    # single-word phrases agree between variants by construction
    assert classic["u"].score == default["u"].score


def test_incremental_dedup_releases_all_caches(spark, docs):
    """r12 optimization: incremental_dedup persists the derived history
    index (the bipartite salt's sizing agg and task frame would
    otherwise each re-run the history's full md5 signature pipeline —
    measured ~2.4x on d7) plus the candidate-history shingle frame.
    Pin the cache-release discipline: every persist taken inside the
    call is released by the time it returns. The only storage that may
    outlive the call is the two EAGER localCheckpoint pair frames
    (candidate_pairs' cands and the returned output — narrow id/score
    rows, released when the frames are garbage collected), exactly as
    in minhash_lsh_dedup; the five corpus-derived caches (new shingle
    sets, new buckets, history index, cross candidates, candidate
    shingles) must all be gone."""
    before = {k for k in spark.sparkContext._jsc.getPersistentRDDs().keys()}
    out = minhash.incremental_dedup(
        docs.filter("doc_id % 2 = 1"),
        docs.filter("doc_id % 2 = 0"),
        threshold=0.4,
    )
    after = {k for k in spark.sparkContext._jsc.getPersistentRDDs().keys()}
    leaked = after - before
    assert len(leaked) <= 2, (
        f"incremental_dedup left {len(leaked)} persisted RDDs; only the "
        f"two eager pair checkpoints may survive the call"
    )
    # result still materializes after release (eager checkpoint)
    assert out.count() >= 1  # doc 3 duplicates doc 0 across the split


def test_merge_fold_matches_sequential_scan(spark):
    """The native `_merge_fold` must equal the reference Python scan
    `_merge_series` on every adversarial shape: overlap runs with
    a == b, merged-token-equals-prefix chains (a, a+b), empty arrays,
    and single symbols."""
    import pandas as pd

    from pyspark.sql import functions as F

    from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
        bpe,
    )

    cases = [
        ["x", "x", "x"],          # odd overlap run, a == b
        ["x", "x", "x", "x"],     # even overlap run
        ["a", "b", "b"],          # merged token then stray right symbol
        ["a", "a", "b"],          # left run into a merge
        ["a", "ab"],              # pair (a, ab): merged token "aab"
        ["a", "b", "a", "b"],     # two disjoint merges
        ["b", "a"],               # reversed — no merge
        ["a"],                    # single symbol
        [],                       # empty
        ["q", "a", "b", "q", "a"],  # merge mid-array, dangling left
    ]
    rules = [("x", "x"), ("a", "b"), ("a", "ab"), ("a", "a")]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i long, symbols array<string>"
    )
    for a, b in rules:
        got = {
            r["i"]: r["out"]
            for r in df.select(
                "i", bpe._merge_fold(F.col("symbols"), a, b).alias("out")
            ).collect()
        }
        want = bpe._merge_series(pd.Series(cases), a, b)
        for i, c in enumerate(cases):
            assert got[i] == want[i], (a, b, c, got[i], want[i])


def test_bpe_encode_memo_identical_to_direct(spark):
    """The per-task distinct-word memo must be invisible: encoding a
    corpus with heavy word repetition equals encoding each occurrence
    independently (memo hits and misses produce the same tokens)."""
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
        bpe,
    )

    docs = spark.createDataFrame(
        [(0, "low low lower"), (1, "lower low"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    merges = bpe.bpe_train(docs, n_merges=3)
    rows = {
        r["doc_id"]: (r["n_tokens"], r["tokens"])
        for r in bpe.bpe_encode(docs, merges).collect()
    }

    def direct(text):
        toks = []
        for w in [w for w in (text or "").split(" ") if w]:
            syms = list(w) + [bpe.END]
            for a, b, _ in merges:
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            toks.extend(syms)
        return len(toks), ",".join(toks)

    for did, text in [(0, "low low lower"), (1, "lower low"), (2, ""), (3, None)]:
        assert rows[did] == direct(text)


def test_winnow_fingerprints_shifted_min_matches_definition(spark):
    """winnow minima must equal the definitional per-window
    min(hash[i..i+w-1]) — incl. docs with fewer shingles than the
    window (empty fingerprint list) and exactly one window."""
    import hashlib

    from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
        text as text_ops,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h"),   # several windows
            (1, "a b c"),             # one shingle -> fewer than window
            (2, ""),                  # no tokens
            (3, "a b c d e f"),       # exactly one window (4 shingles)
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["fingerprints"]
        for r in text_ops.winnow_fingerprints(docs, k=3, window=4).collect()
    }

    def ref(text, k=3, window=4):
        toks = [t for t in text.lower().split() if t]
        sh = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        hs = [hashlib.md5(s.encode()).hexdigest() for s in sh]
        if len(hs) < window:
            return []
        mins = [min(hs[i : i + window]) for i in range(len(hs) - window + 1)]
        return sorted(set(mins))

    # tokens() lowercases/splits; mirror just enough for these inputs
    for did, t in [(0, "a b c d e f g h"), (1, "a b c"), (2, ""), (3, "a b c d e f")]:
        assert got[did] == ref(t), (did, got[did], ref(t))
