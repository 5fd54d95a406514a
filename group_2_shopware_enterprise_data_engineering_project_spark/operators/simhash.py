"""SimHash near-duplicate detection (Charikar 2002, the Google-crawl
near-dup scheme from Manku et al., WWW 2007).

The 64-bit signature is computed in a vectorized Pandas UDF (Arrow
batches — the sanctioned slow path; per-token md5 bit-voting has no
native Spark expression). Everything AFTER signature computation is
native DataFrame ops:

- near-pair candidate generation is the shared banded-Hamming join
  (`saltjoin.banded_hamming_pairs`, also behind media pHash near-dup):
  the 64-bit signature splits into 4 16-bit bands and rows self-join
  on band equality through the salted pair join, which caps a hot
  band's fan-out — by pigeonhole, any pair with Hamming distance <= 3
  shares at least one intact band, so recall is 100% at the d<=3
  design point (same rotate-and-block idea as Manku et al.).
- exact Hamming verify = bit_count(a XOR b), a codegen'd long op.

Scale: signatures are 8 bytes/doc; the band join shuffles (16-bit key,
id, signature) rows. Deterministic md5 hashing -> stable across runs/engines.
Token hashes are the LITTLE-endian uint64 of the first 8 md5 digest
bytes — exactly DuckDB's ``md5_number_upper`` — so the whole pipeline
(bit-voting signature, band split, Hamming verify) mirrors into the
DuckDB oracle bit-for-bit (see queries/text_pipeline.py SIMHASH_ORACLE).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from group_2_shopware_enterprise_data_engineering_project_spark.functions.partitioning import spread
from group_2_shopware_enterprise_data_engineering_project_spark.operators.saltjoin import (
    banded_hamming_pairs,
)
from pyspark.sql import functions as F
from pyspark.sql import types as T

_BIT_IDX = np.arange(64, dtype=np.uint64)


def _simhash64(text: str) -> int:
    """Vectorized bit-voting: token hashes -> (n_tok, 64) bit matrix ->
    per-bit vote sum, all in numpy (the per-token-per-bit Python loop
    was ~50x slower)."""
    toks = [t for t in (text or "").split(" ") if t]
    if not toks:
        return 0
    hashes = np.frombuffer(
        b"".join(hashlib.md5(t.encode("utf-8")).digest()[:8] for t in toks),
        dtype="<u8",  # little-endian == DuckDB md5_number_upper (oracle parity)
    ).astype(np.uint64)
    bits = (hashes[:, None] >> _BIT_IDX) & np.uint64(1)
    votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
    sig = int(((votes > 0).astype(np.uint64) << _BIT_IDX).sum())
    # two's-complement into signed int64 for Spark LongType
    return sig - (1 << 64) if sig >= (1 << 63) else sig


@F.pandas_udf(T.LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    return texts.map(_simhash64)


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    docs = spread(docs)
    return docs.select(F.col(id_col).alias("doc_id"), simhash_udf(F.col(text_col)).alias("simhash"))


def simhash_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    # banded_hamming_pairs persists the signatures (the Pandas UDF runs
    # once) and returns its pairs eagerly checkpointed.
    pairs = banded_hamming_pairs(
        simhash_signatures(docs, text_col, id_col), "doc_id", "simhash", 64, 4, max_hamming
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming"
    )
