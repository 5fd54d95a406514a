"""Multimodal (image/audio/video) column operators.

Design for a 100 TB training-data pipeline: media are opaque ``binary``
columns with a typed metadata struct alongside (width/height/duration/
mime), so relational ops (filter, join, partition, dedup-by-hash) run
on metadata WITHOUT touching payload bytes, and payload-touching stages
are Arrow-batched ``mapInPandas`` transforms that stream batches
through Python workers — never materializing a partition's payloads at
once.

The actual codecs (PIL/ffmpeg/librosa) are NOT in this environment, so
the decode kernel is pluggable: ``decode_media(..., codec=fn)`` takes
any per-batch decode function; the default raises NotImplementedError
(clearly-marked STUB), and ``deterministic_fake_codec`` provides a
reproducible stand-in (md5-derived "pixels") so the Spark-side plumbing
— schema, batching, partitioning, UDF signatures — is real and tested.

Frame sampling and hash-dedup need no Python at all: they are native
column expressions over metadata/bytes (sequence+explode, md5) —
payloads stay JVM-side.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from group_2_shopware_enterprise_data_engineering_project_spark.functions.partitioning import (
    spread,
)
from group_2_shopware_enterprise_data_engineering_project_spark.operators.saltjoin import (
    banded_hamming_pairs,
)

MEDIA_META = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", MEDIA_META),
    ]
)

FEATURE_DIM = 8

DECODED_FIELDS = [
    T.StructField("decoded_ok", T.BooleanType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("features", T.ArrayType(T.DoubleType())),
]


def media_fingerprint(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Exact media dedup key: md5 of the raw bytes — native, payloads
    never leave the JVM. Join/groupBy on the 16-byte digest, not the
    blob."""
    return df.withColumn("fingerprint", F.md5(F.col(payload_col)))


def frame_sample_plan(
    df: DataFrame,
    every_ms: int = 1000,
    id_col: str = "media_id",
    duration_col: str = "meta.duration_ms",
) -> DataFrame:
    """Video frame-sampling *plan*: one output row per frame to decode
    (media_id, frame_idx, frame_ms). Pure metadata math — sequence +
    explode, no payload access — so planning 10^9 frames over 100 TB of
    video is a cheap narrow op; the expensive decode then happens only
    on the planned rows."""
    dur = F.col(duration_col)
    n_frames = F.when(dur > 0, F.floor((dur - 1) / every_ms) + 1).otherwise(F.lit(0))
    return (
        # Filter BEFORE explode: sequence(0, -1) would produce a
        # DESCENDING [0, -1] sequence, not an empty one.
        df.select(F.col(id_col).alias("media_id"), n_frames.cast("long").alias("_n"))
        .filter(F.col("_n") >= 1)
        .select(
            "media_id",
            F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("frame_idx"),
        )
        .withColumn("frame_ms", F.col("frame_idx") * every_ms)
    )


def stub_codec(batch: pd.DataFrame) -> pd.DataFrame:  # pragma: no cover
    """STUB — real image/audio decode needs PIL/ffmpeg, not present in
    this environment. Swap in a real codec with the same signature:
    pd.DataFrame[payload: bytes] -> pd.DataFrame[decoded_ok, n_bytes,
    features]."""
    raise NotImplementedError(
        "media decode requires an image/audio codec library; "
        "pass codec=deterministic_fake_codec for tests"
    )


def deterministic_fake_codec(batch: pd.DataFrame) -> pd.DataFrame:
    """The test stand-in codec: 'decodes' payload bytes into a fixed-dim
    feature vector, exercising the exact Arrow batch path a real codec
    would use.

    Batch-vectorized: ONE md5 digest per payload, then the feature
    matrix is a single numpy slice over the concatenated digests
    (feature i = digest byte i / 255). Reproducible in ANSI SQL —
    feature i = substr(md5(payload), 2i+1, 2) as a hex byte — so the
    UDF plumbing stays oracle-checkable.
    """
    payloads = batch["payload"]
    ok = payloads.notna()
    features = pd.Series([[]] * len(payloads), index=payloads.index, dtype=object)
    n_bytes = pd.Series(0, index=payloads.index, dtype="int64")
    vals = payloads[ok]
    if len(vals):
        n_bytes[ok] = vals.map(len)
        digest_mat = np.frombuffer(
            b"".join(hashlib.md5(p).digest() for p in vals), dtype=np.uint8
        ).reshape(-1, 16)
        features[ok] = pd.Series(
            (digest_mat[:, :FEATURE_DIM] / 255.0).tolist(),
            index=vals.index,
            dtype=object,
        )
    return pd.DataFrame({"decoded_ok": ok, "n_bytes": n_bytes, "features": features})


def decode_media(
    df: DataFrame,
    codec: Callable[[pd.DataFrame], pd.DataFrame] = stub_codec,
    keep_cols: tuple[str, ...] = ("media_id", "kind"),
) -> DataFrame:
    """Decode/feature-extract payloads via Arrow-batched mapInPandas.

    Batches stream through the codec one Arrow batch at a time —
    payload bytes exist in Python only for the current batch. Input is
    spread across cores first (decode is the compute-bound stage).
    """
    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name in keep_cols] + DECODED_FIELDS
    )
    keep = [c for c in keep_cols if c in df.columns]

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            decoded = codec(batch[["payload"]])
            yield pd.concat(
                [batch[keep].reset_index(drop=True), decoded.reset_index(drop=True)],
                axis=1,
            )

    return spread(df).mapInPandas(_decode, schema=out_schema)


def resize_plan(
    df: DataFrame, max_px: int = 512
) -> DataFrame:
    """Resize *metadata* transform: compute target (width, height)
    preserving aspect ratio, capped at max_px — native math on the meta
    struct. The pixel resample itself belongs in a codec kernel
    (decode_media) once an image library is present."""
    w, h = F.col("meta.width").cast("double"), F.col("meta.height").cast("double")
    long_side = F.greatest(w, h)
    # ANSI mode: guard the 0x0 degenerate case instead of dividing by 0
    scale = F.when(
        long_side > 0, F.least(F.lit(1.0), F.lit(max_px) / long_side)
    ).otherwise(F.lit(1.0))
    return df.withColumn(
        "target_width", F.floor(w * scale).cast("int")
    ).withColumn("target_height", F.floor(h * scale).cast("int"))


# --- perceptual-hash near-dup (banded Hamming join) ------------------------


PHASH_BITS = 60  # 15 hex chars -> sign-safe BIGINT in every engine
PHASH_BANDS = 4


def media_phash(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """60-bit perceptual-hash column for near-dup banding. The hash
    here is digest-derived — the deterministic stand-in of the mm
    codec convention (a real pHash/aHash over decoded pixels drops in
    behind the same column contract); digest bits make exact-payload
    duplicates Hamming-0 pairs, which is what the banding machinery
    needs to be exercised end-to-end."""
    return df.withColumn(
        "phash",
        F.conv(F.substring(F.md5(F.col(payload_col)), 1, 15), 16, 10).cast("long"),
    )


def media_near_dup(
    df: DataFrame,
    max_hamming: int = 6,
    id_col: str = "media_id",
) -> DataFrame:
    """Near-duplicate media pairs (id_a, id_b, hamming) by the shared
    banded-Hamming join (`saltjoin.banded_hamming_pairs`) over the
    60-bit phash: 4 x 15-bit bands — any pair within Hamming distance
    4-1=3 shares at least one exact band (LSH guarantee), wider radii
    are caught with the usual banding recall; candidates verified by
    exact bit_count(xor). The shuffle carries (band_idx, band_key, id,
    phash) — never payloads; a hot band is salt-split at the shared
    bucket cap. The hashed frame is persisted inside the join, so the
    md5 over payloads runs once, and the pairs return materialized."""
    hashed = media_phash(df).select(id_col, "phash")
    return banded_hamming_pairs(
        hashed, id_col, "phash", PHASH_BITS, PHASH_BANDS, max_hamming
    )


def scene_segments(
    frames: DataFrame,
    id_col: str = "media_id",
    idx_col: str = "frame_idx",
    fp_col: str = "frame_fp",
) -> DataFrame:
    """Scene segmentation from a per-frame fingerprint stream: a scene
    boundary is any frame whose fingerprint differs from its
    predecessor (the shot-cut detector's output shape — a real
    deployment feeds a phash of the decoded frame, mm1/mm5's
    fingerprint path; equal-fp runs collapse into one scene). The
    scene id is the running count of boundaries, so segmentation is
    lag + prefix sum + groupBy — no self-join over frames.

    Scale: both windows partition by the video key, so per-task state
    is one video's frame count; fingerprints ride the shuffle, frame
    payloads never do. Output per scene: (media_id, scene_id,
    start_frame, end_frame, n_frames, frame_fp).
    """
    w = Window.partitionBy(id_col).orderBy(idx_col)
    is_cut = F.when(
        F.lag(fp_col).over(w).isNull()
        | (F.lag(fp_col).over(w) != F.col(fp_col)),
        F.lit(1),
    ).otherwise(F.lit(0))
    run = frames.withColumn(
        "scene_id",
        F.sum(is_cut)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    return run.groupBy(id_col, "scene_id").agg(
        F.min(idx_col).cast("long").alias("start_frame"),
        F.max(idx_col).cast("long").alias("end_frame"),
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.min(fp_col).alias("frame_fp"),
    )
