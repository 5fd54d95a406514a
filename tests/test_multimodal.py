"""Multimodal operators: binary payloads + metadata structs, frame
sampling, Arrow-batched decode plumbing, stubbed codec behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from group_2_shopware_enterprise_data_engineering_project_spark.operators import multimodal


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", b"imgbytes-one", ("image/png", 800, 600, 0)),
        (2, "image", b"imgbytes-one", ("image/png", 800, 600, 0)),  # dup payload
        (3, "video", b"vidbytes", ("video/mp4", 1920, 1080, 3500)),
        (4, "audio", None, ("audio/wav", 0, 0, 2000)),  # null payload
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_fingerprint_dedups_identical_payloads(media):
    fp = multimodal.media_fingerprint(media)
    groups = fp.groupBy("fingerprint").count().collect()
    by_n = sorted(r["count"] for r in groups)
    assert by_n == [1, 1, 2]  # two identical images share a fingerprint


def test_frame_sample_plan(media):
    frames = multimodal.frame_sample_plan(media, every_ms=1000).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r.media_id, []).append((r.frame_idx, r.frame_ms))
    # 3500ms at 1/s -> frames at 0,1000,2000,3000; 2000ms -> 0,1000
    assert by_media[3] == [(0, 0), (1, 1000), (2, 2000), (3, 3000)]
    assert by_media[4] == [(0, 0), (1, 1000)]
    assert 1 not in by_media  # duration 0 -> no frames


def test_decode_stub_raises(media):
    decoded = multimodal.decode_media(media)  # default = stub codec
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        decoded.collect()


def test_decode_fake_codec_schema_and_determinism(media):
    out = multimodal.decode_media(media, codec=multimodal.deterministic_fake_codec)
    assert [f.name for f in out.schema.fields] == [
        "media_id", "kind", "decoded_ok", "n_bytes", "features",
    ]
    rows = {r.media_id: r for r in out.collect()}
    assert rows[1].decoded_ok and rows[1].n_bytes == len(b"imgbytes-one")
    assert rows[1].features == rows[2].features  # same payload -> same features
    assert len(rows[1].features) == multimodal.FEATURE_DIM
    assert all(0.0 <= v <= 1.0 for v in rows[1].features)
    assert not rows[4].decoded_ok and rows[4].features == []
    # deterministic across runs
    again = {r.media_id: r for r in
             multimodal.decode_media(media, codec=multimodal.deterministic_fake_codec).collect()}
    assert again[3].features == rows[3].features


def test_resize_plan_aspect_ratio(media):
    out = {r.media_id: (r.target_width, r.target_height)
           for r in multimodal.resize_plan(media, max_px=512).collect()}
    assert out[1] == (512, 384)   # 800x600 -> cap long side at 512
    assert out[3] == (512, 288)   # 1920x1080
    assert out[4] == (0, 0)       # degenerate dims scale to 0 (scale capped at 1)


def test_payloads_not_shuffled_in_fingerprint_agg(media):
    """The dedup aggregate's shuffle carries digests, not blobs: the agg
    plan must not reference the payload column after the hash."""
    fp = multimodal.media_fingerprint(media)
    agg = fp.groupBy("fingerprint").agg(F.min("media_id").alias("keep_id"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    agg_lines = [ln for ln in plan.splitlines() if "HashAggregate" in ln]
    assert agg_lines and all("payload" not in ln for ln in agg_lines)


def test_media_near_dup_finds_exact_payload_pairs_only(spark):
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
        multimodal as mm,
    )
    from pyspark.sql import functions as F

    media = spark.createDataFrame(
        [(1, b"same bytes"), (2, b"same bytes"), (3, b"different!")],
        "media_id long, payload binary",
    )
    out = mm.media_near_dup(media, max_hamming=0).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in out] == [(1, 2, 0)]
    # phash is 60-bit sign-safe
    h = mm.media_phash(media).agg(F.min("phash"), F.max("phash")).first()
    assert h[0] >= 0 and h[1] < (1 << 60)


def test_media_near_dup_materializes_and_releases_caches(spark, tmp_path):
    """The banded-Hamming join persists its signature input (so the
    md5-over-payload projection runs once, not again for the salt's
    band sizing) and returns its pairs eagerly checkpointed: the
    returned plan scans no input, and the only storage that outlives
    the call is that checkpoint — the signature cache is released."""
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
        multimodal as mm,
    )

    path = str(tmp_path / "media.parquet")
    spark.createDataFrame(
        [(i, b"same bytes" if i < 3 else b"other %d" % i) for i in range(8)],
        "media_id long, payload binary",
    ).write.parquet(path)
    media = spark.read.parquet(path)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    out = mm.media_near_dup(media, max_hamming=0)
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "parquet" not in plan and "Join" not in plan, plan
    leaked = after - before
    assert len(leaked) <= 1, (
        f"media_near_dup left {len(leaked)} persisted RDDs; only the "
        "eager pair checkpoint may survive the call"
    )
    assert sorted((r.id_a, r.id_b) for r in out.collect()) == [(0, 1), (0, 2), (1, 2)]


def test_scene_segments_hand_solved(spark):
    """Literal fingerprint stream: runs AAA BB A C -> four scenes with
    the exact spans; a single-frame video is one scene; two videos
    never merge."""
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import multimodal

    rows = [
        (1, 0, "A"), (1, 1, "A"), (1, 2, "A"),
        (1, 3, "B"), (1, 4, "B"),
        (1, 5, "A"),           # returning fp starts a NEW scene
        (1, 6, "C"),
        (2, 0, "A"),           # other video, same fp — independent
    ]
    df = spark.createDataFrame(
        rows, "media_id long, frame_idx long, frame_fp string"
    )
    got = {
        (r.media_id, r.scene_id): (r.start_frame, r.end_frame, r.n_frames, r.frame_fp)
        for r in multimodal.scene_segments(df).collect()
    }
    assert got == {
        (1, 1): (0, 2, 3, "A"),
        (1, 2): (3, 4, 2, "B"),
        (1, 3): (5, 5, 1, "A"),
        (1, 4): (6, 6, 1, "C"),
        (2, 1): (0, 0, 1, "A"),
    }


def test_mm9_caption_align_boundary_frames_match_two(spark):
    """Caption j covers [5j-1, 5j+5): frames at second 5j-1 (f % 5 == 4)
    sit in the one-second cross-fade and must match BOTH captions;
    every other frame matches exactly one. Checked against the full
    sf0.001 output, plus the first video hand-walked."""
    from group_2_shopware_enterprise_data_engineering_project_spark.queries.multimodal_q import (
        mm9_caption_align,
    )

    rows = mm9_caption_align(spark, "/root/testdata/sf0.001").collect()
    assert rows
    n_frames: dict[int, int] = {}
    for r in rows:
        n_frames[r.media_id] = max(n_frames.get(r.media_id, 0), r.frame_idx + 1)
    saw_double = False
    for r in rows:
        n_caps = -(-n_frames[r.media_id] // 5)
        j = r.frame_idx // 5
        if r.frame_idx % 5 == 4 and j + 1 <= n_caps - 1:
            saw_double = True
            assert r.n_captions == 2, r
            assert (r.first_caption, r.last_caption) == (j, j + 1)
        else:
            assert r.n_captions == 1, r
            assert r.first_caption == r.last_caption == j
    assert saw_double  # the cross-fade case genuinely occurred
