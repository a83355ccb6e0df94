"""Video container kernels + the frame-sample driver query."""

from __future__ import annotations

import numpy as np
import pytest

from subdomain_crawler_spark.functions import image, video


def _frames(n=6, h=8, w=12, seed=3):
    rs = np.random.RandomState(seed)
    return rs.randint(0, 256, size=(n, h, w, 3), dtype=np.uint8)


def test_video_roundtrip():
    fr = _frames()
    buf = video.encode_video(fr, fps=30)
    assert video.video_meta(buf) == (12, 8, 6, 30)
    assert np.array_equal(video.decode_video(buf), fr)


def test_sample_frames_matches_full_decode():
    fr = _frames(n=11)
    buf = video.encode_video(fr)
    for stride in (1, 2, 3, 4, 11, 50):
        got = list(video.sample_frames(buf, stride))
        assert [i for i, _ in got] == list(range(0, 11, stride))
        for i, f in got:
            assert np.array_equal(f, fr[i])


def test_unknown_codec_stubbed():
    with pytest.raises(NotImplementedError):
        video.decode_video(b"xxxx", "h264")
    with pytest.raises(NotImplementedError):
        list(video.sample_frames(b"xxxx", 2, "vp9"))


def test_frame_sample_query_matches_image_fixture(spark):
    """The Spark kernel re-decodes packed rawv bytes and hashes; the
    expectation comes from the image fixture's phash column — the same
    independence the DuckDB oracle uses."""
    import pyarrow.parquet as pq

    from subdomain_crawler_spark.plans import driver_queries as dq

    imgs = pq.read_table(dq._ensure_img_corpus_fixture(),
                         columns=["image_id", "phash"]).to_pandas()
    imgs = imgs.sort_values("image_id").reset_index(drop=True)
    want = sorted(
        (f"vid{i // dq._VIDEO_FRAMES:03d}",
         i % dq._VIDEO_FRAMES, int(imgs["phash"][i]))
        for i in range(len(imgs))
        if (i % dq._VIDEO_FRAMES) % dq._VIDEO_STRIDE == 0)
    got = sorted(tuple(r) for r in
                 dq.q_video_frame_sample(spark, "").collect())
    assert got == want
    assert len(got) == len(imgs) // dq._VIDEO_STRIDE


def test_video_near_dup_pairs_and_rejects(spark):
    """q_video_near_dup composes frame sampling into the MIH near-dup
    operator (round-8 VERDICT ask #5).  Design: video triple (3p, 3p+1,
    3p+2) carries group bases / 2-flip members / 4-flip members at the
    sampled positions — so exactly (3p, 3p+1) is a true near-dup pair
    (both sampled frames within Hamming 3), while every pair involving
    3p+2 band-collides (an MIH candidate) but sits ≥ 4 away and must be
    rejected by the confirm filter."""
    from subdomain_crawler_spark.plans import driver_queries as dq

    got = {(r["left_video"], r["right_video"]):
           (r["n_frame_pairs"], r["min_dist"])
           for r in dq.q_video_near_dup(spark, "").collect()}
    n_triples = dq._VIDEO_ND_VIDEOS // 3
    want_keys = {(f"vidnd{3*p:03d}", f"vidnd{3*p+1:03d}")
                 for p in range(n_triples)}
    assert set(got) == want_keys
    for (lv, rv), (n, d) in got.items():
        assert n == dq._VIDEO_ND_FRAMES // dq._VIDEO_STRIDE  # both samples
        assert 0 < d <= dq._IMG_RADIUS
    # reject videos (role 2) never appear on either side
    rejects = {f"vidnd{v:03d}" for v in range(2, dq._VIDEO_ND_VIDEOS, 3)}
    assert not any(lv in rejects or rv in rejects for lv, rv in got)


def test_video_scene_cuts_matches_brute_force(spark):
    """q_video_scene_cuts (round 9): stride-1 frame hashes → lag-window
    Hamming deltas.  Brute force re-derives every frame's phash from the
    image fixture via _video_nd_member and recomputes the deltas; the
    design guarantees intra-scene deltas ≤ 6 (never a cut at threshold 7)
    and role-0 boundary rows ≥ 8 (always a cut)."""
    import pyarrow.parquet as pq

    from subdomain_crawler_spark.plans import driver_queries as dq

    imgs = pq.read_table(dq._ensure_img_corpus_fixture(),
                         columns=["image_id", "phash"]).to_pandas()
    imgs = imgs.sort_values("image_id").reset_index(drop=True)
    ph = imgs["phash"].to_numpy()

    want = set()
    for v in range(dq._VIDEO_ND_VIDEOS):
        prev = None
        for j in range(dq._VIDEO_ND_FRAMES):
            g, m = dq._video_nd_member(v, j)
            cur = int(ph[4 * g + m])
            if prev is not None:
                d = bin((prev ^ cur) & ((1 << 64) - 1)).count("1")
                want.add((f"vidnd{v:03d}", j, d, d >= dq._SCENE_CUT_T))
            prev = cur
    got = {(r["video_id"], r["frame_idx"], r["dist"], r["is_cut"])
           for r in dq.q_video_scene_cuts(spark, "").collect()}
    assert got == want
    assert len(got) == dq._VIDEO_ND_VIDEOS * (dq._VIDEO_ND_FRAMES - 1)
    for vid, j, d, cut in got:
        if j % dq._VIDEO_STRIDE != 0:   # intra-scene: same image group
            assert d <= 6 and not cut
        elif int(vid[5:]) % 3 == 0:     # role-0 boundary: base vs base
            assert cut
    assert any(cut for *_, cut in got) and any(not cut for *_, cut in got)


def test_pack_id_raises_when_low_part_overflows(spark):
    """Scene and frame node ids pack ``video_num * width + low``; a low
    part ≥ width would collide with the next video's ids ((1, 64) and
    (2, 0) both give 128 at width 64), so _pack_id raises instead."""
    from pyspark.errors import SparkRuntimeException
    from pyspark.sql import functions as F

    from subdomain_crawler_spark.plans import driver_queries as dq

    df = spark.createDataFrame([(1, 64), (2, 0)], "v long, s long")
    packed = df.select(dq._pack_id(F.col("v"), F.col("s"), 64).alias("nid"))
    with pytest.raises(SparkRuntimeException, match="low part outside"):
        packed.collect()
    ok = df.filter("s < 64").select(
        dq._pack_id(F.col("v"), F.col("s"), 64).alias("nid"))
    assert [r["nid"] for r in ok.collect()] == [128]
