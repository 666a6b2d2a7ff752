"""Image/video multimodal plumbing: real BMP + y4m containers, Arrow
feature passes, fault routing, determinism vs the shared pixel twins."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from menelaus_spark.operators import media
from menelaus_spark.verdicts import DRIVER_ROW_CAPS


def test_bmp_roundtrip_exact():
    for iid, h, w in [(0, 24, 32), (3, 17, 5), (9, 2, 2)]:
        arr = media.image_pixels(iid, h, w)
        assert np.array_equal(media.decode_bmp(media.encode_bmp(arr)), arr)


def test_bmp_rejects_non_bmp_and_truncated():
    with pytest.raises(NotImplementedError):
        media.decode_bmp(b"\x89PNG\r\n\x1a\n" + b"\x00" * 100)
    good = media.encode_bmp(media.image_pixels(1))
    with pytest.raises(NotImplementedError):
        media.decode_bmp(good[:60])


def test_resize_nn_shapes_and_identity():
    arr = media.image_pixels(2, 24, 32)
    t = media.resize_nn(arr, 6, 8)
    assert t.shape == (6, 8, 3)
    assert np.array_equal(media.resize_nn(arr, 24, 32), arr)


def test_image_features_match_twin(spark):
    df = media.image_table(spark, n_rows=40, n_parts=4, corrupt_ids=(7, 13))
    rows = {r["image_id"]: r.asDict() for r in media.image_features(df).collect()}
    assert len(rows) == 40
    for iid in range(40):
        r = rows[iid]
        if iid in (7, 13):
            assert r["ok"] is False and r["luma_mean"] is None
            continue
        want = media.image_feature_row(media.image_pixels(iid))
        assert r["ok"] is True
        for k, v in want.items():
            assert r[k] == v, (iid, k)


def test_image_thumbnails_decode_back(spark):
    df = media.image_table(spark, n_rows=8, corrupt_ids=(5,))
    out = {r["image_id"]: r["thumb"] for r in
           media.image_thumbnails(df, 6, 8).collect()}
    assert out[5] is None
    arr = media.decode_bmp(bytes(out[2]))
    assert np.array_equal(arr, media.resize_nn(media.image_pixels(2), 6, 8))


def test_y4m_roundtrip_and_seek():
    frames = media.video_frames_y(4, n_frames=6)
    b = media.encode_y4m(frames)
    hdr = media.y4m_header(b)
    assert (hdr["n_frames"], hdr["w"], hdr["h"]) == (6, 16, 16)
    for i in (0, 3, 5):
        assert np.array_equal(media.y4m_frame_y(b, hdr, i), frames[i])
    with pytest.raises(NotImplementedError):
        media.y4m_header(b[:-5])  # truncated mid-frame
    with pytest.raises(NotImplementedError):
        media.y4m_header(b"RIFF" + b"\x00" * 64)


def test_video_frame_stats_sampled(spark):
    df = media.video_table(spark, n_rows=10, n_frames=8, corrupt_ids=(3,))
    out = media.video_frame_stats(df, stride=3).collect()
    by_vid = {}
    for r in out:
        by_vid.setdefault(r["video_id"], []).append(r)
    assert [r["frame_idx"] for r in sorted(by_vid[0], key=lambda r: r["frame_idx"])] == [0, 3, 6]
    [bad] = by_vid[3]
    assert bad["ok"] is False and bad["frame_idx"] == -1
    frames = media.video_frames_y(1, 8)
    want = media.frame_stat_row(frames[3])
    got = [r for r in by_vid[1] if r["frame_idx"] == 3][0]
    assert got["y_mean"] == want["y_mean"] and got["y_std"] == want["y_std"]


def test_frame_code_brightness_invariant_and_trim_overlap():
    base = (media.video_frames_y(7, 8) % 224).astype(np.uint8)
    bright = (base + 16).astype(np.uint8)  # no clipping by construction
    assert [media.frame_code_hex(f) for f in base] == \
           [media.frame_code_hex(f) for f in bright]
    sh_base = media.video_shingle_set(base)
    sh_trim = media.video_shingle_set(base[2:])
    inter = set(sh_base) & set(sh_trim)
    assert len(inter) == len(sh_trim)  # trimmed shingles all in source
    j = len(inter) / len(set(sh_base) | set(sh_trim))
    assert j > 0.5


def test_video_neardup_pairs_find_injected_copies(spark):
    df = media.video_neardup_table(spark, n_videos=20)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in media.video_neardup_pairs(df).collect()}
    # +16-brightness copies of sources 0..4 -> exact shingle equality
    for s in range(5):
        key = (f"v{s:04d}", f"v{20 + s:04d}")
        assert pairs[key] == 1.0, key
    # head-trimmed copies of sources 5..9 -> high-but-partial overlap
    for s in range(5):
        key = (f"v{5 + s:04d}", f"v{25 + s:04d}")
        assert 0.35 <= pairs[key] < 1.0, (key, pairs.get(key))
    # no cross-source false pairs
    for (a, b), j in pairs.items():
        sa, sb = int(a[1:]), int(b[1:])
        src = {20 + s: s for s in range(5)} | {25 + s: 5 + s for s in range(5)}
        assert src.get(sb) == sa, (a, b, j)


def test_image_phash_invariances():
    base = media.image_neardup_pixels(3)
    bright = (base + 16).astype(np.uint8)
    up = media.resize_nn(base, base.shape[0] * 2, base.shape[1] * 2)
    h0 = media.image_phash(base)
    assert media.image_phash(bright) == h0
    assert media.image_phash(up) == h0
    other = media.image_neardup_pixels(4)
    assert bin(h0 ^ media.image_phash(other)).count("1") > 3


def test_image_neardup_pairs_find_copies(spark):
    df = media.image_neardup_table(spark, n_images=20)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in media.image_neardup_pairs(df).collect()}
    for s in range(5):  # brightness copies of 0..4
        assert pairs[(f"i{s:04d}", f"i{20 + s:04d}")] == 0
    for s in range(5):  # 2x upscales of 5..9
        assert pairs[(f"i{5 + s:04d}", f"i{25 + s:04d}")] == 0
    # EVERY reported pair (including genuine source near-collisions of
    # the 64-bit phash and their copies) matches the Python twin's
    # exact Hamming distance, and nothing within the threshold that
    # shares a band is missed
    twin = {i: media.image_phash(media.image_neardup_pixels(i, 20))
            for i in range(30)}
    def hd(x, y):  # 64-bit popcount of xor (mask off Python's sign extension)
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    for (a, b), hm in pairs.items():
        assert hm == hd(twin[int(a[1:])], twin[int(b[1:])]) and hm <= 3
    for i in range(30):
        for j in range(i + 1, 30):
            if hd(twin[i], twin[j]) <= 3:
                assert (f"i{i:04d}", f"i{j:04d}") in pairs, (i, j)


def test_image_neardup_band_cap_contract(spark):
    # band_cap recall contract: hot (band, bval) buckets are skipped,
    # but phash-EXACT pairs are always restored by the exact equi-join
    df = media.image_neardup_table(spark, n_images=20)
    full = {(r["id_a"], r["id_b"]): r["hamming"]
            for r in media.image_neardup_pairs(df).collect()}
    # cap=1 skips EVERY shared band -> the banded path yields nothing;
    # what survives is exactly the hamming=0 subset, via exact recovery
    capped = {(r["id_a"], r["id_b"]): r["hamming"]
              for r in media.image_neardup_pairs(df, band_cap=1).collect()}
    assert capped == {p: h for p, h in full.items() if h == 0}
    assert any(h == 0 for h in full.values())  # the fixture has exact copies


def test_image_neardup_random_texture(spark):
    # witness fixture: id-seeded random sources are phash-distinct
    # (realistic duplicate topology), copy classes still found exactly
    df = media.image_neardup_table(spark, n_images=20, texture="random")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in media.image_neardup_pairs(df).collect()}
    for s in range(5):
        assert pairs[(f"i{s:04d}", f"i{20 + s:04d}")] == 0     # brightness
        assert pairs[(f"i{5 + s:04d}", f"i{25 + s:04d}")] == 0  # 2x upscale


def test_media_neardup_driver_fast_path_matches_distributed(spark, monkeypatch):
    # bounded-driver fast path (image/video caps) must be byte-equal to the
    # forced distributed banded/LSH plans — values AND dtypes — on
    # string ids, long ids, and a hot-bucket (gradient) image corpus
    img_hot = media.image_neardup_table(spark, n_images=60)  # gradient: hot bands
    img_rand = media.image_neardup_table(spark, n_images=60, texture="random")
    vids = media.video_neardup_table(spark, n_videos=40)
    from pyspark.sql import functions as F

    def canon(df):
        return (df.dtypes, sorted(map(tuple, df.collect())))

    def distributed(op, df, **kw):
        with monkeypatch.context() as m:
            m.setitem(DRIVER_ROW_CAPS, "image", 0)
            m.setitem(DRIVER_ROW_CAPS, "video", 0)
            return canon(op(df, **kw))

    for df, op, kw in [
        (img_hot, media.image_neardup_pairs, {}),
        (img_hot, media.image_neardup_pairs, {"band_cap": 1}),
        (img_rand, media.image_neardup_pairs, {}),
        (vids, media.video_neardup_pairs, {}),
    ]:
        fast = canon(op(df, **kw))
        slow = distributed(op, df, **kw)
        assert fast == slow
        assert fast[1]  # fixtures inject copies: never vacuous
    # long ids (image_table/video_table produce long ids)
    img_long = img_rand.withColumn(
        "image_id", F.regexp_replace("image_id", "i", "9").cast("long"))
    assert canon(media.image_neardup_pairs(img_long)) == distributed(
        media.image_neardup_pairs, img_long)
    vid_long = vids.withColumn(
        "video_id", F.regexp_replace("video_id", "v", "9").cast("long"))
    assert canon(media.video_neardup_pairs(vid_long)) == distributed(
        media.video_neardup_pairs, vid_long)
