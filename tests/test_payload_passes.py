"""Every binary-payload operator keeps the decode-integrity contract of
payload.map_payloads: a good payload's rows do not depend on the bad
payloads beside it, and each null, empty, wrong-magic, truncated or
malformed payload yields exactly its operator's documented fail rows —
never a failed task. Keys keep their input type."""

import math

import numpy as np
import pytest

from menelaus_spark import audio as A
from menelaus_spark.operators import audio_dedup, media
from menelaus_spark.streaming.dedup import fingerprint_banded_stream


def _tone(sr=16000, dur_s=0.6, f0=440.0):
    t = np.arange(int(dur_s * sr)) / sr
    burst = (t > 0.1) & (t < 0.4)
    return np.round(9000 * np.sin(2 * np.pi * f0 * t) * burst).astype(np.int16)


WAV = A.wav_encode(_tone(), 16000)
BMP = media.encode_bmp(media.image_pixels(1))
Y4M = media.encode_y4m(media.video_frames_y(1, n_frames=8))
_FRAME3 = Y4M.index(b"\n") + 1 + 3 * (6 + 16 * 16 + 2 * 8 * 8)

AUDIO_BAD = [None, b"", b"XXXX" + WAV[4:], WAV[:30]]
IMAGE_BAD = [None, b"", b"XX" + BMP[2:], BMP[:40]]
VIDEO_BAD = [None, b"", b"XXXX" + Y4M[4:], Y4M[:12],
             b"YUV4MPEG2 W16 H16",                           # no newline
             b"YUV4MPEG2 Wx H16\n",                          # bad geometry
             Y4M[:_FRAME3] + b"FRAMX\n" + Y4M[_FRAME3 + 6:]]  # bad marker


def _features_fail(p):
    # the byte length and (unparseable) header facts are known even
    # for an undecodable payload; a null payload has neither
    return [(None,) * A.N_FEATURES
            + (None if p is None else float(len(p)),) + (None,) * A.N_HEADER]


# name -> (modality, operator, fail rows of one bad payload)
OPS = {
    "features_df": ("audio", lambda d, k: A.features_df(
        d, key_col=k, byte_len=True, header=True), _features_fail),
    "resample_clips": ("audio", lambda d, k: A.resample_clips(d, 8000, key_col=k),
                       lambda p: [(None, None, None)]),
    "frame_sample": ("audio", lambda d, k: A.frame_sample(d, frame_ms=50, key_col=k),
                     lambda p: []),
    "vad_segments": ("audio", lambda d, k: A.vad_segments(d, key_col=k),
                     lambda p: []),
    "normalize_loudness": ("audio", lambda d, k: A.normalize_loudness(d, key_col=k),
                           lambda p: [(None, None, None)]),
    "audio_shingles": ("audio", lambda d, k: audio_dedup.audio_shingles(d, key_col=k),
                       lambda p: [([], [], [])]),
    "audio_fingerprints": ("audio",
                           lambda d, k: audio_dedup.audio_fingerprints(d, key_col=k),
                           lambda p: [([], [], [], [], [], [], 0)]),
    "audio_fingerprint_codes": ("audio", lambda d, k:
                                audio_dedup.audio_fingerprint_codes(d, key_col=k),
                                lambda p: [([], [], [], 0)]),
    "fingerprint_banded_stream": ("audio", lambda d, k:
                                  fingerprint_banded_stream(d, key_col=k),
                                  lambda p: []),
    "image_features": ("image", lambda d, k: media.image_features(d, id_col=k),
                       lambda p: [(False,) + (None,) * 7]),
    "image_thumbnails": ("image",
                         lambda d, k: media.image_thumbnails(d, 6, 8, id_col=k),
                         lambda p: [(None,)]),
    "image_phashes": ("image", lambda d, k: media.image_phashes(d, id_col=k),
                      lambda p: [(None,)]),
    "video_frame_stats": ("video",
                          lambda d, k: media.video_frame_stats(d, 3, id_col=k),
                          lambda p: [(-1, False, None, None)]),
    "video_shingles": ("video", lambda d, k: media.video_shingles(d, id_col=k),
                       lambda p: [([], [])]),
}
GOOD = {"audio": WAV, "image": BMP, "video": Y4M}
BAD = {"audio": AUDIO_BAD, "image": IMAGE_BAD, "video": VIDEO_BAD}


def _frame(spark, modality, payloads, key_type):
    key = {"audio": "clip_id", "image": "image_id", "video": "video_id"}[modality]
    ids = [(str(i) if key_type == "string" else i) for i in range(len(payloads))]
    if modality == "audio":
        rows = [(i, p, "pcm") for i, p in zip(ids, payloads)]
        schema = f"{key} {key_type}, bytes binary, codec string"
    else:
        rows = list(zip(ids, payloads))
        schema = f"{key} {key_type}, bytes binary"
    return spark.createDataFrame(rows, schema), key, ids


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def _by_key(df, key):
    out = {}
    for r in df.collect():
        d = r.asDict()
        out.setdefault(d.pop(key), []).append(tuple(_norm(v) for v in d.values()))
    return {k: sorted(v, key=repr) for k, v in out.items()}


@pytest.mark.parametrize("name", sorted(OPS))
def test_bad_payloads_yield_their_fail_rows(spark, name):
    modality, op, fail = OPS[name]
    key_type = "string" if modality == "audio" else "long"
    payloads = [GOOD[modality], *BAD[modality]]
    df, key, ids = _frame(spark, modality, payloads, key_type)
    got = _by_key(op(df, key), key)
    alone = _by_key(op(df.filter(df[key] == ids[0]), key), key)
    assert alone.get(ids[0]), f"{name}: the good payload yields no rows"
    assert got.get(ids[0]) == alone[ids[0]]
    for i, p in zip(ids[1:], payloads[1:]):
        assert got.get(i, []) == [tuple(_norm(v) for v in row)
                                  for row in fail(p)], (name, p)
    assert dict(op(df, key).dtypes)[key] == dict(df.dtypes)[key]


@pytest.mark.parametrize("name", ["features_df", "audio_fingerprints", "vad_segments"])
def test_long_keyed_clips_keep_their_key_type(spark, name):
    _, op, _ = OPS[name]
    df, key, ids = _frame(spark, "audio", [WAV, None], "long")
    out = op(df, key)
    assert dict(out.dtypes)[key] == "bigint"
    sdf, skey, sids = _frame(spark, "audio", [WAV, None], "string")
    as_long = {int(k): v for k, v in _by_key(op(sdf, skey), skey).items()}
    assert _by_key(out, key) == as_long


def test_video_with_a_bad_frame_reports_only_its_fail_row(spark):
    # frames 0-2 decode, frame 3's marker is smashed: the payload
    # is undecodable as a whole, never half ok=True and half ok=False
    df, key, ids = _frame(spark, "video", [VIDEO_BAD[-1]], "long")
    rows = media.video_frame_stats(df, 1, id_col=key).collect()
    assert [(r.frame_idx, r.ok) for r in rows] == [(-1, False)]
