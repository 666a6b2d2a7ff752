"""Multimodal image / video columns: opaque ``binary`` payloads with
typed metadata, decoded and feature-extracted by the same one-pass
primitive as the audio pipeline (payload.map_payloads): same schema
discipline (bytes column isolated to the decode stage), same fault
surface (null or corrupt payloads become their operator's fail rows,
never UDF crashes), same determinism contract (both the generator and
the driver-side oracle twin share the pixel functions in this
module).

Containers are REAL, numpy-only formats, not stubs:

- images: 24-bit uncompressed BMP (BITMAPFILEHEADER +
  BITMAPINFOHEADER, bottom-up rows, 4-byte row padding) — the one
  mainstream raster format decodable with pure byte math.
- video: YUV4MPEG2 (y4m) with C420 frames — a textual header plus
  fixed-size FRAME blocks, so frame N is a direct offset seek: frame
  SAMPLING never reads the frames it skips.

Compressed formats (png/jpeg/h264...) raise NotImplementedError in
the decoders — the image/audio codec libraries aren't available
here; the Spark-side plumbing (map_payloads' schema, batching, fault
routing) is identical for them, as the audio module's mu-law/ADPCM
paths show.

No reference counterpart (mitre/menelaus is tabular-only); these are
north-star additions for the multimodal training-data pipeline.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from menelaus_spark.operators.dedup import OwnedCache, band_keys, minhash_sig_py
from menelaus_spark.payload import map_payloads
from menelaus_spark.verdicts import driver_rows, local_frame

# one-slot internal pins (dedup.OwnedCache semantics): repeated calls
# hold at most ONE cached decode-derived frame per owner
_PHASH_CACHE = OwnedCache()
_VIDEO_SHINGLE_CACHE = OwnedCache()

__all__ = [
    "encode_bmp", "decode_bmp", "image_pixels", "image_feature_row",
    "image_table", "image_features", "image_thumbnails", "resize_nn",
    "encode_y4m", "y4m_header", "y4m_frame_y", "video_frames_y",
    "video_table", "video_frame_stats", "frame_stat_row",
]


# --------------------------------------------------------------------------
# BMP container (24-bit uncompressed)

def encode_bmp(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> 24-bit BMP bytes (BGR order, bottom-up
    rows, rows padded to 4 bytes — the format spec)."""
    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    row_bytes = (w * 3 + 3) & ~3
    img_size = row_bytes * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size,
                       2835, 2835, 0, 0)
    rows = np.zeros((h, row_bytes), dtype=np.uint8)
    rows[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    return header + info + rows.tobytes()


def decode_bmp(b: bytes) -> np.ndarray:
    """BMP bytes -> (h, w, 3) uint8 RGB. Only the 24-bit uncompressed
    layout is implemented; anything else (png/jpeg magic, compressed
    BMP, other bit depths) raises NotImplementedError, which the
    feature pass routes to a null row."""
    if len(b) < 54 or b[:2] != b"BM":
        raise NotImplementedError("not a BMP payload")
    offset = struct.unpack_from("<I", b, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", b, 14)
    planes, bpp, comp = struct.unpack_from("<HHI", b, 26)
    if hdr_size < 40 or bpp != 24 or comp != 0 or h <= 0 or w <= 0:
        raise NotImplementedError("unsupported BMP variant")
    row_bytes = (w * 3 + 3) & ~3
    need = offset + row_bytes * h
    if len(b) < need:
        raise NotImplementedError("truncated BMP payload")
    rows = np.frombuffer(b, dtype=np.uint8, count=row_bytes * h,
                         offset=offset).reshape(h, row_bytes)
    return rows[:, : w * 3].reshape(h, w, 3)[::-1, :, ::-1].copy()


def resize_nn(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize — the deterministic thumbnail kernel
    (index map floor(i * in/out), pure integer arithmetic)."""
    h, w = arr.shape[:2]
    ri = (np.arange(out_h) * h) // out_h
    ci = (np.arange(out_w) * w) // out_w
    return arr[ri][:, ci]


# --------------------------------------------------------------------------
# deterministic synthetic pixels (shared by generator AND oracle twin)

def image_pixels(image_id: int, h: int = 24, w: int = 32) -> np.ndarray:
    """The synthetic image for ``image_id``: a per-id-phased gradient
    plus a seeded texture — deterministic, so the oracle twin
    regenerates the identical array without touching Spark."""
    rng = np.random.default_rng(1000 + image_id)
    rr, cc = np.mgrid[0:h, 0:w]
    base = np.stack([
        (rr * 5 + image_id * 17) % 256,
        (cc * 7 + image_id * 29) % 256,
        (rr * 3 + cc * 3 + image_id * 41) % 256,
    ], axis=-1)
    noise = rng.integers(0, 32, size=(h, w, 3))
    return ((base + noise) % 256).astype(np.uint8)


def image_feature_row(arr: np.ndarray) -> dict:
    """Per-image features from the decoded array — one definition used
    by the Spark pass and the oracle twin (ITU-R 601 luma)."""
    f = arr.astype(np.float64)
    luma = 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]
    return {
        "height": int(arr.shape[0]), "width": int(arr.shape[1]),
        "mean_r": round(float(f[:, :, 0].mean()), 4),
        "mean_g": round(float(f[:, :, 1].mean()), 4),
        "mean_b": round(float(f[:, :, 2].mean()), 4),
        "luma_mean": round(float(luma.mean()), 4),
        "luma_std": round(float(luma.std()), 4),
    }


IMAGE_FEATURE_FIELDS = ("ok boolean, height int, width int, "
                        "mean_r double, mean_g double, mean_b double, "
                        "luma_mean double, luma_std double")


def image_table(spark, n_rows: int, n_parts: int = 4, h: int = 24, w: int = 32,
                corrupt_ids: tuple[int, ...] = ()) -> DataFrame:
    """Synthetic image table (image_id, part, fmt, width, height,
    bytes) — BMP payloads generated executor-side from the shared
    pixel function; ``corrupt_ids`` get their magic smashed with the
    metadata left claiming a good image (the lying-payload fault
    class)."""
    corrupt = set(corrupt_ids)

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            payloads = []
            for i in ids:
                b = encode_bmp(image_pixels(int(i), h, w))
                if int(i) in corrupt:
                    b = b"XX" + b[2:]
                payloads.append(b)
            yield pd.DataFrame({
                "image_id": ids,
                "part": ids % n_parts,
                "fmt": "bmp",
                "width": w, "height": h,
                "bytes": payloads,
            })

    return spark.range(0, n_rows, 1, n_parts).mapInPandas(
        gen, schema="image_id long, part long, fmt string, width int, "
                    "height int, bytes binary")


def image_features(df: DataFrame, id_col: str = "image_id",
                   bytes_col: str = "bytes") -> DataFrame:
    """One decode pass: decode + feature-extract every image; null,
    corrupt or unsupported payloads yield ok=False null rows (the audio
    decode_integrity contract)."""
    return map_payloads(
        df, id_col, bytes_col, IMAGE_FEATURE_FIELDS,
        lambda b: [(True, *image_feature_row(decode_bmp(b)).values())],
        fail=[(False,) + (None,) * 7])


def image_thumbnails(df: DataFrame, out_h: int, out_w: int,
                     id_col: str = "image_id", bytes_col: str = "bytes") -> DataFrame:
    """Nearest-neighbor thumbnails re-encoded as BMP, one decode pass;
    undecodable payloads carry a null thumb."""
    return map_payloads(
        df, id_col, bytes_col, "thumb binary",
        lambda b: [(encode_bmp(resize_nn(decode_bmp(b), out_h, out_w)),)],
        fail=[(None,)])


# --------------------------------------------------------------------------
# Y4M container (YUV4MPEG2, C420)

def encode_y4m(frames_y: np.ndarray, fps: tuple[int, int] = (25, 1)) -> bytes:
    """(n, h, w) uint8 luma frames -> y4m bytes with flat 128 chroma
    (C420). h and w must be even."""
    n, h, w = frames_y.shape
    assert h % 2 == 0 and w % 2 == 0
    head = f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 C420\n".encode()
    chroma = np.full((h // 2) * (w // 2), 128, dtype=np.uint8).tobytes()
    parts = [head]
    for i in range(n):
        parts.append(b"FRAME\n")
        parts.append(frames_y[i].tobytes())
        parts.append(chroma)
        parts.append(chroma)
    return b"".join(parts)


def y4m_header(b: bytes) -> dict:
    """Parse the stream header; returns w/h/fps plus the fixed frame
    block size and count, so any frame is one offset computation."""
    if not b.startswith(b"YUV4MPEG2 "):
        raise NotImplementedError("not a y4m payload")
    nl = b.index(b"\n")
    w = h = None
    fps = (25, 1)
    for tok in b[10:nl].split(b" "):
        if tok[:1] == b"W":
            w = int(tok[1:])
        elif tok[:1] == b"H":
            h = int(tok[1:])
        elif tok[:1] == b"F":
            num, den = tok[1:].split(b":")
            fps = (int(num), int(den))
        elif tok[:1] == b"C" and tok != b"C420":
            raise NotImplementedError("only C420 implemented")
    if not w or not h:
        raise NotImplementedError("missing y4m geometry")
    frame_bytes = 6 + h * w + 2 * (h // 2) * (w // 2)  # FRAME\n + YUV420
    n_frames = (len(b) - (nl + 1)) // frame_bytes
    if n_frames <= 0 or (len(b) - (nl + 1)) % frame_bytes != 0:
        raise NotImplementedError("truncated y4m payload")
    return {"w": w, "h": h, "fps": fps, "data_off": nl + 1,
            "frame_bytes": frame_bytes, "n_frames": n_frames}


def y4m_frame_y(b: bytes, hdr: dict, idx: int) -> np.ndarray:
    """Direct-seek read of frame ``idx``'s luma plane — skipped frames
    are never touched (the frame-SAMPLING contract)."""
    off = hdr["data_off"] + idx * hdr["frame_bytes"]
    if b[off:off + 6] != b"FRAME\n":
        raise NotImplementedError("bad frame marker")
    y = np.frombuffer(b, dtype=np.uint8, count=hdr["h"] * hdr["w"], offset=off + 6)
    return y.reshape(hdr["h"], hdr["w"])


def video_frames_y(video_id: int, n_frames: int = 8, h: int = 16,
                   w: int = 16) -> np.ndarray:
    """Deterministic synthetic luma frames: a drifting gradient whose
    phase advances per frame — shared by generator and oracle twin."""
    rng = np.random.default_rng(5000 + video_id)
    rr, cc = np.mgrid[0:h, 0:w]
    out = np.empty((n_frames, h, w), dtype=np.uint8)
    for t in range(n_frames):
        base = (rr * 4 + cc * 6 + video_id * 13 + t * 31) % 256
        out[t] = ((base + rng.integers(0, 16, size=(h, w))) % 256).astype(np.uint8)
    return out


def frame_stat_row(y: np.ndarray) -> dict:
    f = y.astype(np.float64)
    return {"y_mean": round(float(f.mean()), 4), "y_std": round(float(f.std()), 4)}


def video_table(spark, n_rows: int, n_parts: int = 4, n_frames: int = 8,
                h: int = 16, w: int = 16,
                corrupt_ids: tuple[int, ...] = ()) -> DataFrame:
    """Synthetic video table (video_id, part, fmt, n_frames, width,
    height, bytes) with y4m payloads; ``corrupt_ids`` get a truncated
    final frame with metadata still claiming ``n_frames``."""
    corrupt = set(corrupt_ids)

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            payloads = []
            for i in ids:
                b = encode_y4m(video_frames_y(int(i), n_frames, h, w))
                if int(i) in corrupt:
                    b = b[:-7]  # sever the tail mid-frame
                payloads.append(b)
            yield pd.DataFrame({
                "video_id": ids, "part": ids % n_parts, "fmt": "y4m",
                "n_frames": n_frames, "width": w, "height": h,
                "bytes": payloads,
            })

    return spark.range(0, n_rows, 1, n_parts).mapInPandas(
        gen, schema="video_id long, part long, fmt string, n_frames int, "
                    "width int, height int, bytes binary")


def video_frame_stats(df: DataFrame, stride: int, id_col: str = "video_id",
                      bytes_col: str = "bytes") -> DataFrame:
    """Frame-sampled per-frame luma stats (frames 0, stride, 2*stride,
    ...) in one decode pass; the seek arithmetic means unsampled frames
    are never materialized. A null or corrupt payload — including one
    whose header parses but a sampled frame does not — emits only a
    single ok=False row, so the fault is visible, not silent."""
    def stats(b):
        hdr = y4m_header(b)
        return [(idx, True, *frame_stat_row(y4m_frame_y(b, hdr, idx)).values())
                for idx in range(0, hdr["n_frames"], stride)]

    return map_payloads(df, id_col, bytes_col,
                        "frame_idx int, ok boolean, y_mean double, y_std double",
                        stats, fail=[(-1, False, None, None)])


# --------------------------------------------------------------------------
# video near-duplicate detection (the shared MinHash/LSH plan, third
# modality: text shingles / audio fingerprint shingles / frame-code
# shingles all feed the same dedup kernel)

FRAME_SHINGLE_WINDOW = 2
# MinHash width baked into the video decode pass (r06) — see
# audio_dedup.FP_MINHASH_K for the contract; a caller requesting a
# different k falls back to the frame kernel.
VIDEO_MINHASH_K = 16


def frame_code_hex(y: np.ndarray) -> str:
    """64-bit perceptual frame code: sign of each 8x8-block mean vs
    the frame mean. A global brightness shift moves every block mean
    and the frame mean by the same amount, so (unclipped) brightness
    copies produce IDENTICAL codes."""
    f = y.astype(np.float64)
    h, w = f.shape
    bh, bw = max(h // 8, 1), max(w // 8, 1)
    blocks = f[: bh * 8, : bw * 8].reshape(8, bh, 8, bw).mean(axis=(1, 3))
    bits = (blocks > f.mean()).astype(np.uint8).ravel()
    return np.packbits(bits).tobytes().hex()


def video_shingle_set(frames_y: np.ndarray,
                      window: int = FRAME_SHINGLE_WINDOW) -> list[str]:
    """Sorted unique shingles of ``window`` consecutive frame codes —
    per-frame codes make head/tail TRIMS set-overlaps, exactly like
    the audio fingerprint shingles."""
    codes = [frame_code_hex(frames_y[t]) for t in range(frames_y.shape[0])]
    if len(codes) < window:
        return sorted(set(codes))  # shorter than one window: code-level set
    return sorted({",".join(codes[i:i + window])
                   for i in range(len(codes) - window + 1)})


def video_neardup_frames(video_id: int, n_videos: int = 20, n_frames: int = 8,
                         h: int = 16, w: int = 16,
                         texture: str = "gradient") -> np.ndarray:
    """Deterministic near-dup fixture (shared by table generator and
    oracle twin): ids < n_videos are sources with pixels bounded to
    [0, 224) so copies can shift brightness without clipping; the next
    n_videos//4 ids are +16 brightness copies of sources 0..; the
    following n_videos//4 are head-trimmed (2 frames) copies of the
    next sources.

    ``texture="gradient"`` (the oracle fixture) derives sources from
    video_frames_y — at large n_videos their 64-bit frame codes
    COLLAPSE onto few block-sign patterns (measured r06: the hottest
    shingle appears in 11% of 3000 sampled sources at n=300k), so LSH
    buckets go quadratic — a degenerate topology, exactly the image
    fixture's r05 story. ``texture="random"`` draws id-seeded uniform
    frames so source codes are ~distinct and the duplicate topology
    matches a real corpus: the scaling-witness fixture (the video twin
    of image_neardup_pixels(texture="random"))."""
    n_b = n_videos // 4
    if video_id < n_videos:
        if texture == "random":
            rng = np.random.default_rng([888, video_id])
            return rng.integers(0, 224, size=(n_frames, h, w)).astype(np.uint8)
        return (video_frames_y(video_id, n_frames, h, w) % 224).astype(np.uint8)
    if video_id < n_videos + n_b:
        src = video_id - n_videos
        return (video_neardup_frames(src, n_videos, n_frames, h, w,
                                     texture) + 16).astype(np.uint8)
    src = n_b + (video_id - n_videos - n_b)
    return video_neardup_frames(src, n_videos, n_frames, h, w, texture)[2:]


def video_neardup_table(spark, n_videos: int = 20, n_parts: int = 4,
                        n_frames: int = 8, h: int = 16, w: int = 16,
                        texture: str = "gradient") -> DataFrame:
    """y4m table of n_videos sources + n_videos//2 injected copies
    (brightness-shifted and head-trimmed)."""
    total = n_videos + n_videos // 2

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            payloads = [encode_y4m(video_neardup_frames(int(i), n_videos,
                                                        n_frames, h, w, texture))
                        for i in ids]
            yield pd.DataFrame({"video_id": [f"v{int(i):04d}" for i in ids],
                                "part": ids % n_parts, "fmt": "y4m",
                                "bytes": payloads})

    return spark.range(0, total, 1, n_parts).mapInPandas(
        gen, schema="video_id string, part long, fmt string, bytes binary")


def video_shingles(df: DataFrame, id_col: str = "video_id",
                   bytes_col: str = "bytes",
                   window: int = FRAME_SHINGLE_WINDOW) -> DataFrame:
    """(id, shingles, sig) from one decode pass — the video analog of
    audio_dedup.audio_fingerprints; the MinHash signature rides the
    decode (dedup.minhash_sig_py, the exact md5 twin of the frame
    kernel), so downstream LSH starts from a per-row column.
    Undecodable payloads yield empty sets (they can never pair)."""
    def shingles(b):
        hdr = y4m_header(b)
        sh = video_shingle_set(np.stack([y4m_frame_y(b, hdr, t)
                                         for t in range(hdr["n_frames"])]), window)
        return [(sh, minhash_sig_py(sh, VIDEO_MINHASH_K))]

    return map_payloads(df, id_col, bytes_col,
                        "shingles array<string>, sig array<long>", shingles,
                        fail=[([], [])])


def _video_pairs_driver(spark, recs: list, id_col: str, id_type: str,
                        bands: int, rows: int,
                        threshold: float) -> DataFrame:
    """Driver twin of the LSH candidate join for video shingles: same
    band buckets (dedup.band_keys), same ``id_a < id_b`` rule; the exact intersection/size integers feed the
    SAME JVM round/when expression over a local relation, so the
    jaccard doubles (and the threshold decision) are computed by the
    identical Spark code path — equality is by construction, not by a
    Python float twin."""
    from collections import defaultdict

    buckets: dict[tuple, list[int]] = defaultdict(list)
    for idx, (vid, sh, sig) in enumerate(recs):
        if sig is None or not len(sig):  # F.size("sig") > 0
            continue
        for b, bh in enumerate(band_keys(sig, bands, rows)):
            buckets[(b, bh)].append(idx)
    cand: dict[tuple, tuple[int, int]] = {}
    for g in buckets.values():
        if len(g) < 2:
            continue
        for x in range(len(g)):
            for y in range(x + 1, len(g)):
                i, j = g[x], g[y]
                a, b2 = recs[i][0], recs[j][0]
                if a == b2:
                    continue
                cand[(a, b2) if a < b2 else (b2, a)] = (i, j) if a < b2 else (j, i)
    data = []
    for (a, b2), (i, j) in cand.items():
        sa, sb = recs[i][1], recs[j][1]
        inter = len(set(sa) & set(sb))
        data.append((a, b2, inter, len(sa), len(sb)))
    local = local_frame(
        spark, data, f"id_a {id_type}, id_b {id_type}, __i int, __sa int, __sb int")
    inter = F.col("__i")
    union = F.col("__sa") + F.col("__sb") - inter
    return (
        local.withColumn("jaccard", F.round(
            F.when(union == 0, F.lit(0.0)).otherwise(inter / union), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def video_neardup_pairs(df: DataFrame, id_col: str = "video_id",
                        bytes_col: str = "bytes", threshold: float = 0.35,
                        k: int = 16, bands: int = 8, rows: int = 2) -> DataFrame:
    """Near-duplicate video pairs (id_a, id_b, jaccard): frame-code
    shingles -> the repo's ONE shared MinHash/LSH kernel
    (dedup.minhash_from_shingles + lsh_candidate_pairs, the same plan
    text and audio near-dup compile to) -> exact Jaccard verify on
    candidates only."""
    from menelaus_spark.operators.dedup import (lsh_candidate_pairs,
                                                minhash_from_shingles)

    assert bands * rows == k
    # the shingle frame is read THREE ways (signatures + both verify
    # sides) — without the pin each reference would re-decode every
    # y4m payload (verified in the plan: 3x MapInPandas decode)
    sh = _VIDEO_SHINGLE_CACHE.persist(video_shingles(df, id_col, bytes_col))
    if "sig" in sh.columns and k == VIDEO_MINHASH_K:
        # the probe materializes every partition of the pin whole (one
        # y4m decode either way); under the ``video`` cap the banding,
        # candidate join and exact intersection run on the collected
        # shingle frame, with the jaccard/threshold decided by the same
        # JVM expression over a local relation; above it the
        # distributed LSH plan runs unchanged
        pdf = driver_rows(sh, "video")
        if pdf is not None:
            recs = list(zip(pdf[id_col], pdf["shingles"], pdf["sig"]))
            _VIDEO_SHINGLE_CACHE.release()
            id_type = dict(df.dtypes)[id_col]
            return _video_pairs_driver(df.sparkSession, recs, id_col,
                                       id_type, bands, rows, threshold)
        # decode-pass signature: per-row column, no explode/groupBy
        sigs = sh.select(id_col, "sig")
    else:
        sigs = minhash_from_shingles(sh, id_col, "shingles", k)
    cands = lsh_candidate_pairs(sigs, id_col, bands, rows)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.join(sh.select(F.col(id_col).alias("id_a"),
                             F.col("shingles").alias("sh_a")), on="id_a")
        .join(sh.select(F.col(id_col).alias("id_b"),
                        F.col("shingles").alias("sh_b")), on="id_b")
        .withColumn("jaccard", F.round(
            F.when(union == 0, F.lit(0.0)).otherwise(inter / union), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --------------------------------------------------------------------------
# image near-duplicate detection (perceptual hash + the SimHash-style
# Hamming banding path — the fourth modality on shared dedup plans)

def image_phash(arr: np.ndarray) -> int:
    """64-bit perceptual hash of an RGB image: ITU-R 601 luma ->
    8x8-block-mean signs vs the global mean (the frame-code kernel).
    Invariant to unclipped brightness shifts and to integer-factor
    nearest-neighbor resizes (block means are preserved exactly);
    returned as a signed int64 (Spark/DuckDB BIGINT)."""
    f = arr.astype(np.float64)
    luma = 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]
    h, w = luma.shape
    bh, bw = max(h // 8, 1), max(w // 8, 1)
    blocks = luma[: bh * 8, : bw * 8].reshape(8, bh, 8, bw).mean(axis=(1, 3))
    bits = (blocks > luma.mean()).astype(np.uint8).ravel()
    return int.from_bytes(np.packbits(bits).tobytes(), "big", signed=True)


def image_phashes(df: DataFrame, id_col: str = "image_id",
                  bytes_col: str = "bytes") -> DataFrame:
    """(id, phash) in one decode pass; undecodable payloads get a null
    phash (never pair)."""
    return map_payloads(df, id_col, bytes_col, "phash long",
                        lambda b: [(image_phash(decode_bmp(b)),)], fail=[(None,)])


def _hamming64(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Vectorized popcount(a ^ b) over uint64 arrays (numpy < 2 has no
    bitwise_count; unpackbits over the byte view is exact)."""
    x = a ^ b
    return np.unpackbits(x.view(np.uint8).reshape(len(x), 8), axis=1).sum(
        axis=1, dtype=np.int32)


def _image_pairs_driver(ids: list, hashes: list, band_cap: int,
                        max_hamming: int) -> list[tuple]:
    """Driver twin of the banded + phash-exact image pair plan: same
    16-bit band buckets with the same ``band_cap`` hot-bucket skip,
    same uncapped full-hash exact recovery, same ``id_a < id_b`` rule
    (Python ``<`` agrees with Spark on long and lexicographic string
    ids) and min-hamming dedup. All arithmetic is integer (shifts,
    masks, popcount), so equality with the JVM plan is exact by
    construction."""
    n = len(ids)
    if n < 2:
        return []
    h = np.asarray(hashes, dtype=np.int64).view(np.uint64)
    id_arr = np.empty(n, dtype=object)
    id_arr[:] = ids
    cand_a: list[np.ndarray] = []
    cand_b: list[np.ndarray] = []

    triu_cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}

    def group_pairs(keys: np.ndarray, cap: int | None) -> None:
        order = np.argsort(keys, kind="stable")
        sk = keys[order]
        bounds = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1], True])
        for s, e in zip(bounds[:-1], bounds[1:]):
            m = int(e - s)
            if m < 2 or (cap is not None and m > cap):
                continue
            g = order[s:e]
            if m == 2:  # the dominant group size — skip triu_indices
                cand_a.append(g[:1])
                cand_b.append(g[1:])
                continue
            tri = triu_cache.get(m)
            if tri is None:
                tri = np.triu_indices(m, 1)
                triu_cache[m] = tri
            cand_a.append(g[tri[0]])
            cand_b.append(g[tri[1]])

    for b in range(4):
        group_pairs(((h >> np.uint64(16 * b)) & np.uint64(0xFFFF)).astype(np.int64),
                    band_cap)
    group_pairs(h.view(np.int64), None)  # exact recovery: no cap, hamming 0
    if not cand_a:
        return []
    ia = np.concatenate(cand_a)
    ib = np.concatenate(cand_b)
    hm = _hamming64(h[ia], h[ib])
    keep = hm <= max_hamming
    ia, ib, hm = ia[keep], ib[keep], hm[keep]
    best: dict[tuple, int] = {}
    for x, y, d in zip(id_arr[ia], id_arr[ib], hm):
        if x == y:
            continue  # id_a < id_b drops same-id pairs
        key = (x, y) if x < y else (y, x)
        d = int(d)
        if best.get(key, 65) > d:
            best[key] = d
    return [(a, b, d) for (a, b), d in best.items()]


def image_neardup_pairs(df: DataFrame, id_col: str = "image_id",
                        bytes_col: str = "bytes",
                        max_hamming: int = 3,
                        band_cap: int = 1024) -> DataFrame:
    """Image near-dup pairs (id_a, id_b, hamming <= max_hamming) via
    4x16-bit band blocking over the phash — by pigeonhole any pair
    within Hamming 3 of 64 bits agrees on at least one full band, so
    the blocked join is recall-exact for the threshold; the full
    popcount verify runs on candidates only (pure JVM xor/bit_count,
    same plan as dedup.simhash_neardup_pairs).

    A 16-bit band is LOW-entropy blocking (unlike the md5-of-signature
    LSH buckets, whose size tracks the true duplicate-class size), so
    hot (band, bval) buckets can grow far past any real duplicate
    class and the in-bucket join goes quadratic in bucket size.
    Buckets hotter than ``band_cap`` are therefore skipped — the
    candidate join is bounded at O(buckets x band_cap^2) — and their
    phash-EXACT pairs are restored by a separate equi-join on the full
    phash (linear blocking; its output is quadratic only in true
    duplicate-class size, i.e. in the answer). Recall contract: a pair
    with 1 <= hamming <= max_hamming whose EVERY agreeing band is
    hotter than ``band_cap`` is missed; hamming = 0 pairs are always
    exact."""
    # the phash frame is read FOUR ways (two banded join sides + two
    # exact-recovery sides) — without the pin each reference would
    # re-decode every BMP payload (verified in the plan: 4x
    # MapInPandas decode). The frame is (id, phash) only — tiny.
    ph = _PHASH_CACHE.persist(
        image_phashes(df, id_col, bytes_col).filter(F.col("phash").isNotNull()))
    # the probe materializes every partition of the pin whole (the
    # decode runs exactly once either way); under the ``image`` cap the
    # whole pair search happens on the collected (id, phash) frame — 16
    # bytes/row — in one job instead of the 4-way banded/exact join
    # pipeline's ~13
    pdf = driver_rows(ph, "image")
    if pdf is not None:
        _PHASH_CACHE.release()
        pairs = _image_pairs_driver(list(pdf[id_col]), pdf["phash"],
                                    band_cap, max_hamming)
        id_type = dict(df.dtypes)[id_col]
        return local_frame(df.sparkSession, pairs,
                           f"id_a {id_type}, id_b {id_type}, hamming int")
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 (F.shiftright(F.col("phash"), 16 * b)
                  .bitwiseAND(F.lit(65535))).alias("bval"))
        for b in range(4)
    ])
    banded = ph.select(id_col, "phash", F.explode(bands).alias("bb")).select(
        F.col(id_col), F.col("phash"),
        F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"))
    cold = banded.join(
        banded.groupBy("band", "bval").count()
        .filter(F.col("count") <= band_cap).select("band", "bval"),
        on=["band", "bval"],
    )
    a = cold.select("band", "bval", F.col(id_col).alias("id_a"),
                    F.col("phash").alias("ph_a"))
    b = cold.select("band", "bval", F.col(id_col).alias("id_b"),
                    F.col("phash").alias("ph_b"))
    near = (
        a.join(b, on=["band", "bval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)  # BEFORE dedup: the distinct
        # shuffle carries only true pairs, not every in-bucket candidate
    )
    pa = ph.select("phash", F.col(id_col).alias("id_a"))
    pb = ph.select("phash", F.col(id_col).alias("id_b"))
    exact = (
        pa.join(pb, on="phash")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(0).alias("hamming"))
    )
    return (near.unionByName(exact)
            .groupBy("id_a", "id_b").agg(F.min("hamming").alias("hamming")))


def image_neardup_pixels(image_id: int, n_images: int = 20,
                         texture: str = "gradient") -> np.ndarray:
    """Near-dup fixture twin: ids < n_images are sources bounded to
    [0, 224); next quarter are +16 brightness copies; next quarter are
    2x nearest-neighbor upscales — both phash-exact copy classes.

    ``texture="gradient"`` (the oracle fixture) derives sources from
    image_pixels — at large n_images their phashes COLLAPSE onto few
    block-sign patterns (giant duplicate classes, quadratic true
    output). ``texture="random"`` draws id-seeded uniform pixels, so
    source phashes are ~distinct and the duplicate topology matches a
    real corpus (classes of size ~2-3): the scaling-witness fixture."""
    n_b = n_images // 4
    if image_id < n_images:
        if texture == "random":
            rng = np.random.default_rng([777, image_id])
            return rng.integers(0, 224, size=(24, 32, 3)).astype(np.uint8)
        return (image_pixels(image_id) % 224).astype(np.uint8)
    if image_id < n_images + n_b:
        src = image_id - n_images
        return (image_neardup_pixels(src, n_images, texture) + 16).astype(np.uint8)
    src = n_b + (image_id - n_images - n_b)
    base = image_neardup_pixels(src, n_images, texture)
    return resize_nn(base, base.shape[0] * 2, base.shape[1] * 2)


def image_neardup_table(spark, n_images: int = 20, n_parts: int = 4,
                        texture: str = "gradient") -> DataFrame:
    total = n_images + n_images // 2

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            yield pd.DataFrame({
                "image_id": [f"i{int(i):04d}" for i in ids],
                "part": ids % n_parts,
                "bytes": [encode_bmp(image_neardup_pixels(int(i), n_images, texture))
                          for i in ids],
            })

    return spark.range(0, total, 1, n_parts).mapInPandas(
        gen, schema="image_id string, part long, bytes binary")
