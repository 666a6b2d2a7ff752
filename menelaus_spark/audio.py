"""PCM16 WAV encode/decode and vectorized audio feature extraction.

Pure numpy — no external audio libraries — so the whole decode +
feature path runs inside Arrow-batched pandas UDFs with zero per-row
Python (BASELINE.json input_hint: "vectorized pandas/Arrow UDFs, no
per-row Python").

The canonical container is a 44-byte RIFF/WAVE header followed by
little-endian int16 mono samples. Non-PCM codecs (opus/mp3/aac/flac)
are carried as opaque binary; real decoders are not available in this
container, so :func:`decode_clip` handles them via a clearly-marked
deterministic fallback (the generator writes PCM bytes for every codec
label — the ``codec`` column models metadata skew, not container
format).
"""

from __future__ import annotations

import struct

import numpy as np

from menelaus_spark.payload import map_payloads, payload_rows, payload_schema

_RIFF_HEADER_LEN = 44
N_FEATURES = 12  # rms, zcr, peak, dc, 8 log-spectral bands


def wav_encode(samples: np.ndarray, sr_hz: int) -> bytes:
    """int16 mono samples -> canonical 44-byte-header WAV bytes."""
    pcm = np.asarray(samples, dtype="<i2")
    data = pcm.tobytes()
    byte_rate = sr_hz * 2
    header = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF",
        36 + len(data),
        b"WAVE",
        b"fmt ",
        16,  # PCM fmt chunk size
        1,  # audio format = PCM
        1,  # mono
        sr_hz,
        byte_rate,
        2,  # block align
        16,  # bits per sample
        b"data",
        len(data),
    )
    return header + data


_ULAW_BIAS = 0x84  # 132
_ULAW_CLIP = 32635
_WAVE_FMT_PCM = 1
_WAVE_FMT_MULAW = 7  # WAVE_FORMAT_MULAW (public RIFF registry tag)


def mulaw_encode(pcm: np.ndarray) -> np.ndarray:
    """int16 samples -> G.711 mu-law bytes (uint8), fully vectorized.

    The ITU-T G.711 mu-law compander (public spec; same math as the
    classic Sun/CCITT reference implementation): clamp to 32635, add
    the 132 bias, segment = MSB position of the biased magnitude - 7,
    4-bit mantissa from the segment's window, ones-complement the
    packed byte. ~38 dB SQNR across levels — comfortably above the
    input_hint's 30 dB per-row fidelity bar.
    """
    x = np.asarray(pcm, dtype=np.int32)
    sign = np.where(x < 0, 0x80, 0).astype(np.int32)
    mag = np.minimum(np.abs(x), _ULAW_CLIP) + _ULAW_BIAS
    # MSB index - 7; mag in [132, 32767] so exponent lands in 0..7.
    # (values < 2^15 are exact in float64, so log2 is exact at segment
    # boundaries — power-of-two inputs — and monotone in between)
    exp = (np.floor(np.log2(mag)).astype(np.int32)) - 7
    mant = (mag >> (exp + 3)) & 0x0F
    return (~(sign | (exp << 4) | mant) & 0xFF).astype(np.uint8)


def mulaw_decode(u8: np.ndarray) -> np.ndarray:
    """G.711 mu-law bytes -> int16 samples (exact inverse of the
    companding table: mulaw_encode(mulaw_decode(b)) == b for all code
    points except 0x7F, mu-law's "negative zero" — it decodes to 0,
    which canonically re-encodes as positive zero 0xFF; asserted in
    tests)."""
    u = (~np.asarray(u8, dtype=np.uint8)).astype(np.int32)
    exp = (u >> 4) & 0x07
    mag = (((u & 0x0F) << 3) + _ULAW_BIAS) << exp
    mag = mag - _ULAW_BIAS
    return np.where(u & 0x80, -mag, mag).astype(np.int16)


def wav_encode_mulaw(samples: np.ndarray, sr_hz: int) -> bytes:
    """int16 mono samples -> canonical 44-byte-header WAV bytes with
    format tag 7 (WAVE_FORMAT_MULAW) and G.711 mu-law data — a REAL
    compressed container (1 byte/sample): the bytes are not PCM16 and
    a PCM16-only reader cannot misparse them as such."""
    data = mulaw_encode(samples).tobytes()
    header = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF",
        36 + len(data),
        b"WAVE",
        b"fmt ",
        16,
        _WAVE_FMT_MULAW,
        1,  # mono
        sr_hz,
        sr_hz,  # byte rate = 1 byte/sample
        1,  # block align
        8,  # bits per sample
        b"data",
        len(data),
    )
    return header + data


_WAVE_FMT_ALAW = 6  # WAVE_FORMAT_ALAW
_WAVE_FMT_IMA_ADPCM = 0x11  # WAVE_FORMAT_DVI_ADPCM / IMA ADPCM

# ITU-T G.711 A-law segment ends for a 13-bit magnitude (public spec;
# same table as the classic Sun/CCITT reference implementation)
_ALAW_SEG_END = np.array(
    [0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF], dtype=np.int32
)


def alaw_encode(pcm: np.ndarray) -> np.ndarray:
    """int16 samples -> G.711 A-law bytes (uint8), fully vectorized.

    ITU-T G.711 A-law compander: 13-bit magnitude (input >> 3), 8
    logarithmic segments, 4-bit mantissa, even bits inverted (0x55
    mask, 0xD5 with the sign bit). ~37 dB SQNR — same class as mu-law,
    above the input_hint's 30 dB per-row fidelity bar.
    """
    x = np.asarray(pcm, dtype=np.int32)
    mask = np.where(x >= 0, 0xD5, 0x55).astype(np.int32)
    p = np.where(x >= 0, x, -x - 1) >> 3  # 13-bit magnitude, 0..4095
    seg = np.searchsorted(_ALAW_SEG_END, p, side="left").astype(np.int32)
    low = np.where(seg < 2, (p >> 1) & 0x0F, (p >> seg) & 0x0F)
    return (((seg << 4) | low) ^ mask).astype(np.uint8)


def alaw_decode(u8: np.ndarray) -> np.ndarray:
    """G.711 A-law bytes -> int16 samples (exact inverse of the
    companding table: alaw_encode(alaw_decode(b)) == b for all 256
    code points; asserted in tests)."""
    a = np.asarray(u8, dtype=np.int32) ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a >> 4) & 0x07
    t = np.where(
        seg == 0, t + 8,
        np.where(seg == 1, t + 0x108,
                 (t + 0x108) << np.maximum(seg - 1, 0)),
    )
    return np.where(a & 0x80, t, -t).astype(np.int16)


def wav_encode_alaw(samples: np.ndarray, sr_hz: int) -> bytes:
    """int16 mono samples -> canonical 44-byte-header WAV bytes with
    format tag 6 (WAVE_FORMAT_ALAW) and G.711 A-law data — like the
    mu-law container, a REAL 1-byte/sample compressed payload."""
    data = alaw_encode(samples).tobytes()
    header = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF",
        36 + len(data),
        b"WAVE",
        b"fmt ",
        16,
        _WAVE_FMT_ALAW,
        1,  # mono
        sr_hz,
        sr_hz,  # byte rate = 1 byte/sample
        1,  # block align
        8,  # bits per sample
        b"data",
        len(data),
    )
    return header + data


# IMA/DVI ADPCM quantizer tables (public spec: IMA "Recommended
# Practices for Enhancing Digital Audio Compatibility", rev 3.00;
# the same 89-step / 8-entry tables appear in RFC 3551 and the
# Microsoft WAVE_FORMAT_DVI_ADPCM registration)
_IMA_STEP = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
], dtype=np.int32)
_IMA_INDEX = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)

ADPCM_BLOCK_ALIGN = 256  # bytes per mono block: 4-byte header + 504 nibble pairs
ADPCM_SPB = (ADPCM_BLOCK_ALIGN - 4) * 2 + 1  # 505 samples per block
_ADPCM_HEADER_LEN = 60  # RIFF(12) + fmt(8+20) + fact(8+4) + data hdr(8)
# (header, block, samples/block) triple for the codec-aware
# payload-size model (constraints.payload_expected_and_tol)
ADPCM_PAYLOAD_MODEL = (_ADPCM_HEADER_LEN, ADPCM_BLOCK_ALIGN, ADPCM_SPB)


def _ima_reconstruct(pred, index, code):
    """One IMA ADPCM decoder step, vectorized across blocks: given the
    predictor/step-index state vectors and a 4-bit code vector, return
    the next (pred, index). EXACT integer arithmetic of the spec —
    shared by encode (codec feedback loop) and decode so they can
    never drift apart."""
    step = _IMA_STEP[index]
    diffq = (step >> 3)
    diffq = diffq + np.where(code & 1, step >> 2, 0)
    diffq = diffq + np.where(code & 2, step >> 1, 0)
    diffq = diffq + np.where(code & 4, step, 0)
    pred = np.clip(pred + np.where(code & 8, -diffq, diffq), -32768, 32767)
    index = np.clip(index + _IMA_INDEX[code & 7], 0, 88)
    return pred, index


def adpcm_encode(pcm: np.ndarray) -> tuple[bytes, int]:
    """int16 mono samples -> (IMA ADPCM block data, n_samples).

    Block-INDEPENDENT encoding (each 256-byte block carries its own
    4-byte predictor/step-index header, so any block decodes without
    its neighbors — the property that lets a scan split a huge clip),
    vectorized ACROSS blocks: the sequential quantizer feedback loop
    runs once over the 504 in-block positions with numpy vectors of
    width n_blocks, never per-sample Python. The tail block is padded
    by repeating the last sample; n_samples (returned) trims it back
    at decode via the WAV fact chunk.
    """
    x = np.asarray(pcm, dtype=np.int32)
    n = x.size
    if n == 0:
        x = np.zeros(1, dtype=np.int32)
        n = 1
    nb = -(-n // ADPCM_SPB)
    padded = np.concatenate([x, np.full(nb * ADPCM_SPB - n, x[-1],
                                        dtype=np.int32)])
    blocks = padded.reshape(nb, ADPCM_SPB)
    pred = blocks[:, 0].copy()
    # per-block initial step index: smallest step >= the first sample
    # delta (encoder freedom — the decoder honors whatever the header
    # says, so block independence is preserved)
    index = np.searchsorted(
        _IMA_STEP, np.abs(blocks[:, 1] - blocks[:, 0])
    ).clip(0, 88).astype(np.int32)
    headers = np.zeros((nb, 4), dtype=np.uint8)
    headers[:, 0] = pred & 0xFF
    headers[:, 1] = (pred >> 8) & 0xFF
    headers[:, 2] = index
    nibbles = np.empty((nb, ADPCM_SPB - 1), dtype=np.uint8)
    for i in range(1, ADPCM_SPB):
        step = _IMA_STEP[index]
        diff = blocks[:, i] - pred
        mag = np.abs(diff)
        code = np.where(mag >= step, 4, 0).astype(np.int32)
        mag = mag - np.where(code & 4, step, 0)
        code |= np.where(mag >= (step >> 1), 2, 0)
        mag = mag - np.where(code & 2, step >> 1, 0)
        code |= np.where(mag >= (step >> 2), 1, 0)
        code |= np.where(diff < 0, 8, 0)
        pred, index = _ima_reconstruct(pred, index, code)
        nibbles[:, i - 1] = code
    # pack low nibble first (spec byte order); 504 codes/block = 252 bytes
    packed = (nibbles[:, 0::2] | (nibbles[:, 1::2] << 4)).astype(np.uint8)
    return np.concatenate([headers, packed], axis=1).tobytes(), n


def _adpcm_decode_blocks(blocks: np.ndarray) -> np.ndarray:
    """(n_blocks, 256) uint8 -> (n_blocks, 505) int16. The blocks are
    independent (each carries its own predictor/step header), so this
    runs the 504-position feedback loop ONCE for any number of blocks
    from any number of clips — the kernel both adpcm_decode (one clip)
    and decode_batch (all ADPCM clips of an Arrow batch stacked into
    one call) share."""
    nb = blocks.shape[0]
    pred = (blocks[:, 0].astype(np.int32)
            | (blocks[:, 1].astype(np.int32) << 8))
    pred = np.where(pred >= 32768, pred - 65536, pred)
    index = np.clip(blocks[:, 2].astype(np.int32), 0, 88)
    packed = blocks[:, 4:]
    nibbles = np.empty((nb, ADPCM_SPB - 1), dtype=np.int32)
    nibbles[:, 0::2] = packed & 0x0F
    nibbles[:, 1::2] = packed >> 4
    out = np.empty((nb, ADPCM_SPB), dtype=np.int16)
    out[:, 0] = pred
    for i in range(1, ADPCM_SPB):
        pred, index = _ima_reconstruct(pred, index, nibbles[:, i - 1])
        out[:, i] = pred
    return out


def adpcm_decode(data: bytes, n_samples: int) -> np.ndarray:
    """IMA ADPCM block data -> int16 samples, vectorized across blocks
    (the in-block feedback loop runs over 504 positions with vectors
    of width n_blocks — exact integer arithmetic, bit-equal to a
    scalar spec decoder; asserted in tests)."""
    raw = np.frombuffer(data, dtype=np.uint8)
    nb = raw.size // ADPCM_BLOCK_ALIGN
    if nb == 0:
        raise ValueError("ADPCM data shorter than one block")
    blocks = raw[: nb * ADPCM_BLOCK_ALIGN].reshape(nb, ADPCM_BLOCK_ALIGN)
    return _adpcm_decode_blocks(blocks).reshape(-1)[:n_samples]


def wav_encode_adpcm(samples: np.ndarray, sr_hz: int) -> bytes:
    """int16 mono samples -> WAV bytes with format tag 0x11
    (WAVE_FORMAT_DVI_ADPCM): 20-byte fmt chunk (cbSize=2 +
    samples-per-block extension), a fact chunk carrying the true
    sample count (mandatory for compressed WAVE), and 256-byte IMA
    ADPCM blocks — a REAL ~4:1 predictive codec whose container
    layout differs from the canonical 44-byte header."""
    data, n = adpcm_encode(samples)
    byte_rate = max(1, (sr_hz * ADPCM_BLOCK_ALIGN) // ADPCM_SPB)
    fmt = struct.pack(
        "<4sIHHIIHHHH",
        b"fmt ", 20,
        _WAVE_FMT_IMA_ADPCM,
        1,  # mono
        sr_hz,
        byte_rate,
        ADPCM_BLOCK_ALIGN,
        4,  # bits per sample
        2,  # cbSize
        ADPCM_SPB,
    )
    fact = struct.pack("<4sII", b"fact", 4, n)
    head = struct.pack("<4sI4s", b"RIFF",
                       4 + len(fmt) + len(fact) + 8 + len(data), b"WAVE")
    return head + fmt + fact + struct.pack("<4sI", b"data", len(data)) + data


def _wav_chunks(buf: bytes) -> tuple[int, int, int, int, int, int | None]:
    """Walk the RIFF chunk list (fmt / fact / data — stops at data, so
    trailing junk after the data chunk never confuses the parse) and
    return ``(fmt_tag, sr_hz, bits, data_off, n_data, n_fact)`` without
    decoding. STRICT on a data chunk claiming more bytes than present —
    silently decoding the surviving prefix of a truncated payload would
    hide the damage from decode_integrity (and the metadata would
    disagree with the decoded length anyway). The canonical 44-byte
    PCM header is just the two-chunk special case of the walk."""
    if len(buf) < _RIFF_HEADER_LEN or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a canonical WAV buffer")
    fmt_tag = bits = sr_hz = None
    n_fact = None
    pos = 12
    while pos + 8 <= len(buf):
        cid, csize = struct.unpack_from("<4sI", buf, pos)
        body = pos + 8
        if cid == b"fmt ":
            fmt_tag, _ch, sr_hz = struct.unpack_from("<HHI", buf, body)
            bits = struct.unpack_from("<H", buf, body + 14)[0]
        elif cid == b"fact":
            n_fact = struct.unpack_from("<I", buf, body)[0]
        elif cid == b"data":
            if fmt_tag is None:
                raise ValueError("WAV data chunk precedes fmt chunk")
            if csize > len(buf) - body:
                raise ValueError("truncated WAV data chunk")
            return fmt_tag, sr_hz, bits, body, csize, n_fact
        pos = body + csize + (csize & 1)  # chunks are word-aligned
    raise ValueError("WAV buffer has no data chunk")


def wav_decode(buf: bytes) -> tuple[int, np.ndarray]:
    """WAV bytes -> (sr_hz, int16 sample array), dispatching on the
    fmt chunk's format tag: PCM16 (tag 1), G.711 mu-law (tag 7),
    G.711 A-law (tag 6), or IMA ADPCM (tag 0x11) — all expanded to
    int16."""
    fmt_tag, sr_hz, bits, body, n_data, n_fact = _wav_chunks(buf)
    if fmt_tag == _WAVE_FMT_PCM and bits == 16:
        pcm = np.frombuffer(buf, dtype="<i2", offset=body,
                            count=n_data // 2)
        return sr_hz, pcm
    if fmt_tag == _WAVE_FMT_MULAW and bits == 8:
        u8 = np.frombuffer(buf, dtype=np.uint8, offset=body,
                           count=n_data)
        return sr_hz, mulaw_decode(u8)
    if fmt_tag == _WAVE_FMT_ALAW and bits == 8:
        u8 = np.frombuffer(buf, dtype=np.uint8, offset=body,
                           count=n_data)
        return sr_hz, alaw_decode(u8)
    if fmt_tag == _WAVE_FMT_IMA_ADPCM and bits == 4:
        n_blocks = n_data // ADPCM_BLOCK_ALIGN
        n = n_fact if n_fact is not None else n_blocks * ADPCM_SPB
        return sr_hz, adpcm_decode(buf[body:body + n_data], n)
    raise ValueError(
        f"unsupported WAV format tag {fmt_tag} / {bits} bits")


def wav_header_facts(buf: bytes) -> tuple[int, int, int]:
    """(sr_hz, n_samples, fmt_tag) from the container header ALONE — no
    sample decode. The payload-side ground truth for the suite's
    metadata-consistency check: a row whose claimed (sr_hz, dur_ms,
    codec) columns disagree with what its own header says is lying in
    a way the O(length) payload-size model cannot see (e.g. claimed
    rate doubled AND duration halved — byte count unchanged). Raises
    on unparseable/truncated containers (decode_integrity owns those
    rows)."""
    fmt_tag, sr_hz, bits, _body, n_data, n_fact = _wav_chunks(bytes(buf))
    if fmt_tag == _WAVE_FMT_PCM and bits == 16:
        n = n_data // 2
    elif fmt_tag in (_WAVE_FMT_MULAW, _WAVE_FMT_ALAW) and bits == 8:
        n = n_data
    elif fmt_tag == _WAVE_FMT_IMA_ADPCM and bits == 4:
        n = n_fact if n_fact is not None else (
            n_data // ADPCM_BLOCK_ALIGN) * ADPCM_SPB
    else:
        raise ValueError(f"unsupported WAV format tag {fmt_tag}")
    return sr_hz, n, fmt_tag


def decode_clip(buf: bytes, codec: str) -> tuple[int, np.ndarray]:
    """Decode one clip to (sr_hz, float32 PCM in [-1, 1]).

    Decodable containers in this environment: PCM16 WAV, G.711 mu-law
    (tag 7) and A-law (tag 6) WAV — real 1-byte/sample compressed
    codecs — and IMA ADPCM WAV (tag 0x11, a real ~4:1 predictive
    codec with per-block state), all implemented in pure numpy. A
    real deployment would dispatch opus/mp3/aac/flac to native
    decoder libraries here; those are STUBBED — any non-WAV payload
    raises.
    """
    if len(buf) >= 4 and buf[:4] == b"RIFF":
        sr, pcm = wav_decode(buf)
        return sr, pcm.astype(np.float32) / 32768.0
    raise NotImplementedError(
        f"codec {codec!r}: non-WAV container decode requires external "
        "audio libraries not present in this environment"
    )


def decode_batch(bufs, codecs) -> list:
    """Decode a whole Arrow batch: -> list of (sr_hz, float32 PCM) per
    clip, None where decode fails (payload.map_payloads turns those
    into each operator's fail rows). Bit-equal to per-clip
    :func:`decode_clip` — asserted in tests — but the IMA ADPCM clips
    of the batch are decoded in ONE vectorized pass: their blocks are
    independent, so they stack into a single (total_blocks, 256) array
    and the sequential 504-position feedback loop runs once for the
    whole batch instead of once per clip. At a few hundred clips per Arrow batch that removes ~99% of
    the loop's Python overhead — ADPCM decode would otherwise dominate
    the feature pass the way scan bytes dominate the PCM path."""
    out = [None] * len(bufs)
    adpcm = []  # (i, sr, blocks, n_samples)
    for i, (buf, codec) in enumerate(zip(bufs, codecs)):
        try:
            buf = bytes(buf)
            if len(buf) < 4 or buf[:4] != b"RIFF":
                continue  # non-WAV container: stubbed -> None
            fmt_tag, sr, bits, body, n_data, n_fact = _wav_chunks(buf)
            if fmt_tag == _WAVE_FMT_IMA_ADPCM and bits == 4:
                raw = np.frombuffer(buf, dtype=np.uint8,
                                    offset=body, count=n_data)
                nb = raw.size // ADPCM_BLOCK_ALIGN
                if nb == 0:
                    continue
                blocks = raw[: nb * ADPCM_BLOCK_ALIGN].reshape(
                    nb, ADPCM_BLOCK_ALIGN)
                n = n_fact if n_fact is not None else nb * ADPCM_SPB
                adpcm.append((i, sr, blocks, n))
            else:
                _, pcm = wav_decode(buf)
                out[i] = (sr, pcm.astype(np.float32) / 32768.0)
        except Exception:
            pass
    if adpcm:
        stacked = _adpcm_decode_blocks(
            np.concatenate([b for _i, _sr, b, _n in adpcm]))
        row = 0
        for i, sr, blocks, n in adpcm:
            nb = blocks.shape[0]
            pcm = stacked[row:row + nb].reshape(-1)[:n]
            row += nb
            out[i] = (sr, pcm.astype(np.float32) / 32768.0)
    return out


FRAME = 512      # 32 ms @ 16 kHz
HOP = 256

N_QUALITY = 7
QUALITY_COLS = ("q_clip_rate", "q_silence_ratio", "q_lead_sil_ms",
                "q_trail_sil_ms", "q_dc_offset", "q_crest_db",
                "q_byte_len")
# container-header facts (wav_header_facts) that ride the same decode
# pass when the metadata-consistency check is enabled: actual sample
# rate, actual duration (ms, from the header's own sample count), and
# the fmt-chunk format tag. NaN where the header is unparseable —
# those rows belong to decode_integrity.
N_HEADER = 3
HEADER_COLS = ("q_hdr_sr", "q_hdr_ms", "q_hdr_tag")
# one int16 step below full scale: a sample is "clipped" when the
# encoder saturated it at +/-32767 (or -32768)
CLIP_LEVEL = 32766.5 / 32768.0
SILENCE_RMS = 0.01  # -40 dBFS frame RMS


_HANN = np.hanning(FRAME)


def _frame_rms(x: np.ndarray) -> np.ndarray:
    """Frame-wise RMS over the same FRAME/HOP grid as the STFT
    features — einsum reduction over a stride view, so no per-frame
    Python AND no materialized squared matrix."""
    if x.size < FRAME:
        return np.array([np.sqrt(np.mean(x * x))]) if x.size else np.zeros(1)
    n_frames = 1 + (x.size - FRAME) // HOP
    frames = np.lib.stride_tricks.as_strided(
        x, shape=(n_frames, FRAME), strides=(x.strides[0] * HOP, x.strides[0])
    )
    return np.sqrt(np.einsum("ij,ij->i", frames, frames) / FRAME)


def quality_metrics(pcm: np.ndarray, sr_hz: int) -> np.ndarray:
    """One clip's float PCM -> (clip_rate, silence_ratio, lead_sil_ms,
    trail_sil_ms) float32 vector — the audio-quality counterpart of
    :func:`extract_features`, computed from the SAME decoded buffer so
    the binary column is still read exactly once per suite run.

    - clip_rate: fraction of samples saturated at int16 full scale
      (digital clipping / gain-staging failures);
    - silence_ratio: fraction of FRAME/HOP frames under the -40 dBFS
      RMS floor (dead-air / wrong-channel recordings);
    - lead/trail_sil_ms: leading/trailing silent span (sloppy trims).
      An all-silent clip reports the full duration in both;
    - dc_offset: signed sample mean (a broken ADC / coupling-capacitor
      fault biases the whole waveform off zero — inaudible in RMS
      terms, ruinous for downstream spectral features);
    - crest_db: crest factor 20*log10(peak/RMS) — collapses toward
      0 dB under hard limiting / saturation (a clean sine sits at
      ~3 dB, speech well above), the classic over-compression signal.
      Silent clips report 0.
    """
    x = np.asarray(pcm, dtype=np.float64)
    if x.size == 0:
        return np.array([0.0, 1.0, 0.0, 0.0, 0.0, 0.0], dtype=np.float32)
    clip_rate = float(np.mean(np.abs(x) >= CLIP_LEVEL))
    rms = _frame_rms(x)
    sil = rms < SILENCE_RMS
    silence_ratio = float(np.mean(sil))
    voiced = np.flatnonzero(~sil)
    dur_ms = 1000.0 * x.size / sr_hz
    if voiced.size == 0:
        lead_ms = trail_ms = dur_ms
    else:
        lead_ms = min(dur_ms, 1000.0 * voiced[0] * HOP / sr_hz)
        trail_ms = min(dur_ms, 1000.0 * (sil.size - 1 - voiced[-1]) * HOP / sr_hz)
    dc_offset = float(np.mean(x))
    peak = float(np.max(np.abs(x)))
    total_rms = float(np.sqrt(np.mean(x * x)))
    crest_db = (20.0 * np.log10(peak / total_rms)
                if peak > 0 and total_rms > 0 else 0.0)
    return np.array([clip_rate, silence_ratio, lead_ms, trail_ms,
                     dc_offset, crest_db], dtype=np.float32)


def extract_features(pcm: np.ndarray, sr_hz: int) -> np.ndarray:
    """One clip's float PCM -> fixed N_FEATURES-dim float32 vector.

    Time-domain stats + an 8-band log power spectrum from a frame-wise
    STFT over the WHOLE clip (frame 512, hop 256, Hann window, power
    spectra averaged across frames) — the standard spectrogram-summary
    featurization, so per-clip cost scales with audio duration exactly
    as a production pipeline's would. All numpy-vectorized (the frame
    matrix is a stride view; one batched rfft). Plays the role of the
    numeric feature matrix ``X`` that the reference's detectors consume
    (reference detector.py:43-89 coerces input to a numeric row; our X
    is derived from the decoded audio payload).
    """
    x = np.asarray(pcm, dtype=np.float64)
    if x.size == 0:
        return np.zeros(N_FEATURES, dtype=np.float32)
    rms = float(np.sqrt(np.mean(x * x)))
    zcr = float(np.mean(np.abs(np.diff(np.signbit(x).astype(np.int8))))) if x.size > 1 else 0.0
    peak = float(np.max(np.abs(x)))
    dc = float(np.mean(x))
    if x.size < FRAME:
        frames = x[None, :]
        spec = np.abs(np.fft.rfft(frames * np.hanning(x.size), n=FRAME, axis=1)) ** 2
    else:
        n_frames = 1 + (x.size - FRAME) // HOP
        frames = np.lib.stride_tricks.as_strided(
            x, shape=(n_frames, FRAME), strides=(x.strides[0] * HOP, x.strides[0])
        )
        spec = np.abs(np.fft.rfft(frames * _HANN, axis=1)) ** 2
    mean_spec = spec.mean(axis=0)
    bands = np.array_split(mean_spec[1:], 8)
    band_power = np.array([np.log1p(np.mean(b)) for b in bands])
    return np.concatenate([[rms, zcr, peak, dc], band_power]).astype(np.float32)


def feature_cols(quality: bool = False, byte_len: bool = False,
                 header: bool = False) -> list[str]:
    """Column names of a feature row: f0..f11, then the QUALITY_COLS
    (``quality``) or only q_byte_len (``byte_len``), then the
    HEADER_COLS (``header``)."""
    cols = [f"f{i}" for i in range(N_FEATURES)]
    if quality:
        cols += list(QUALITY_COLS)
    elif byte_len:
        cols += [QUALITY_COLS[-1]]
    return cols + (list(HEADER_COLS) if header else [])


def feature_row(buf, dec, quality: bool = False, byte_len: bool = False,
                header: bool = False) -> np.ndarray:
    """One clip's float32 feature row (:func:`feature_cols` order) from
    its payload and its :func:`decode_batch` result.

    An undecodable clip (``dec`` None) gets NaN features — which the
    Arrow boundary delivers to Spark as NULLs, so engine-side filters
    must be null-robust (runner._f0_clean) — and the decode-integrity
    check reports it. Its payload length and container header facts
    are still known, so the payload-size and metadata-consistency
    checks ride the same single read of the binary column. A null
    payload keeps a NaN length (mirrors the fallback path's isNotNull
    guard, so both paths' statistics agree)."""
    cols = feature_cols(quality, byte_len, header)
    row = np.full(len(cols), np.nan, dtype=np.float32)
    try:
        sr, pcm = dec
        row[:N_FEATURES] = extract_features(pcm, sr)
        if quality:
            row[N_FEATURES:N_FEATURES + N_QUALITY - 1] = quality_metrics(pcm, sr)
    except Exception:
        row[:] = np.nan
    if (quality or byte_len) and buf is not None:
        row[cols.index(QUALITY_COLS[-1])] = len(bytes(buf))
    if header:
        try:
            hsr, hn, htag = wav_header_facts(buf)
            row[-N_HEADER:] = (hsr, 1000.0 * hn / hsr, htag)
        except Exception:
            pass
    return row


def features_for_batch(bufs, codecs, quality: bool = False,
                       byte_len: bool = False,
                       header: bool = False) -> np.ndarray:
    """(n, len(feature_cols)) float32 matrix of :func:`feature_row` over
    one batch, decoded in one :func:`decode_batch` pass — the kernel
    :func:`features_df` runs, callable driver-side."""
    width = len(feature_cols(quality, byte_len, header))
    rows = [feature_row(b, d, quality, byte_len, header)
            for b, d in zip(bufs, decode_batch(bufs, codecs))]
    return np.array(rows, dtype=np.float32).reshape(len(bufs), width)


def _with_payloads(bufs, codecs) -> list:
    # every clip reaches the feature kernel, decodable or not: its
    # length and header facts are known either way
    return list(zip(bufs, decode_batch(bufs, codecs)))


def features_df(df, key_col: str = "clip_id", bytes_col: str = "bytes",
                codec_col: str = "codec", carry_cols: tuple[str, ...] = (),
                quality: bool = False, byte_len: bool = False,
                header: bool = False):
    """(key, carry_cols..., f0..f11[, q_*]) feature DataFrame: one
    :func:`~menelaus_spark.payload.map_payloads` pass running
    :func:`feature_row` per clip. ``quality=True`` appends the
    QUALITY_COLS from the same decode; ``byte_len=True`` alone appends
    only q_byte_len (payload-size check without the quality kernels);
    ``header=True`` appends the HEADER_COLS."""
    cols = feature_cols(quality, byte_len, header)
    return map_payloads(
        df, key_col, bytes_col, ", ".join(f"{c} double" for c in cols),
        lambda item: [feature_row(*item, quality, byte_len, header).tolist()],
        fail=[(None,) * len(cols)], decode=_with_payloads,
        codec_col=codec_col, carry_cols=carry_cols)


def snr_db(ref: np.ndarray, test: np.ndarray) -> float:
    """Signal-to-noise ratio (dB) between two PCM arrays; the per-row
    fidelity oracle (input_hint: decoded-PCM allclose, SNR >= 30 dB)."""
    ref = np.asarray(ref, dtype=np.float64)
    test = np.asarray(test, dtype=np.float64)
    if ref.shape != test.shape:
        return float("-inf")
    noise = ref - test
    p_sig = np.sum(ref * ref)
    p_noise = np.sum(noise * noise)
    if p_noise == 0.0:
        return float("inf")
    if p_sig == 0.0:
        return float("-inf")
    return float(10.0 * np.log10(p_sig / p_noise))


def resample_pcm(pcm: np.ndarray, sr_in: int, sr_out: int) -> np.ndarray:
    """Deterministic linear-interpolation resampling (the scipy-free
    'resize' kernel for audio). Output length = round(n * sr_out/sr_in);
    endpoints preserved."""
    pcm = np.asarray(pcm, dtype=np.float64)
    if sr_in == sr_out or pcm.size == 0:
        return pcm.copy()
    n_out = int(round(pcm.size * sr_out / sr_in))
    if n_out <= 1:
        return pcm[:1].copy()
    x_out = np.arange(n_out, dtype=np.float64) * (pcm.size - 1) / (n_out - 1)
    return np.interp(x_out, np.arange(pcm.size, dtype=np.float64), pcm)


def resample_clips(df, target_sr: int, key_col: str = "clip_id",
                   bytes_col: str = "bytes", codec_col: str = "codec"):
    """Multimodal 'resize' operator: decode -> resample to target_sr ->
    re-encode WAV, one :func:`~menelaus_spark.payload.map_payloads`
    pass (the bytes column is read once and transformed in place;
    schema mirrors the input contract). Undecodable clips pass through
    with null bytes — the decode-integrity check owns reporting them.

    Returns (key, bytes, sr_hz, dur_ms).
    """
    def resample(dec):
        sr, pcm = dec
        out = resample_pcm(pcm, sr, target_sr)
        # decode yields floats in [-1, 1]; WAV wants int16
        return [(wav_encode(np.round(out * 32768.0).clip(-32768, 32767), target_sr),
                 target_sr, int(round(1000.0 * out.size / target_sr)))]

    return map_payloads(df, key_col, bytes_col,
                        f"{bytes_col} binary, sr_hz int, dur_ms int", resample,
                        fail=[(None, None, None)], decode=decode_batch,
                        codec_col=codec_col)


def frame_sample(df, n_frames: int = 4, frame_ms: int = 100,
                 key_col: str = "clip_id", bytes_col: str = "bytes",
                 codec_col: str = "codec"):
    """Multimodal 'frame sampling' operator (the video-frame analog for
    audio): extract ``n_frames`` equally spaced ``frame_ms`` windows of
    PCM per clip as float arrays, one Arrow-batched pass. Deterministic:
    frame k starts at floor(k * (n - w) / max(n_frames - 1, 1)).

    Returns (key, frame_idx, start_ms, samples array<double>) — one row
    per extracted frame; undecodable clips contribute no rows (the
    decode-integrity check owns reporting them).
    """
    import pyarrow as pa

    schema = payload_schema(
        df, [key_col], "frame_idx int, start_ms int, samples array<double>")

    def frames(dec):
        sr, pcm = dec
        w = max(1, int(sr * frame_ms / 1000))
        if pcm.size < w:
            return []
        starts = [(pcm.size - w) * k // max(n_frames - 1, 1)
                  for k in range(n_frames)]
        return [(k, int(round(1000.0 * st / sr)), pcm[st:st + w].astype(np.float64))
                for k, st in enumerate(starts)]

    # The one decode pass that is not map_payloads: the samples column
    # is built as ONE flat float64 buffer + offsets per Arrow batch
    # (pa.ListArray.from_arrays) instead of per-row Python lists. At 16k
    # clips x 4 x 100 ms frames the per-row path materialized ~100M
    # Python floats and was 5x slower (5.1 s -> 0.9 s measured, values
    # bit-identical: the same astype(float64) slices feed the buffer).
    # The decode and its failure contract are still payload_rows'.
    def work(batches):
        for rb in batches:
            hits = payload_rows(rb.column(bytes_col).to_pylist(), frames,
                                decode=decode_batch,
                                codecs=rb.column(codec_col).to_pylist())
            rows = [row for _, row in hits]
            chunks = [c for _, _, c in rows]
            flat = pa.array(np.concatenate(chunks) if chunks else [], pa.float64())
            offsets = np.r_[0, np.cumsum([c.size for c in chunks], dtype=np.int64)]
            yield pa.RecordBatch.from_arrays(
                [rb.column(key_col).take(pa.array([i for i, _ in hits], pa.int64())),
                 pa.array([r[0] for r in rows], pa.int32()),
                 pa.array([r[1] for r in rows], pa.int32()),
                 pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), flat)],
                names=schema.names)

    return df.select(key_col, bytes_col, codec_col).mapInArrow(work, schema=schema)


def vad_spans(pcm: np.ndarray, sr: int, min_speech_ms: int = 100,
              sil_rms: float = SILENCE_RMS) -> list[tuple[int, int]]:
    """Pure VAD kernel: contiguous voiced (start_ms, end_ms) spans on
    the FRAME/HOP frame-RMS grid, spans shorter than ``min_speech_ms``
    dropped. Shared by the ``vad_segments`` Arrow pass and the
    driver-side oracle twin — both sides call THIS function."""
    x = np.asarray(pcm, dtype=np.float64)
    voiced = _frame_rms(x) >= sil_rms
    if not voiced.any():
        return []
    # run boundaries on the padded mask diff
    edges = np.flatnonzero(np.diff(np.r_[0, voiced.view(np.int8), 0]))
    spans = []
    for a, b in zip(edges[::2], edges[1::2]):
        start_ms = int(round(1000.0 * a * HOP / sr))
        end_ms = int(round(1000.0 * min((b - 1) * HOP + FRAME, x.size) / sr))
        if end_ms - start_ms >= min_speech_ms:
            spans.append((start_ms, end_ms))
    return spans


def vad_segments(df, key_col: str = "clip_id", bytes_col: str = "bytes",
                 codec_col: str = "codec", min_speech_ms: int = 100,
                 sil_rms: float = SILENCE_RMS):
    """Energy-VAD segmentation: contiguous voiced spans from the same
    FRAME/HOP frame-RMS grid as the quality metrics, one
    :func:`~menelaus_spark.payload.map_payloads` pass (the standard
    silence-cutting step of a speech training-data pipeline). Segments
    shorter than ``min_speech_ms`` are dropped; undecodable clips
    contribute no rows (the decode-integrity check owns reporting them).

    Returns (key, seg_idx, start_ms, end_ms) — one row per voiced span.
    """
    def segments(dec):
        sr, pcm = dec
        return [(seg, *span) for seg, span in
                enumerate(vad_spans(pcm, sr, min_speech_ms, sil_rms))]

    return map_payloads(df, key_col, bytes_col,
                        "seg_idx int, start_ms int, end_ms int", segments,
                        decode=decode_batch, codec_col=codec_col)


def normalize_loudness(df, target_dbfs: float = -20.0, key_col: str = "clip_id",
                       bytes_col: str = "bytes", codec_col: str = "codec"):
    """Loudness normalization: decode -> scale to ``target_dbfs`` RMS
    -> re-encode WAV, one :func:`~menelaus_spark.payload.map_payloads`
    pass (gain-staging before feature extraction / augmentation).
    Samples clip at full scale; the applied gain is reported so callers
    can bound clipping. Silent or undecodable clips pass through with
    null bytes.

    Returns (key, bytes, sr_hz, gain_db).
    """
    target_rms = 10.0 ** (target_dbfs / 20.0)

    def normalize(dec):
        sr, pcm = dec
        x = np.asarray(pcm, dtype=np.float64)
        rms = float(np.sqrt(np.mean(x * x))) if x.size else 0.0
        if rms == 0.0:
            raise ValueError("silent clip")
        g = target_rms / rms
        out = np.clip(x * g, -1.0, 1.0)
        return [(wav_encode(np.round(out * 32768.0).clip(-32768, 32767), sr),
                 sr, 20.0 * np.log10(g))]

    return map_payloads(df, key_col, bytes_col,
                        f"{bytes_col} binary, sr_hz int, gain_db double", normalize,
                        fail=[(None, None, None)], decode=decode_batch,
                        codec_col=codec_col)


# --------------------------------------------------------------------------
# Spectral fingerprinting (audio near-duplicate detection)
#
# A training corpus at 10^12 clips carries re-encoded / gain-shifted /
# resampled copies that byte-level exact dedup cannot see. The frame
# code is a Haitsma-Kalker-style sign quantization (ISMIR 2002, "A
# Highly Robust Audio Fingerprinting System" — public algorithm): log
# band energies on a fixed STFT grid at a canonical rate, differenced
# across adjacent bands, sign -> 32 bits per frame. Constant gain
# shifts every log energy by the same additive constant, which the
# band difference cancels EXACTLY; int16 re-quantization leaves the
# signs untouched in practice. Alongside each code the kernel emits a
# confidence MASK (bits whose |log-energy difference| clears a margin
# — sign flips under small perturbations happen only near zero) and
# the peak rfft BIN (15.6 Hz pitch identity). Downstream matching uses
# exact 64-bit shingles for bit-exact copy classes and masked
# bit-error rate + peak agreement for lossier ones (resampling through
# an interpolator perturbs noise-dominated bands at O(1), so only
# margin-cleared bits carry evidence there).

FP_SR = 8000       # canonical fingerprint rate (all energy below 4 kHz)
FP_BANDS = 33      # 32 sign bits per frame
FP_SHINGLE = 2     # consecutive frame codes packed per 64-bit shingle
FP_DELTA = 1.0     # confidence margin on |log E_b - log E_b+1| (nats)
# linear band edges 200-3800 Hz, mapped to rfft bin indices at
# FRAME=512 / FP_SR (bin width 15.625 Hz)
_FP_BIN_EDGES = np.unique(
    np.round(np.linspace(200.0, 3800.0, FP_BANDS + 1) * FRAME / FP_SR)
).astype(np.int64)


def _fp_resample(x: np.ndarray, sr_in: int) -> np.ndarray:
    """Rate conversion to FP_SR on an ABSOLUTE-time grid (sample k sits
    at exactly k/FP_SR seconds, independent of clip length). Unlike
    :func:`resample_pcm`, whose endpoint-pinned grid depends on the
    total length, this keeps a trimmed prefix on the same frame grid as
    its source — the property the containment (trim-detection) score
    relies on."""
    if sr_in == FP_SR or x.size < 2:
        return x
    step = sr_in / FP_SR
    pos = np.arange(int((x.size - 1) / step) + 1, dtype=np.float64) * step
    return np.interp(pos, np.arange(x.size, dtype=np.float64), x)


def fp_sample_count(n_samples: int, sr_hz: int) -> int:
    """Length of :func:`_fp_resample`'s output WITHOUT resampling —
    the canonical-rate sample count. Exactly proportional to clip
    duration (unlike the STFT frame count, whose FRAME-offset affine
    relation over-estimates duration ratios on short clips), so it is
    the right basis for the speed-copy factor f = n_fp_a / n_fp_b."""
    n_samples = int(n_samples)
    if sr_hz == FP_SR or n_samples < 2:
        return n_samples
    step = sr_hz / FP_SR
    return int((n_samples - 1) / step) + 1


def fingerprint_codes(pcm: np.ndarray, sr_hz: int,
                      delta: float = FP_DELTA):
    """Float PCM -> (codes, masks, peaks), one entry per STFT frame:
    codes  uint32  — sign of adjacent-band log-energy differences;
    masks  uint32  — 1 where the |difference| clears ``delta`` in BOTH
                     sign stability senses (margin-cleared bits);
    peaks  float64 — parabolic-interpolated argmax rfft bin inside the
                     band range (sub-bin pitch id, ~0.05-bin accuracy
                     on tones — what lets the speed-copy criterion
                     discriminate a 4% tempo change at low pitch).
    Vectorized: one resample, one strided frame matrix, one batched
    rfft, one add.reduceat over the band edges."""
    x = _fp_resample(np.asarray(pcm, dtype=np.float64), int(sr_hz))
    if x.size < FRAME:
        z = np.empty(0, dtype=np.uint32)
        return z, z.copy(), np.empty(0, dtype=np.float64)
    n_frames = 1 + (x.size - FRAME) // HOP
    frames = np.lib.stride_tricks.as_strided(
        x, shape=(n_frames, FRAME), strides=(x.strides[0] * HOP, x.strides[0])
    )
    spec = np.abs(np.fft.rfft(frames * _HANN, axis=1)) ** 2
    # peak search floor is ~60 Hz (bin 4), BELOW the band range floor:
    # fundamentals under the first band edge must still give a stable
    # pitch identity, not an arbitrary noise bin
    lo, hi = 4, int(_FP_BIN_EDGES[-1])
    p_int = lo + np.argmax(spec[:, lo:hi], axis=1)
    # sub-bin refinement: parabola through the log-magnitudes at
    # (p-1, p, p+1); vertex offset clipped to the half-bin the argmax
    # guarantees. Degenerate (flat) neighborhoods keep offset 0.
    # log only the 3 gathered bins per frame (identical np.log values;
    # the full-spectrum lspec allocated ~500x the needed entries)
    rows = np.arange(n_frames)
    al = np.log(spec[rows, np.maximum(p_int - 1, 0)] + 1e-30)
    be = np.log(spec[rows, p_int] + 1e-30)
    ga = np.log(spec[rows, np.minimum(p_int + 1, spec.shape[1] - 1)] + 1e-30)
    den = al - 2.0 * be + ga
    off = np.zeros_like(den)
    np.divide(0.5 * (al - ga), den, out=off, where=np.abs(den) > 1e-12)
    peaks = p_int + np.clip(off, -0.5, 0.5)
    e = np.add.reduceat(spec, _FP_BIN_EDGES[:-1], axis=1)
    logs = np.log(e + 1e-30)
    d_band = logs[:, :-1] - logs[:, 1:]            # (n_frames, n_bands-1)
    weights = (1 << np.arange(min(32, d_band.shape[1]), dtype=np.uint64))
    codes = ((d_band > 0)[:, : weights.size] @ weights).astype(np.uint32)
    masks = ((np.abs(d_band) > delta)[:, : weights.size] @ weights).astype(np.uint32)
    return codes, masks, peaks


def fingerprint_frames(pcm: np.ndarray, sr_hz: int) -> np.ndarray:
    """Float PCM -> uint32 sign codes, one per STFT frame."""
    return fingerprint_codes(pcm, sr_hz)[0]


def pack_shingles(codes: np.ndarray) -> np.ndarray:
    """uint32 frame codes -> TIME-ORDER int64 shingles (FP_SHINGLE
    consecutive codes packed big-endian, sliding hop one frame; fewer
    codes than FP_SHINGLE yields one zero-padded shingle)."""
    codes = np.asarray(codes, dtype=np.uint64)
    if codes.size == 0:
        return np.empty(0, dtype=np.int64)
    if codes.size < FP_SHINGLE:
        codes = np.pad(codes, (0, FP_SHINGLE - codes.size))
    n = codes.size - FP_SHINGLE + 1
    packed = np.zeros(n, dtype=np.uint64)
    for j in range(FP_SHINGLE):
        packed |= codes[j : j + n] << np.uint64(32 * (FP_SHINGLE - 1 - j))
    return packed.view(np.int64)


def fingerprint_shingles(pcm: np.ndarray, sr_hz: int) -> np.ndarray:
    """Float PCM -> sorted distinct int64 shingles (the set domain the
    MinHash/Jaccard pipeline consumes). See :func:`pack_shingles` for
    the time-order variant prefix-trim bucketing needs."""
    return np.unique(pack_shingles(fingerprint_frames(pcm, sr_hz)))
