"""Audio column operators over opaque media blobs — the part of the
multimodal charter (M6) that is still registered.

Model: media are opaque `binary` columns with a typed metadata struct,
processed by Arrow-batched pandas iterators (mapInPandas). The codec is
dependency-free pure Python/numpy: `_decode_wav` walks RIFF/WAVE chunks
and decodes integer PCM (8/16/24/32-bit), IEEE float32/float64, G.711
a-law/mu-law and IMA/MS ADPCM; anything else raises NotImplementedError.
On top of it sit exact-integer passes — amplitude stats (`decode_audio`),
tumbling-window RMS (`audio_rms_windows`), gain/clip augmentation
(`augment_audio`) and a Walsh-Hadamard envelope fingerprint
(`audio_fingerprint`) joined by `banded_hamming_pairs`.

Scale notes: mapInPandas streams Arrow batches (bounded by
spark.sql.execution.arrow.maxRecordsPerBatch), so executor memory is
per-batch not per-partition; repartition upstream on media_id to balance
variable-sized blobs; never collect binaries to the driver.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, content binary,"
    " meta struct<mime:string, source:string>"
)


# ---------------------------------------------------------------------------
# WAV (RIFF PCM) — the audio modality through the same Arrow boundary, with
# a REAL dependency-free codec (stdlib struct; no soundfile/librosa needed).
# ---------------------------------------------------------------------------

# (bits, channels) per media_id % 4 — covers 8/16-bit x mono/stereo.
WAV_CYCLE = ((16, 1), (16, 2), (8, 1), (8, 2))


def wav_values(n_values: int, seed: int, bits: int) -> list[int]:
    """Deterministic LCG PCM sample stream:
    16-bit yields signed values in [-32768, 32767], 8-bit the RAW unsigned
    container bytes in [0, 255] (WAV stores 8-bit PCM unsigned; logical
    amplitude is value-128), 24/32-bit signed values spanning their full
    containers (low bits from a second LCG step so the wide formats
    exercise all bytes)."""
    x = (seed * 2654435761) % (2**32)
    vals = []
    for _ in range(n_values):
        x = (1103515245 * x + 12345) % (2**31)
        if bits == 16:
            vals.append((x % 65536) - 32768)
        elif bits == 8:
            vals.append(x % 256)
        else:
            hi = (x % 65536) - 32768
            x = (1103515245 * x + 12345) % (2**31)
            if bits == 24:
                vals.append(hi * 256 + x % 256)
            else:  # 32
                vals.append(hi * 65536 + x % 65536)
    return vals


def fake_wav(
    n_frames: int,
    sample_rate: int,
    seed: int,
    bits: int = 16,
    n_channels: int = 1,
    audio_format: int = 1,
    perturb: int = 0,
    perturb_delta: int = 0,
) -> bytes:
    """Deterministic REAL RIFF/WAVE PCM file — canonical 44-byte header +
    interleaved little-endian raster. Any WAV reader (including stdlib
    `wave`) opens these; tests/test_multimodal.py cross-checks against
    `wave` as an independent parser. audio_format=3 writes IEEE float32
    samples v/32768 of the 16-bit stream — each exactly representable, so
    the float path stays bit-deterministic end to end."""
    if audio_format == 3:
        vals = wav_values(n_frames * n_channels, seed, 16)
        if bits == 64:
            raster = b"".join(struct.pack("<d", v / 32768.0) for v in vals)
        else:
            raster = b"".join(struct.pack("<f", v / 32768.0) for v in vals)
            bits = 32
    elif audio_format in (6, 7):
        vals = wav_values(n_frames * n_channels, seed, 16)
        comp = alaw_compress if audio_format == 6 else mulaw_compress
        raster = bytes(comp(v) for v in vals)
        bits = 8
    else:
        vals = wav_values(n_frames * n_channels, seed, bits)
        if perturb:
            # Near-duplicate fixture hook (16-bit PCM only): bump
            # `perturb` deterministic sample positions by perturb_delta
            # with int16 wraparound — the 'same clip, slight noise'
            # class an audio fingerprint must still match.
            if bits != 16 or audio_format != 1:
                raise ValueError("fake_wav: perturb needs 16-bit PCM")
            vals = list(vals)
            for j in range(perturb):
                pos = (seed * 48271 + j * 40503 + 12345) % len(vals)
                vals[pos] = ((vals[pos] + 32768 + perturb_delta) % 65536) - 32768
        if bits == 16:
            raster = b"".join(struct.pack("<h", v) for v in vals)
        elif bits == 24:
            raster = b"".join(
                (v & 0xFFFFFF).to_bytes(3, "little") for v in vals
            )
        elif bits == 32:
            raster = b"".join(struct.pack("<i", v) for v in vals)
        else:
            raster = bytes(vals)
    block_align = n_channels * bits // 8
    byte_rate = sample_rate * block_align
    fmt = struct.pack(
        "<HHIIHH", audio_format, n_channels, sample_rate, byte_rate, block_align, bits
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(raster))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(raster)) + raster
    )


def _mulaw_expand(b: np.ndarray) -> np.ndarray:
    """G.711 mu-law byte -> linear 16-bit sample (exact integer formula;
    complemented byte, sign bit SET means negative)."""
    u = ((~b) & 0xFF).astype(np.int64)
    sign = (u >> 7) & 1
    exp = (u >> 4) & 7
    mant = u & 0x0F
    mag = (((mant << 3) + 0x84) << exp) - 0x84
    return np.where(sign == 1, -mag, mag)


def _alaw_expand(b: np.ndarray) -> np.ndarray:
    """G.711 a-law byte -> linear 16-bit sample (exact integer formula;
    even bits toggled by 0x55, sign bit SET means POSITIVE)."""
    a = (b ^ 0x55).astype(np.int64)
    sign = (a >> 7) & 1
    exp = (a >> 4) & 7
    mant = a & 0x0F
    mag = np.where(exp == 0, (mant << 4) + 8, ((mant << 4) + 0x108) << np.maximum(exp - 1, 0))
    return np.where(sign == 1, mag, -mag)


def mulaw_compress(x: int) -> int:
    """G.711 mu-law compress of a linear 16-bit sample (fixture encoder;
    the inverse-of-expand segment search, BIAS 0x84, clip 32635)."""
    sign = 0x80 if x < 0 else 0
    m = min(abs(x), 32635) + 0x84
    exp = m.bit_length() - 8
    mant = (m >> (exp + 3)) & 0x0F
    return (~(sign | (exp << 4) | mant)) & 0xFF


def alaw_compress(x: int) -> int:
    """G.711 a-law compress of a linear 16-bit sample (fixture encoder)."""
    mask = 0xD5 if x >= 0 else 0x55
    m = min(abs(x), 32767)
    if m >= 256:
        exp = m.bit_length() - 9
        mant = (m >> (exp + 4)) & 0x0F
        byte = ((exp + 1) << 4) | mant
    else:
        byte = m >> 4
    return byte ^ mask


def _decode_wav(content: bytes) -> tuple[int, int, int, np.ndarray]:
    """Pure-Python RIFF/WAVE parser -> (sample_rate, n_channels, bits,
    centered int64 samples). Walks the chunk list (so extra chunks like
    LIST/INFO are skipped, not assumed absent), accepts integer PCM
    (format 1) at 8/16/24/32 bits and IEEE float32 (format 3, scaled to
    1/32768 amplitude units and truncated toward zero — exact for
    fixture streams, a documented quantization otherwise), float64,
    G.711 a-law/mu-law companding, and both ADPCM families (IMA format
    17, MS format 2); the NotImplementedError boundary is now only
    genuinely library-grade formats (MP3, WAVE_FORMAT_EXTENSIBLE).
    8-bit unsigned samples center to value-128 so amplitude
    stats mean the same thing at every depth."""
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        ln = int.from_bytes(content[pos + 4 : pos + 8], "little")
        body = content[pos + 8 : pos + 8 + ln]
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, nch, rate, _br, block_align, bits = struct.unpack(
        "<HHIIHH", fmt[:16]
    )
    if not (
        (audio_format == 1 and bits in (8, 16, 24, 32))
        or (audio_format == 3 and bits in (32, 64))
        or (audio_format in (6, 7) and bits == 8)
        or (audio_format in (2, 17) and bits == 4)
    ):
        raise NotImplementedError(
            f"WAV format={audio_format} bits={bits}: integer PCM"
            " (8/16/24/32), IEEE float32/float64, G.711 a-law/mu-law,"
            " IMA ADPCM, and MS-ADPCM are inside the pure-Python decode"
            " boundary (compressed formats like MP3/extensible need an"
            " audio library)"
        )
    if audio_format == 17:  # IMA ADPCM
        samples = _decode_ima_adpcm(data, nch, block_align)
    elif audio_format == 2:  # MS-ADPCM
        samples = _decode_ms_adpcm(data, nch, block_align)
    elif audio_format == 6:  # G.711 a-law
        samples = _alaw_expand(np.frombuffer(data, dtype=np.uint8))
    elif audio_format == 7:  # G.711 mu-law
        samples = _mulaw_expand(np.frombuffer(data, dtype=np.uint8))
    elif audio_format == 3 and bits == 64:
        f = np.frombuffer(data[: len(data) // 8 * 8], dtype="<f8")
        samples = np.trunc(f * 32768.0).astype(np.int64)
    elif audio_format == 3:
        f = np.frombuffer(data[: len(data) // 4 * 4], dtype="<f4")
        samples = np.trunc(f.astype(np.float64) * 32768.0).astype(np.int64)
    elif bits == 32:
        samples = np.frombuffer(
            data[: len(data) // 4 * 4], dtype="<i4"
        ).astype(np.int64)
    elif bits == 24:
        b = np.frombuffer(data[: len(data) // 3 * 3], dtype=np.uint8)
        b = b.reshape(-1, 3).astype(np.int64)
        raw = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        samples = np.where(raw >= 1 << 23, raw - (1 << 24), raw)
    elif bits == 16:
        samples = np.frombuffer(
            data[: len(data) // 2 * 2], dtype="<i2"
        ).astype(np.int64)
    else:
        samples = np.frombuffer(data, dtype=np.uint8).astype(np.int64) - 128
    return rate, nch, bits, samples


AUDIO_SCHEMA = (
    "media_id long, sample_rate int, n_channels int, bits int,"
    " n_frames long, peak_abs long, mean_abs_e3 long"
)


def decode_audio(media: DataFrame) -> DataFrame:
    """Audio decode pass: binary -> rate/layout + exact integer amplitude
    stats (peak and 1000x mean absolute value, truncating div — engine-
    independent ints, no float summaries). One Arrow round-trip; output is
    tiny per row regardless of clip length."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                rate, nch, bits, s = _decode_wav(bytes(content))
                n = len(s)
                rows.append(
                    (
                        mid,
                        rate,
                        nch,
                        bits,
                        n // nch,
                        int(np.abs(s).max()) if n else 0,
                        # Python-int math: 32-bit samples would wrap an
                        # int64 1000*abs-sum on clips past ~4M samples.
                        int(np.abs(s).sum()) * 1000 // n if n else 0,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "sample_rate", "n_channels", "bits",
                    "n_frames", "peak_abs", "mean_abs_e3",
                ],
            )

    return media.select("media_id", "content").mapInPandas(run, AUDIO_SCHEMA)


def wav_media_table(
    spark, n: int = 12, n_frames: int = 480, sample_rate: int = 8000
) -> DataFrame:
    """Deterministic media table of REAL WAV payloads cycling through
    WAV_CYCLE (bits, channels) layouts by media_id."""
    rows = []
    for i in range(n):
        bits, nch = WAV_CYCLE[i % len(WAV_CYCLE)]
        rows.append(
            (
                i,
                "audio",
                bytearray(
                    fake_wav(n_frames, sample_rate, seed=i, bits=bits, n_channels=nch)
                ),
                ("audio/wav", f"mem://wav/{i}.wav"),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


# (bits, channels, audio_format) — companded and double layouts: G.711
# a-law (6) / mu-law (7) and IEEE float64, mono/stereo.
WAV_G711_CYCLE = ((8, 1, 6), (8, 2, 6), (8, 1, 7), (8, 2, 7), (64, 1, 3), (64, 2, 3))


def wav_g711_media_table(
    spark, n: int = 12, n_frames: int = 480, sample_rate: int = 8000
) -> DataFrame:
    """Deterministic media table of REAL G.711/float64 WAV payloads cycling
    through WAV_G711_CYCLE layouts by media_id."""
    rows = []
    for i in range(n):
        bits, nch, fmtc = WAV_G711_CYCLE[i % len(WAV_G711_CYCLE)]
        rows.append(
            (
                i,
                "audio",
                bytearray(
                    fake_wav(
                        n_frames,
                        sample_rate,
                        seed=i,
                        bits=bits,
                        n_channels=nch,
                        audio_format=fmtc,
                    )
                ),
                ("audio/wav", f"mem://wavg711/{i}.wav"),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


# (bits, channels, audio_format) — the wide layouts: 24/32-bit int PCM and
# IEEE float32, mono/stereo.
WAV_DEEP_CYCLE = ((24, 1, 1), (24, 2, 1), (32, 1, 1), (32, 2, 1), (32, 1, 3), (32, 2, 3))


def wav_deep_media_table(
    spark, n: int = 12, n_frames: int = 480, sample_rate: int = 8000
) -> DataFrame:
    """Deterministic media table of REAL WAV payloads cycling through
    WAV_DEEP_CYCLE (bits, channels, format) layouts by media_id."""
    rows = []
    for i in range(n):
        bits, nch, fmtc = WAV_DEEP_CYCLE[i % len(WAV_DEEP_CYCLE)]
        rows.append(
            (
                i,
                "audio",
                bytearray(
                    fake_wav(
                        n_frames,
                        sample_rate,
                        seed=i,
                        bits=bits,
                        n_channels=nch,
                        audio_format=fmtc,
                    )
                ),
                ("audio/wav", f"mem://wavdeep/{i}.wav"),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


AUDIO_WIN_SCHEMA = (
    "media_id long, window_idx long, n_frames long,"
    " energy long, peak_abs long, rms_e3 long"
)


def audio_rms_windows(media: DataFrame, window_frames: int = 160) -> DataFrame:
    """Windowed audio feature extraction: tumbling `window_frames`-frame
    windows per clip -> exact integer energy (sum of squared samples
    across channels), peak, and RMS scaled by 1e3 via math.isqrt
    (integer square root — exact, engine-independent, no float sqrt).
    One Arrow round-trip, output rows ~ clip_length/window, the raster
    never leaves the executor."""
    import math

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                _rate, nch, _bits, s = _decode_wav(bytes(content))
                n_frames = len(s) // nch
                for w in range(0, max(1, -(-n_frames // window_frames))):
                    lo, hi = w * window_frames, min((w + 1) * window_frames, n_frames)
                    if lo >= hi:
                        break
                    seg = s[lo * nch : hi * nch]
                    if int(np.abs(seg).max(initial=0)) > (1 << 24):
                        # Python-int squares: two full-scale 32-bit
                        # samples squared already exceed int64.
                        energy = sum(int(v) * int(v) for v in seg)
                    else:
                        energy = int((seg * seg).sum())
                    rows.append(
                        (
                            mid,
                            w,
                            hi - lo,
                            energy,
                            int(np.abs(seg).max()),
                            math.isqrt(energy * 1_000_000 // len(seg)),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "window_idx", "n_frames",
                    "energy", "peak_abs", "rms_e3",
                ],
            )

    return media.select("media_id", "content").mapInPandas(run, AUDIO_WIN_SCHEMA)


# IMA ADPCM (WAV format 17) — the 4-bit differential codec. Both tables
# are the published IMA/DVI spec constants.
IMA_STEP = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
IMA_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8)


def ima_step(pred: int, idx: int, nib: int) -> tuple[int, int]:
    """One IMA ADPCM decode step: (predictor, step index) -> updated pair
    after absorbing the 4-bit code. Pure integer arithmetic."""
    step = IMA_STEP[idx]
    diff = step >> 3
    if nib & 1:
        diff += step >> 2
    if nib & 2:
        diff += step >> 1
    if nib & 4:
        diff += step
    pred = pred - diff if nib & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + IMA_INDEX[nib & 7]))
    return pred, idx


def ima_encode_nibble(sample: int, pred: int, idx: int) -> int:
    """Standard IMA quantizer: pick the 4-bit code for `sample` given the
    current predictor state (the encoder then advances via ima_step)."""
    step = IMA_STEP[idx]
    diff = sample - pred
    nib = 8 if diff < 0 else 0
    diff = abs(diff)
    mask = 4
    while mask:
        if diff >= step:
            nib |= mask
            diff -= step
        step >>= 1
        mask >>= 1
    return nib


def _decode_ima_adpcm(data: bytes, nch: int, block_align: int) -> np.ndarray:
    """IMA ADPCM raster -> interleaved int64 samples. Blocks carry a
    per-channel (predictor, step index) header then 4-byte data words
    interleaved per channel, 2 samples per byte low-nibble-first."""
    if block_align < 4 * nch:
        raise ValueError(
            f"IMA ADPCM block_align={block_align} smaller than the"
            f" {4 * nch}-byte per-block channel header (nch={nch})"
        )
    chans: list[list[int]] = [[] for _ in range(nch)]
    pos = 0
    n = len(data)
    while pos + 4 * nch <= n:
        block = data[pos : pos + block_align]
        pos += block_align
        preds, idxs = [], []
        for c in range(nch):
            pred = int.from_bytes(block[4 * c : 4 * c + 2], "little", signed=True)
            idx = min(max(block[4 * c + 2], 0), 88)
            preds.append(pred)
            idxs.append(idx)
            chans[c].append(pred)  # the header IS the block's first sample
        p = 4 * nch
        while p + 4 * nch <= len(block):
            for c in range(nch):
                for byte in block[p + 4 * c : p + 4 * c + 4]:
                    for nib in (byte & 0x0F, byte >> 4):
                        preds[c], idxs[c] = ima_step(preds[c], idxs[c], nib)
                        chans[c].append(preds[c])
            p += 4 * nch
    out = np.empty(sum(len(c) for c in chans), dtype=np.int64)
    for c in range(nch):
        out[c::nch] = chans[c]
    return out


def fake_wav_ima_adpcm(
    n_frames: int, sample_rate: int, seed: int, n_channels: int = 1,
    samples_per_block: int = 249,
) -> bytes:
    """Deterministic REAL IMA ADPCM WAV (format 17) encoding the 16-bit
    LCG stream with the standard quantizer. samples_per_block must be
    1 + 8k (whole 4-byte data words); n_frames a multiple of it."""
    if (samples_per_block - 1) % 8:
        raise ValueError("samples_per_block must be 1 + 8k")
    if n_frames % samples_per_block:
        raise ValueError("n_frames must be a multiple of samples_per_block")
    vals = wav_values(n_frames * n_channels, seed, 16)
    chans = [vals[c::n_channels] for c in range(n_channels)]
    block_align = (4 + (samples_per_block - 1) // 2) * n_channels
    raster = bytearray()
    idxs = [0] * n_channels
    for b0 in range(0, n_frames, samples_per_block):
        preds = []
        for c in range(n_channels):
            pred = chans[c][b0]
            preds.append(pred)
            raster += int(pred & 0xFFFF).to_bytes(2, "little")
            raster += bytes([idxs[c], 0])
        nibs: list[list[int]] = [[] for _ in range(n_channels)]
        for c in range(n_channels):
            for s in chans[c][b0 + 1 : b0 + samples_per_block]:
                nib = ima_encode_nibble(s, preds[c], idxs[c])
                preds[c], idxs[c] = ima_step(preds[c], idxs[c], nib)
                nibs[c].append(nib)
        for w0 in range(0, samples_per_block - 1, 8):
            for c in range(n_channels):
                for k in range(0, 8, 2):
                    raster.append(
                        nibs[c][w0 + k] | (nibs[c][w0 + k + 1] << 4)
                    )
    byte_rate = sample_rate * block_align // samples_per_block
    fmt = struct.pack(
        "<HHIIHHHH", 17, n_channels, sample_rate, byte_rate, block_align, 4,
        2, samples_per_block,
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(raster))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(raster)) + bytes(raster)
    )


# MS-ADPCM (WAVE format 2) tables: the seven standard predictor
# coefficient pairs (8.8 fixed point) and the 16-entry step adaption.
MS_COEF1 = (256, 512, 0, 192, 240, 460, 392)
MS_COEF2 = (0, -256, 0, 64, 0, -208, -232)
MS_ADAPT = (
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230,
)


def _ms_pred(s1: int, s2: int, coef1: int, coef2: int) -> int:
    """MS-ADPCM predictor: (s1*coef1 + s2*coef2) / 256 with
    truncate-TOWARD-ZERO division (the spec's and ffmpeg's semantics),
    which differs from a flooring `>> 8` when the accumulator is
    negative. |acc| <= 32768*768 << 2**53, so plain int() is exact."""
    acc = s1 * coef1 + s2 * coef2
    return -((-acc) >> 8) if acc < 0 else acc >> 8


def ms_step(
    s1: int, s2: int, delta: int, coef1: int, coef2: int, nib: int
) -> tuple[int, int]:
    """One MS-ADPCM decode step: given the two previous samples, the
    current quantizer delta, and the block's coefficient pair, absorb a
    4-bit code -> (new sample, new delta). Pure integer arithmetic.
    The predictor divide truncates toward zero (see _ms_pred); the
    delta adaption's operands are always positive so `>> 8` is safe."""
    pred = _ms_pred(s1, s2, coef1, coef2)
    signed = nib - 16 if nib >= 8 else nib
    samp = max(-32768, min(32767, pred + signed * delta))
    delta = max(16, (MS_ADAPT[nib] * delta) >> 8)
    return samp, delta


def ms_encode_nibble(sample: int, s1: int, s2: int, delta: int, coef1: int, coef2: int) -> int:
    """Fixture-grade MS-ADPCM quantizer: truncate-toward-zero code for
    `sample` against the current predictor (the encoder then advances
    via ms_step). Any nibble stream is spec-decodable; this one just
    tracks the signal closely enough for meaningful fixtures."""
    pred = _ms_pred(s1, s2, coef1, coef2)
    diff = sample - pred
    return max(-8, min(7, int(diff / delta))) & 0x0F


def _decode_ms_adpcm(data: bytes, nch: int, block_align: int) -> np.ndarray:
    """MS-ADPCM raster -> interleaved int64 samples. Each block carries a
    per-channel header (1-byte predictor index, int16 delta, int16
    sample1, int16 sample2 — sample2 is the EARLIER of the two seed
    samples) then 4-bit codes high-nibble-first, round-robin across
    channels."""
    hdr = 7 * nch
    if block_align < hdr:
        raise ValueError(
            f"MS-ADPCM block_align={block_align} smaller than the"
            f" {hdr}-byte per-block channel header (nch={nch})"
        )
    chans: list[list[int]] = [[] for _ in range(nch)]
    pos = 0
    n = len(data)
    while pos + hdr <= n:
        block = data[pos : pos + block_align]
        pos += block_align
        coef1, coef2, deltas, s1s, s2s = [], [], [], [], []
        for c in range(nch):
            bpred = block[c]
            if bpred >= len(MS_COEF1):
                raise ValueError(
                    f"MS-ADPCM predictor index {bpred} out of range"
                    f" (must be < {len(MS_COEF1)})"
                )
            coef1.append(MS_COEF1[bpred])
            coef2.append(MS_COEF2[bpred])
            deltas.append(
                int.from_bytes(
                    block[nch + 2 * c : nch + 2 * c + 2], "little", signed=True
                )
            )
            s1s.append(
                int.from_bytes(
                    block[3 * nch + 2 * c : 3 * nch + 2 * c + 2],
                    "little",
                    signed=True,
                )
            )
            s2s.append(
                int.from_bytes(
                    block[5 * nch + 2 * c : 5 * nch + 2 * c + 2],
                    "little",
                    signed=True,
                )
            )
            chans[c].append(s2s[c])  # sample2 is the block's first sample
            chans[c].append(s1s[c])
        k = 0  # nibble counter, round-robin channel assignment
        for byte in block[hdr:]:
            for nib in (byte >> 4, byte & 0x0F):  # HIGH nibble first
                c = k % nch
                samp, deltas[c] = ms_step(
                    s1s[c], s2s[c], deltas[c], coef1[c], coef2[c], nib
                )
                s2s[c], s1s[c] = s1s[c], samp
                chans[c].append(samp)
                k += 1
    out = np.empty(sum(len(c) for c in chans), dtype=np.int64)
    for c in range(nch):
        out[c::nch] = chans[c]
    return out


def fake_wav_ms_adpcm(
    n_frames: int, sample_rate: int, seed: int, n_channels: int = 1,
    samples_per_block: int = 64,
) -> bytes:
    """Deterministic REAL MS-ADPCM WAV (format 2) encoding the 16-bit LCG
    stream: per-block predictor index cycles through all seven standard
    coefficient pairs, initial delta is a deterministic per-block value.
    (samples_per_block - 2) * n_channels must be even (whole data bytes);
    n_frames a multiple of samples_per_block."""
    if ((samples_per_block - 2) * n_channels) % 2:
        raise ValueError("(samples_per_block - 2) * n_channels must be even")
    if n_frames % samples_per_block:
        raise ValueError("n_frames must be a multiple of samples_per_block")
    vals = wav_values(n_frames * n_channels, seed, 16)
    chans = [vals[c::n_channels] for c in range(n_channels)]
    block_align = 7 * n_channels + (samples_per_block - 2) * n_channels // 2
    raster = bytearray()
    for bi, b0 in enumerate(range(0, n_frames, samples_per_block)):
        bpred = (bi + seed) % 7
        coef1, coef2 = MS_COEF1[bpred], MS_COEF2[bpred]
        deltas, s1s, s2s = [], [], []
        for c in range(n_channels):
            deltas.append(16 + (b0 * 7919 + seed * 131 + c * 17) % 1000)
            s2s.append(chans[c][b0])
            s1s.append(chans[c][b0 + 1])
        for c in range(n_channels):
            raster.append(bpred)
        for c in range(n_channels):
            raster += int(deltas[c] & 0xFFFF).to_bytes(2, "little")
        for c in range(n_channels):
            raster += int(s1s[c] & 0xFFFF).to_bytes(2, "little")
        for c in range(n_channels):
            raster += int(s2s[c] & 0xFFFF).to_bytes(2, "little")
        nibs = []
        per_ch = [2] * n_channels  # samples already emitted per channel
        for k in range((samples_per_block - 2) * n_channels):
            c = k % n_channels
            target = chans[c][b0 + per_ch[c]]
            nib = ms_encode_nibble(target, s1s[c], s2s[c], deltas[c], coef1, coef2)
            samp, deltas[c] = ms_step(s1s[c], s2s[c], deltas[c], coef1, coef2, nib)
            s2s[c], s1s[c] = s1s[c], samp
            per_ch[c] += 1
            nibs.append(nib)
        for j in range(0, len(nibs), 2):
            raster.append((nibs[j] << 4) | nibs[j + 1])
    byte_rate = sample_rate * block_align // samples_per_block
    coefs = b"".join(
        struct.pack("<hh", c1, c2) for c1, c2 in zip(MS_COEF1, MS_COEF2)
    )
    fmt = struct.pack(
        "<HHIIHHHHH", 2, n_channels, sample_rate, byte_rate, block_align, 4,
        4 + len(coefs), samples_per_block, len(MS_COEF1),
    ) + coefs
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(raster))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(raster)) + bytes(raster)
    )


# (audio_format, channels, samples_per_block) — both ADPCM families:
# IMA (17) needs spb = 1 + 8k, MS (2) needs (spb-2)*nch even.
WAV_ADPCM_CYCLE = ((17, 1, 249), (17, 2, 249), (17, 1, 9), (2, 1, 64), (2, 2, 64), (2, 2, 9))


def adpcm_frames(n_frames: int, samples_per_block: int) -> int:
    """Round n_frames UP to a whole number of ADPCM blocks (both fixture
    encoders require whole blocks)."""
    blocks = -(-n_frames // samples_per_block)
    return blocks * samples_per_block


def wav_adpcm_media_table(
    spark, n: int = 12, n_frames: int = 480, sample_rate: int = 8000
) -> DataFrame:
    """Deterministic media table of REAL ADPCM WAV payloads cycling
    through WAV_ADPCM_CYCLE layouts by media_id; per-clip frame count is
    n_frames rounded up to whole blocks."""
    rows = []
    for i in range(n):
        fmtc, nch, spb = WAV_ADPCM_CYCLE[i % len(WAV_ADPCM_CYCLE)]
        frames = adpcm_frames(n_frames, spb)
        enc = fake_wav_ima_adpcm if fmtc == 17 else fake_wav_ms_adpcm
        rows.append(
            (
                i,
                "audio",
                bytearray(
                    enc(frames, sample_rate, seed=i, n_channels=nch,
                        samples_per_block=spb)
                ),
                ("audio/wav", f"mem://wavadpcm/{i}.wav"),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _wht_pow2(v: list) -> list:
    """In-place integer Walsh-Hadamard butterflies for any power-of-two
    length (natural/Hadamard coefficient order)."""
    v = list(v)
    size = 1
    while size < len(v):
        for i in range(0, len(v), size * 2):
            for j in range(i, i + size):
                x, y = v[j], v[j + size]
                v[j], v[j + size] = x + y, x - y
        size *= 2
    return v


def audio_wht_fp64(samples: np.ndarray, n_win: int = 64) -> int:
    """Integer audio fingerprint: the clip's absolute-amplitude envelope
    over n_win equal windows (truncating any tail), integer WHT, then one
    bit per AC coefficient — 1 iff strictly above the AC median. The
    audio analogue of wht_phash64: exact integer arithmetic end to end,
    robust to small sample-level noise because each window sums hundreds
    of samples."""
    n = len(samples) // n_win * n_win
    if n < n_win:
        raise ValueError(f"audio_wht_fp64 needs >= {n_win} samples")
    env = np.abs(samples[:n].astype(np.int64)).reshape(n_win, -1).sum(axis=1)
    coefs = _wht_pow2([int(x) for x in env])[1:]
    med = sorted(coefs)[(len(coefs) - 1) // 2]
    return sum(1 << i for i, v in enumerate(coefs) if v > med)


AUDIO_FP_SCHEMA = "media_id long, phash long"


def audio_fingerprint(media: DataFrame, n_win: int = 64) -> DataFrame:
    """Fingerprint pass: binary audio -> 63-bit integer envelope hash,
    through the same Arrow-batched mapInPandas boundary as decode_audio
    (real WAV decode per clip, tiny fixed-size output per row)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                _, _, _, s = _decode_wav(bytes(content))
                rows.append((mid, audio_wht_fp64(s, n_win)))
            yield pd.DataFrame(rows, columns=["media_id", "phash"])

    return media.select("media_id", "content").mapInPandas(run, AUDIO_FP_SCHEMA)


def audio_fp_media_table(
    spark, n_base: int = 12, n_frames: int = 1920, sample_rate: int = 8000
) -> DataFrame:
    """Near-duplicate audio fixture: n_base 16-bit mono originals
    (media_id 0..n_base-1) plus one noise-perturbed re-encode of each
    (media_id 100+i: 16 samples bumped by 3000)."""
    rows = []
    for i in range(n_base):
        rows.append(
            (i, "audio", bytearray(fake_wav(n_frames, sample_rate, seed=i)),
             ("audio/wav", f"mem://afp/{i}.wav"))
        )
        rows.append(
            (100 + i, "audio",
             bytearray(fake_wav(n_frames, sample_rate, seed=i,
                                perturb=16, perturb_delta=3000)),
             ("audio/wav", f"mem://afp/{100 + i}.wav"))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def banded_hamming_pairs(
    hashes: DataFrame, n_bands: int, band_bits: int, max_hamming: int
) -> DataFrame:
    """Banded Hamming near-dup join over a (media_id, phash) frame:
    candidates come from an equi-join on any shared (band index, band
    value) — pigeonhole guarantees every pair within Hamming distance
    n_bands-1 is generated, and the join NEVER goes all-pairs — then
    exact bit_count(xor) verification. Returns (a_id, b_id, hamming),
    a_id < b_id. The blocking engine behind mm_audio_fingerprint."""
    mask = (1 << band_bits) - 1
    bands = hashes.select(
        "media_id",
        "phash",
        F.explode(F.array(*[F.lit(b) for b in range(n_bands)])).alias("b"),
    ).withColumn("band", F.expr(f"(phash >> ({band_bits} * b)) & {mask}"))
    a = bands.select(
        F.col("media_id").alias("a_id"), F.col("phash").alias("a_hash"),
        "b", "band",
    )
    bb = bands.select(
        F.col("media_id").alias("b_id"), F.col("phash").alias("b_hash"),
        "b", "band",
    )
    cand = (
        a.join(bb, ["b", "band"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_hash", "b_hash")
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(a_hash ^ b_hash)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", F.col("hamming").cast("long").alias("hamming"))
    )


def augment_audio(media: DataFrame, gain_num: int = 5, gain_den: int = 4) -> DataFrame:
    """Deterministic AUDIO augmentation — the gain/clip pass an audio
    training pipeline runs before feature extraction: each decoded sample
    is scaled by gain_num/gain_den with truncate-TOWARD-ZERO integer
    division (sign-symmetric, mirrored literally by the golden) and
    clipped to int16; emitted per clip: clipped-sample count, post-gain
    peak and 1000x mean-abs, and the order-SENSITIVE positional checksum
    sum(s[i] * (i % 97 + 1)) over the interleaved stream (a channel swap
    or sample reorder fails it even when the amplitude stats survive).
    One Arrow pass, fixed-size output."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                rate, nch, bits, s = _decode_wav(bytes(content))
                s = s.astype(np.int64)
                scaled = np.sign(s) * (np.abs(s) * gain_num // gain_den)
                clipped = np.clip(scaled, -32768, 32767)
                n_clipped = int((scaled != clipped).sum())
                n = len(clipped)
                weights = np.arange(n, dtype=np.int64) % 97 + 1
                rows.append(
                    (
                        mid,
                        rate,
                        nch,
                        n // nch,
                        n_clipped,
                        int(np.abs(clipped).max()) if n else 0,
                        int(np.abs(clipped).sum()) * 1000 // n if n else 0,
                        int((clipped * weights).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "sample_rate", "n_channels", "n_frames",
                    "n_clipped", "peak_abs", "mean_abs_e3", "pos_checksum",
                ],
            )

    return media.select("media_id", "content").mapInPandas(
        run,
        "media_id long, sample_rate long, n_channels long, n_frames long,"
        " n_clipped long, peak_abs long, mean_abs_e3 long, pos_checksum long",
    )


VAD_BLOCK = 80  # frames per gain block in the VAD fixture
VAD_PATTERN_MOD, VAD_LOUD_LT = 6, 3  # block b of clip m is loud iff (b+m)%6 < 3


def fake_vad_wav(
    n_frames: int, sample_rate: int, seed: int, block: int = VAD_BLOCK
) -> bytes:
    """Deterministic REAL 16-bit mono WAV whose LCG sample stream is
    amplitude-modulated per `block`-frame gain block: block b is
    full-scale when (b + seed) % {mod} < {lt}, else scaled by a
    floor-divide 16 attenuation — speech-shaped loud/quiet runs for
    voice-activity-detection fixtures (plain LCG noise has constant RMS,
    which would make any VAD pass vacuous)."""
    vals = wav_values(n_frames, seed, 16)
    out = []
    for f, v in enumerate(vals):
        b = f // block
        if (b + seed) % VAD_PATTERN_MOD < VAD_LOUD_LT:
            out.append(v)
        else:
            out.append(v // 16)
    raster = b"".join(struct.pack("<h", v) for v in out)
    block_align = 2
    byte_rate = sample_rate * block_align
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, byte_rate, block_align, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(raster))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(raster)) + raster
    )


def vad_wav_media_table(
    spark, n: int = 8, n_frames: int = 960, sample_rate: int = 8000
) -> DataFrame:
    """Media table of REAL WAV clips with loud/quiet gain-block structure
    (fake_vad_wav) — the VAD fixture."""
    rows = []
    for i in range(n):
        rows.append(
            (
                i,
                "audio",
                bytearray(fake_vad_wav(n_frames, sample_rate, seed=i)),
                ("audio/wav", f"mem://vadwav/{i}.wav"),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
