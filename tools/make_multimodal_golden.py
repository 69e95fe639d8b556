"""Generate golden-fixture parquet for the audio (mm_*) queries.

The WAV fixtures are built from a deterministic LCG sample stream
(operators/multimodal.py:wav_values), so the expected outputs of the
mm_decode_wav*, mm_audio_* queries are computable OUTSIDE Spark. This
script recomputes them in plain numpy/stdlib — never importing the
operator module, never touching the RIFF writer or parser — and writes
fixtures/multimodal/*.parquet. The registered DuckDB oracles read these
files, so each query is a full hash-matched correctness row.

Usage: python tools/make_multimodal_golden.py
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OUT_DIR = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "fixtures", "multimodal")
)


def decode_wav_g711_golden(
    n: int = 12, n_frames: int = 480, sample_rate: int = 8000
) -> pa.Table:
    """Expected output of mm_decode_wav_g711: G.711 a-law/mu-law companded
    clips and IEEE float64, recomputed from the LCG stream with
    INDEPENDENT compress+expand implementations of the G.711 formulas
    (the operator module is never imported here)."""
    cycle = ((8, 1, 6), (8, 2, 6), (8, 1, 7), (8, 2, 7), (64, 1, 3), (64, 2, 3))

    def mu_comp(x):
        sign = 0x80 if x < 0 else 0
        m = min(abs(x), 32635) + 0x84
        exp = m.bit_length() - 8
        return (~(sign | (exp << 4) | ((m >> (exp + 3)) & 0x0F))) & 0xFF

    def mu_exp(b):
        u = (~b) & 0xFF
        mag = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
        return -mag if (u >> 7) & 1 else mag

    def al_comp(x):
        mask = 0xD5 if x >= 0 else 0x55
        m = min(abs(x), 32767)
        if m >= 256:
            exp = m.bit_length() - 9
            byte = ((exp + 1) << 4) | ((m >> (exp + 4)) & 0x0F)
        else:
            byte = m >> 4
        return byte ^ mask

    def al_exp(b):
        a = b ^ 0x55
        exp = (a >> 4) & 7
        mant = a & 0x0F
        mag = (mant << 4) + 8 if exp == 0 else ((mant << 4) + 0x108) << max(exp - 1, 0)
        return mag if (a >> 7) & 1 else -mag

    rows = []
    for mid in range(n):
        bits, nch, fmtc = cycle[mid % len(cycle)]
        x = (mid * 2654435761) % (2**32)
        vals = []
        for _ in range(n_frames * nch):
            x = (1103515245 * x + 12345) % (2**31)
            vals.append((x % 65536) - 32768)
        if fmtc == 3:
            out = vals  # float64 v/32768 expands back exactly
        elif fmtc == 6:
            out = [al_exp(al_comp(v)) for v in vals]
        else:
            out = [mu_exp(mu_comp(v)) for v in vals]
        s = np.array(out, dtype=np.int64)
        rows.append(
            {
                "media_id": mid,
                "sample_rate": sample_rate,
                "n_channels": nch,
                "bits": bits,
                "n_frames": n_frames,
                "peak_abs": int(np.abs(s).max()),
                "mean_abs_e3": int(np.abs(s).sum()) * 1000 // len(s),
            }
        )
    return pa.Table.from_pylist(rows)


def decode_wav_golden(
    n: int = 12, n_frames: int = 480, sample_rate: int = 8000
) -> pa.Table:
    """Expected output of mm_decode_wav: rate/layout + exact integer
    amplitude stats per clip, recomputed straight from the LCG sample
    stream WITHOUT the RIFF parser (wav_media_table(n=12, 480 frames))."""
    cycle = ((16, 1), (16, 2), (8, 1), (8, 2))  # WAV_CYCLE, independently
    rows = []
    for mid in range(n):
        bits, nch = cycle[mid % 4]
        x = (mid * 2654435761) % (2**32)
        vals = []
        for _ in range(n_frames * nch):
            x = (1103515245 * x + 12345) % (2**31)
            v = (x % 65536) - 32768 if bits == 16 else x % 256
            vals.append(v if bits == 16 else v - 128)
        s = np.array(vals, dtype=np.int64)
        rows.append(
            {
                "media_id": mid,
                "sample_rate": sample_rate,
                "n_channels": nch,
                "bits": bits,
                "n_frames": n_frames,
                "peak_abs": int(np.abs(s).max()),
                "mean_abs_e3": int(1000 * np.abs(s).sum()) // len(s),
            }
        )
    return pa.Table.from_pylist(rows)


def decode_wav_deep_golden(
    n: int = 12, n_frames: int = 480, sample_rate: int = 8000
) -> pa.Table:
    """Expected output of mm_decode_wav_deep: the WIDE layouts (24/32-bit
    int PCM, IEEE float32), recomputed straight from the LCG sample stream
    WITHOUT the RIFF writer or parser. The float32 branch stores v/32768
    of the 16-bit stream and the decoder truncates back by *32768, so its
    expected samples are exactly the 16-bit stream values."""
    cycle = ((24, 1, 1), (24, 2, 1), (32, 1, 1), (32, 2, 1), (32, 1, 3), (32, 2, 3))
    rows = []
    for mid in range(n):
        bits, nch, fmtc = cycle[mid % len(cycle)]
        x = (mid * 2654435761) % (2**32)
        vals = []
        for _ in range(n_frames * nch):
            x = (1103515245 * x + 12345) % (2**31)
            hi = (x % 65536) - 32768
            if fmtc == 3:
                vals.append(hi)
                continue
            x = (1103515245 * x + 12345) % (2**31)
            vals.append(hi * 256 + x % 256 if bits == 24 else hi * 65536 + x % 65536)
        s = np.array(vals, dtype=np.int64)
        rows.append(
            {
                "media_id": mid,
                "sample_rate": sample_rate,
                "n_channels": nch,
                "bits": bits,
                "n_frames": n_frames,
                "peak_abs": int(np.abs(s).max()),
                "mean_abs_e3": int(1000 * np.abs(s).sum()) // len(s),
            }
        )
    return pa.Table.from_pylist(rows)


def audio_rms_windows_golden(
    n: int = 12, n_frames: int = 480, sample_rate: int = 8000,
    window_frames: int = 160,
) -> pa.Table:
    """Expected output of mm_audio_rms_windows: tumbling-window integer
    energy/peak/RMS per clip, recomputed straight from the LCG stream
    without the RIFF parser or the operator."""
    import math

    cycle = ((16, 1), (16, 2), (8, 1), (8, 2))
    rows = []
    for mid in range(n):
        bits, nch = cycle[mid % 4]
        x = (mid * 2654435761) % (2**32)
        vals = []
        for _ in range(n_frames * nch):
            x = (1103515245 * x + 12345) % (2**31)
            v = (x % 65536) - 32768 if bits == 16 else x % 256
            vals.append(v if bits == 16 else v - 128)
        s = np.array(vals, dtype=np.int64)
        for w in range(-(-n_frames // window_frames)):
            lo, hi = w * window_frames, min((w + 1) * window_frames, n_frames)
            seg = s[lo * nch : hi * nch]
            energy = int((seg * seg).sum())
            rows.append(
                {
                    "media_id": mid,
                    "window_idx": w,
                    "n_frames": hi - lo,
                    "energy": energy,
                    "peak_abs": int(np.abs(seg).max()),
                    "rms_e3": math.isqrt(energy * 1_000_000 // len(seg)),
                }
            )
    return pa.Table.from_pylist(rows)


def decode_wav_adpcm_golden(
    n: int = 12, n_frames: int = 480, sample_rate: int = 8000
) -> pa.Table:
    """Expected output of mm_decode_wav_adpcm: IMA-ADPCM (format 17) and
    MS-ADPCM (format 2) clips, recomputed from the LCG stream with an
    INDEPENDENT simulation of both codecs' quantize+reconstruct loops
    (the operator module is never imported here). Because ADPCM decode
    state mirrors encode state exactly, the decoded stream equals the
    encoder's reconstruction track — which this recomputes from spec
    tables alone."""
    cycle = ((17, 1, 249), (17, 2, 249), (17, 1, 9), (2, 1, 64), (2, 2, 64), (2, 2, 9))
    ima_steps = [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
        41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
        190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
        724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
        2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
        6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
        16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
    ]
    ima_idx_adj = [-1, -1, -1, -1, 2, 4, 6, 8]
    ms_c1 = [256, 512, 0, 192, 240, 460, 392]
    ms_c2 = [0, -256, 0, 64, 0, -208, -232]
    ms_adapt = [230, 230, 230, 230, 307, 409, 512, 614,
                768, 614, 512, 409, 307, 230, 230, 230]

    def clamp16(v):
        return max(-32768, min(32767, v))

    def ima_reconstruct(samples, spb):
        """Per-channel IMA track: header restarts predictor at the true
        sample each block; step index carries across blocks."""
        out, idx = [], 0
        for b0 in range(0, len(samples), spb):
            pred = samples[b0]
            out.append(pred)
            for s in samples[b0 + 1 : b0 + spb]:
                # quantize (truncating successive-halving search) ...
                step, diff = ima_steps[idx], s - pred
                nib = 8 if diff < 0 else 0
                diff = abs(diff)
                for bit in (4, 2, 1):
                    if diff >= step:
                        nib |= bit
                        diff -= step
                    step >>= 1
                # ... then reconstruct with the same nibble
                step = ima_steps[idx]
                d = step >> 3
                if nib & 1:
                    d += step >> 2
                if nib & 2:
                    d += step >> 1
                if nib & 4:
                    d += step
                pred = clamp16(pred - d if nib & 8 else pred + d)
                idx = max(0, min(88, idx + ima_idx_adj[nib & 7]))
                out.append(pred)
        return out

    def ms_pred(s1, s2, c1, c2):
        # truncate-TOWARD-ZERO /256, matching the spec (and ffmpeg) —
        # a flooring >> 8 differs when the accumulator is negative
        acc = s1 * c1 + s2 * c2
        return -((-acc) >> 8) if acc < 0 else acc >> 8

    def ms_reconstruct(samples, spb, seed, ch):
        """Per-channel MS track: each block seeds (s2, s1) with the first
        two true samples, a deterministic delta, and a cycling predictor
        index; the quantizer is truncate-toward-zero diff/delta."""
        out = []
        for bi, b0 in enumerate(range(0, len(samples), spb)):
            c1, c2 = ms_c1[(bi + seed) % 7], ms_c2[(bi + seed) % 7]
            delta = 16 + (b0 * 7919 + seed * 131 + ch * 17) % 1000
            s2, s1 = samples[b0], samples[b0 + 1]
            out += [s2, s1]
            for s in samples[b0 + 2 : b0 + spb]:
                pred = ms_pred(s1, s2, c1, c2)
                code = max(-8, min(7, int((s - pred) / delta)))
                nib = code & 0x0F
                signed = nib - 16 if nib >= 8 else nib
                samp = clamp16(pred + signed * delta)
                delta = max(16, (ms_adapt[nib] * delta) >> 8)
                s2, s1 = s1, samp
                out.append(samp)
        return out

    rows = []
    for mid in range(n):
        fmtc, nch, spb = cycle[mid % len(cycle)]
        frames = -(-n_frames // spb) * spb
        x = (mid * 2654435761) % (2**32)
        vals = []
        for _ in range(frames * nch):
            x = (1103515245 * x + 12345) % (2**31)
            vals.append((x % 65536) - 32768)
        tracks = []
        for c in range(nch):
            ch_vals = vals[c::nch]
            if fmtc == 17:
                tracks.append(ima_reconstruct(ch_vals, spb))
            else:
                tracks.append(ms_reconstruct(ch_vals, spb, mid, c))
        s = np.empty(frames * nch, dtype=np.int64)
        for c in range(nch):
            s[c::nch] = tracks[c]
        rows.append(
            {
                "media_id": mid,
                "sample_rate": sample_rate,
                "n_channels": nch,
                "bits": 4,
                "n_frames": frames,
                "peak_abs": int(np.abs(s).max()),
                "mean_abs_e3": int(np.abs(s).sum()) * 1000 // len(s),
            }
        )
    return pa.Table.from_pylist(rows)


def audio_fp_golden(n_base: int = 12, n_frames: int = 1920, n_win: int = 64) -> pa.Table:
    """Expected (media_id, phash) for mm_audio_fingerprint's fixture:
    recomputed from the 16-bit LCG sample stream with an INDEPENDENT
    plain-Python pipeline — int16-wraparound perturbation, absolute-
    amplitude window sums, and a size-64 Hadamard MATRIX product (the
    recursive sign-matrix definition, not butterflies). The operator
    module is never imported."""
    had = [[1]]
    while len(had) < n_win:
        had = [r + r for r in had] + [r + [-x for x in r] for r in had]

    def fp(vals):
        per = len(vals) // n_win
        env = [sum(abs(v) for v in vals[w * per : (w + 1) * per]) for w in range(n_win)]
        coefs = [sum(had[i][k] * env[k] for k in range(n_win)) for i in range(n_win)][1:]
        med = sorted(coefs)[(len(coefs) - 1) // 2]
        return sum(1 << i for i, v in enumerate(coefs) if v > med)

    rows = []
    for i in range(n_base):
        x = (i * 2654435761) % (2**32)
        vals = []
        for _ in range(n_frames):
            x = (1103515245 * x + 12345) % (2**31)
            vals.append((x % 65536) - 32768)
        rows.append({"media_id": i, "phash": fp(vals)})
        pv = list(vals)
        for j in range(16):
            pos = (i * 48271 + j * 40503 + 12345) % len(pv)
            pv[pos] = ((pv[pos] + 32768 + 3000) % 65536) - 32768
        rows.append({"media_id": 100 + i, "phash": fp(pv)})
    return pa.Table.from_pylist(sorted(rows, key=lambda r: r["media_id"]))


def audio_augment_golden(
    n: int = 12, n_frames: int = 480, sample_rate: int = 8000,
    gain_num: int = 5, gain_den: int = 4,
) -> pa.Table:
    """Expected output of mm_audio_augment: the WAV_CYCLE LCG sample
    stream (decode_wav_golden's recomputation — RIFF parser never
    touched) pushed through toward-zero gain, int16 clip, and the
    positional checksum in plain numpy."""
    cycle = ((16, 1), (16, 2), (8, 1), (8, 2))
    rows = []
    for mid in range(n):
        bits, nch = cycle[mid % 4]
        x = (mid * 2654435761) % (2**32)
        vals = []
        for _ in range(n_frames * nch):
            x = (1103515245 * x + 12345) % (2**31)
            v = (x % 65536) - 32768 if bits == 16 else (x % 256) - 128
            vals.append(v)
        s = np.array(vals, dtype=np.int64)
        scaled = np.sign(s) * (np.abs(s) * gain_num // gain_den)
        clipped = np.clip(scaled, -32768, 32767)
        n = len(clipped)
        weights = np.arange(n, dtype=np.int64) % 97 + 1
        rows.append(
            {
                "media_id": mid, "sample_rate": sample_rate,
                "n_channels": nch, "n_frames": n // nch,
                "n_clipped": int((scaled != clipped).sum()),
                "peak_abs": int(np.abs(clipped).max()),
                "mean_abs_e3": int(np.abs(clipped).sum()) * 1000 // n,
                "pos_checksum": int((clipped * weights).sum()),
            }
        )
    return pa.Table.from_pylist(rows)


def audio_vad_rms_golden(
    n: int = 8, n_frames: int = 960, block: int = 80,
    mod: int = 6, loud_lt: int = 3,
) -> pa.Table:
    """Per-window RMS of the VAD fixture clips recomputed from the LCG
    sample stream + gain-block rule (RIFF parser never touched): 16-bit
    LCG samples, block b of clip m attenuated by floor-divide 16 unless
    (b + m) % mod < loud_lt; tumbling `block`-frame windows; exact
    integer energy and isqrt-scaled RMS. The mm_audio_vad oracle runs
    the SAME gaps-and-islands SQL over this table that the engine runs
    over its decoded windows."""
    import math

    rows = []
    for mid in range(n):
        x = (mid * 2654435761) % (2**32)
        vals = []
        for _ in range(n_frames):
            x = (1103515245 * x + 12345) % (2**31)
            vals.append((x % 65536) - 32768)
        samples = []
        for f, v in enumerate(vals):
            b = f // block
            samples.append(v if (b + mid) % mod < loud_lt else v // 16)
        for w in range(n_frames // block):
            seg = samples[w * block : (w + 1) * block]
            energy = sum(v * v for v in seg)
            rows.append(
                {
                    "media_id": mid, "window_idx": w,
                    "rms_e3": math.isqrt(energy * 1_000_000 // len(seg)),
                }
            )
    return pa.Table.from_pylist(rows)


GOLDENS = {
    "mm_decode_wav": decode_wav_golden,
    "mm_decode_wav_g711": decode_wav_g711_golden,
    "mm_decode_wav_deep": decode_wav_deep_golden,
    "mm_decode_wav_adpcm": decode_wav_adpcm_golden,
    "mm_audio_rms_windows": audio_rms_windows_golden,
    "mm_audio_fp": audio_fp_golden,
    "mm_audio_augment": audio_augment_golden,
    "mm_audio_vad_rms": audio_vad_rms_golden,
}


def main() -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    for name, fn in GOLDENS.items():
        pq.write_table(fn(), os.path.join(OUT_DIR, f"{name}.parquet"))
    print(f"wrote golden fixtures to {OUT_DIR}")


if __name__ == "__main__":
    main()
