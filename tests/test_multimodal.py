"""Audio codec and pipeline tests: WAV round-trips against stdlib `wave`,
the decode boundary, ADPCM/G.711 expansion, windowed RMS, the envelope
fingerprint, and the Arrow-batched Spark passes over them.
"""

from __future__ import annotations

import pytest

from gtec_etl_spark.operators import multimodal as M


def test_wav_roundtrip_vs_stdlib_wave():
    """The pure-struct WAV parser agrees with stdlib `wave` (an
    independent RIFF implementation) on header fields AND every sample,
    for all four WAV_CYCLE layouts."""
    import io
    import wave

    import numpy as np

    for i, (bits, nch) in enumerate(M.WAV_CYCLE):
        blob = M.fake_wav(480, 8000, seed=i, bits=bits, n_channels=nch)
        rate, got_nch, got_bits, s = M._decode_wav(blob)
        w = wave.open(io.BytesIO(blob))
        assert (w.getframerate(), w.getnchannels(), w.getsampwidth() * 8) == (
            rate,
            got_nch,
            got_bits,
        )
        assert w.getnframes() == len(s) // nch
        raw = w.readframes(480)
        if bits == 16:
            ref = np.frombuffer(raw, dtype="<i2").astype(np.int64)
        else:
            ref = np.frombuffer(raw, dtype=np.uint8).astype(np.int64) - 128
        assert (ref == s).all()


def test_wav_parser_skips_extra_chunks():
    """Chunk-walking contract: LIST/INFO (or any unknown) chunks between
    fmt and data must be skipped, including odd-length word alignment."""
    blob = M.fake_wav(16, 8000, seed=3, bits=16, n_channels=1)
    fmt_at = blob.index(b"fmt ")
    data_at = blob.index(b"data")
    extra = b"LIST" + (5).to_bytes(4, "little") + b"INFOx" + b"\x00"  # padded
    hacked = blob[:data_at] + extra + blob[data_at:]
    import struct as st

    hacked = (
        hacked[:4]
        + st.pack("<I", len(hacked) - 8)
        + hacked[8:]
    )
    assert fmt_at < data_at
    rate, nch, bits, s = M._decode_wav(hacked)
    _, _, _, s0 = M._decode_wav(blob)
    assert (rate, nch, bits) == (8000, 1, 16) and (s == s0).all()


def test_wav_boundary_rejects_unsupported():
    import struct as st

    def wav_with_fmt(audio_format, bits):
        fmt = st.pack("<HHIIHH", audio_format, 1, 8000, 8000 * bits // 8, bits // 8, bits)
        data = b"\x00" * 8
        body = b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt + b"data" + st.pack("<I", len(data)) + data
        return b"RIFF" + st.pack("<I", len(body)) + body

    # Rounds 9-10 moved all integer PCM depths, float32/float64, the
    # G.711 companded formats, and BOTH ADPCM families (IMA 17, MS 2)
    # INSIDE the boundary; what remains out: genuinely library-grade
    # formats (MP3, extensible) and malformed bit widths.
    for audio_format, bits in ((85, 16), (0xFFFE, 16), (1, 12), (3, 16)):
        with pytest.raises(NotImplementedError):
            M._decode_wav(wav_with_fmt(audio_format, bits))
    # Well-formed ADPCM decodes; a malformed block_align (smaller than
    # the per-channel block header) must raise a descriptive ValueError
    # instead of IndexError / looping forever.
    blob = M.fake_wav_ima_adpcm(9, 8000, seed=1, samples_per_block=9)
    rate, nch, bits, s = M._decode_wav(blob)
    assert (rate, nch, bits) == (8000, 1, 4) and len(s) == 9
    blob = M.fake_wav_ms_adpcm(8, 8000, seed=1, samples_per_block=8)
    rate, nch, bits, s = M._decode_wav(blob)
    assert (rate, nch, bits) == (8000, 1, 4) and len(s) == 8
    for bad_fmt in (17, 2):
        with pytest.raises(ValueError, match="block_align"):
            M._decode_wav(wav_with_fmt(bad_fmt, 4))


def test_decode_audio_distributed(spark):
    """decode_audio through the real mapInPandas path matches the direct
    per-clip parse."""
    media = M.wav_media_table(spark, n=8, n_frames=64, sample_rate=16000)
    rows = {r["media_id"]: r for r in M.decode_audio(media).collect()}
    import numpy as np

    for i in range(8):
        bits, nch = M.WAV_CYCLE[i % 4]
        _, _, _, s = M._decode_wav(
            M.fake_wav(64, 16000, seed=i, bits=bits, n_channels=nch)
        )
        r = rows[i]
        assert (r["sample_rate"], r["n_channels"], r["bits"]) == (16000, nch, bits)
        assert r["n_frames"] == 64
        assert r["peak_abs"] == int(np.abs(s).max())
        assert r["mean_abs_e3"] == int(1000 * np.abs(s).sum()) // len(s)


def test_audio_rms_windows_partial_tail_window(spark):
    """480/160 divides evenly in the golden fixture, so the partial-tail
    path needs its own check: 170 frames at window 160 must yield windows
    of 160 and 10 frames whose energies sum to the clip total."""
    import math

    import numpy as np

    from gtec_etl_spark.operators import multimodal as M

    media = M.wav_media_table(spark, n=2, n_frames=170, sample_rate=8000)
    got = M.audio_rms_windows(media, window_frames=160).orderBy(
        "media_id", "window_idx"
    ).collect()
    by_id = {}
    for r in got:
        by_id.setdefault(r["media_id"], []).append(r)
    for mid, rows in by_id.items():
        assert [r["n_frames"] for r in rows] == [160, 10]
        bits, nch = M.WAV_CYCLE[mid % len(M.WAV_CYCLE)]
        vals = M.wav_values(170 * nch, seed=mid, bits=bits)
        s = np.array(
            [v if bits == 16 else v - 128 for v in vals], dtype=np.int64
        )
        assert sum(r["energy"] for r in rows) == int((s * s).sum())
        seg = s[160 * nch :]
        e = int((seg * seg).sum())
        assert rows[1]["rms_e3"] == math.isqrt(e * 1_000_000 // len(seg))


def test_wav_deep_roundtrip_vs_stdlib_wave():
    """Wide integer layouts (24/32-bit PCM) agree with stdlib `wave` on
    header fields and every sample; the float32 layout (which `wave`
    cannot read) round-trips exactly to the 16-bit LCG stream via the
    *32768 truncation."""
    import io
    import struct
    import wave

    import numpy as np

    for i, (bits, nch, fmtc) in enumerate(M.WAV_DEEP_CYCLE):
        blob = M.fake_wav(480, 8000, seed=i, bits=bits, n_channels=nch, audio_format=fmtc)
        rate, got_nch, got_bits, s = M._decode_wav(blob)
        assert (rate, got_nch, got_bits) == (8000, nch, 32 if fmtc == 3 else bits)
        assert len(s) == 480 * nch
        if fmtc == 3:
            ref = np.array(M.wav_values(480 * nch, seed=i, bits=16), dtype=np.int64)
            assert (ref == s).all()
            # And the raster really is IEEE float32 of v/32768.
            data = blob[blob.rindex(b"data") + 8 :]
            f0 = struct.unpack("<f", data[:4])[0]
            assert f0 == ref[0] / 32768.0
            continue
        w = wave.open(io.BytesIO(blob))
        assert (w.getframerate(), w.getnchannels(), w.getsampwidth() * 8) == (
            rate,
            got_nch,
            got_bits,
        )
        assert w.getnframes() == len(s) // nch
        raw = w.readframes(480)
        if bits == 24:
            b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3).astype(np.int64)
            ref = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
            ref = np.where(ref >= 1 << 23, ref - (1 << 24), ref)
        else:
            ref = np.frombuffer(raw, dtype="<i4").astype(np.int64)
        assert (ref == s).all()


def test_wav_decode_boundary_rejects_adpcm():
    """ADPCM (format 2) stays beyond the boundary with a descriptive
    error (a-law moved inside in round 9 — see mm_decode_wav_g711)."""
    import struct

    import pytest as _pytest

    blob = bytearray(M.fake_wav(16, 8000, seed=1, bits=8, n_channels=1))
    fmt_pos = blob.index(b"fmt ") + 8
    blob[fmt_pos : fmt_pos + 2] = struct.pack("<H", 2)
    with _pytest.raises(NotImplementedError, match="format=2"):
        M._decode_wav(bytes(blob))


def test_wav_g711_expand_reference_points():
    """The G.711 expansion formulas hit the published reference values and
    the companding error stays within the top-segment quantization bound."""
    import numpy as np

    from gtec_etl_spark.operators import multimodal as M

    assert list(M._mulaw_expand(np.array([0xFF, 0x7F, 0x80, 0x00], dtype=np.uint8))) == [
        0, 0, 32124, -32124,
    ]
    assert list(M._alaw_expand(np.array([0xD5, 0x55, 0xAA, 0x2A], dtype=np.uint8))) == [
        8, -8, 32256, -32256,
    ]
    vals = np.array(M.wav_values(960, 3, 16), dtype=np.int64)
    for fmt, comp, exp, bound in (
        (6, M.alaw_compress, M._alaw_expand, 512),
        (7, M.mulaw_compress, M._mulaw_expand, 512),
    ):
        got = exp(np.array([comp(int(v)) for v in vals], dtype=np.uint8))
        assert int(np.abs(got - vals).max()) <= bound
        blob = M.fake_wav(480, 8000, seed=3, bits=8, n_channels=2, audio_format=fmt)
        rate, nch, bits, s = M._decode_wav(blob)
        assert (rate, nch, bits) == (8000, 2, 8)
        assert (s == got).all()


def test_wav_adpcm_decode_properties():
    """Both ADPCM codecs: header samples are exact, the reconstruction
    tracks the source (lossy but correlated), and malformed predictor
    indices are rejected descriptively."""
    import numpy as np

    for fmtc, nch, spb in M.WAV_ADPCM_CYCLE:
        frames = M.adpcm_frames(480, spb)
        enc = M.fake_wav_ima_adpcm if fmtc == 17 else M.fake_wav_ms_adpcm
        blob = enc(frames, 8000, seed=5, n_channels=nch, samples_per_block=spb)
        rate, n2, bits, s = M._decode_wav(blob)
        assert (rate, n2, bits) == (8000, nch, 4)
        assert len(s) == frames * nch
        vals = np.array(M.wav_values(frames * nch, 5, 16), dtype=np.float64)
        corr = np.corrcoef(vals, s.astype(np.float64))[0, 1]
        assert corr > 0.7, (fmtc, nch, spb, corr)
        # block-seed samples decode exactly: IMA seeds 1/block, MS 2/block
        seeds = 1 if fmtc == 17 else 2
        for c in range(nch):
            ch_vals = vals[c::nch].astype(np.int64)
            ch_dec = s[c::nch]
            for b0 in range(0, frames, spb):
                assert (ch_dec[b0 : b0 + seeds] == ch_vals[b0 : b0 + seeds]).all()
    # malformed MS predictor index (>= 7) must raise, not index OOB
    blob = bytearray(M.fake_wav_ms_adpcm(8, 8000, seed=1, samples_per_block=8))
    at = blob.index(b"data") + 8
    blob[at] = 9  # first block's predictor byte
    with pytest.raises(ValueError, match="predictor index"):
        M._decode_wav(bytes(blob))


def test_decode_audio_adpcm_distributed(spark):
    """wav_adpcm_media_table through the real mapInPandas path matches the
    direct per-clip parse."""
    import numpy as np

    media = M.wav_adpcm_media_table(spark, n=6, n_frames=480, sample_rate=8000)
    rows = {r["media_id"]: r for r in M.decode_audio(media).collect()}
    for i in range(6):
        fmtc, nch, spb = M.WAV_ADPCM_CYCLE[i % len(M.WAV_ADPCM_CYCLE)]
        frames = M.adpcm_frames(480, spb)
        enc = M.fake_wav_ima_adpcm if fmtc == 17 else M.fake_wav_ms_adpcm
        _, _, _, s = M._decode_wav(
            enc(frames, 8000, seed=i, n_channels=nch, samples_per_block=spb)
        )
        r = rows[i]
        assert (r["sample_rate"], r["n_channels"], r["bits"]) == (8000, nch, 4)
        assert r["n_frames"] == frames
        assert r["peak_abs"] == int(np.abs(s).max())
        assert r["mean_abs_e3"] == int(np.abs(s).sum()) * 1000 // len(s)


def test_audio_wht_fp_properties():
    """Audio fingerprint invariants: perturbed copies within Hamming 6,
    distinct clips far, minimum-length validation."""
    import numpy as np

    hashes = []
    for i in range(6):
        _, _, _, s0 = M._decode_wav(M.fake_wav(1920, 8000, seed=i))
        _, _, _, s1 = M._decode_wav(
            M.fake_wav(1920, 8000, seed=i, perturb=16, perturb_delta=3000)
        )
        h0, h1 = M.audio_wht_fp64(s0), M.audio_wht_fp64(s1)
        assert 0 <= h0 < (1 << 63)
        assert bin(h0 ^ h1).count("1") <= 6
        hashes.append(h0)
    for i in range(6):
        for j in range(i + 1, 6):
            assert bin(hashes[i] ^ hashes[j]).count("1") > 6
    with pytest.raises(ValueError, match="samples"):
        M.audio_wht_fp64(np.zeros(10, dtype=np.int64))
    with pytest.raises(ValueError, match="16-bit PCM"):
        M.fake_wav(64, 8000, seed=0, bits=8, perturb=1)
