"""WAV container coverage: 24/32-bit integer PCM and float32 round
trips, fact-chunk and truncated-fmt robustness, and the rejection of
the WAV encodings that are not decoded (G.711 A-law/mu-law, IMA ADPCM,
MP3-in-WAV), which audio_features turns into the stub."""

from __future__ import annotations

import struct

import pytest

from clear_map_data_pipeline_spark.operators import multimodal as mm


def test_wav_24_and_32_bit_pcm_roundtrip():
    s24 = [0, 1, -1, 8388607, -8388608, 123456, -654321]
    _, _, bits, out = mm.decode_wav(mm.encode_wav(s24, 48000, bits=24))
    assert bits == 24 and out == s24
    s32 = [0, 2**31 - 1, -(2**31), 7, -7]
    _, _, bits, out = mm.decode_wav(mm.encode_wav(s32, 48000, bits=32))
    assert bits == 32 and out == s32


def test_wav_float32_roundtrip_exact_on_int16_grid():
    """float32 storage of s/32767 recovers every int16 exactly (24-bit
    mantissa leaves the round() within half a unit)."""
    samples = list(range(-32768, 32768, 257)) + [32767, -32768, 0]
    n_ch, rate, bits, out = mm.decode_wav(
        mm.encode_wav(samples, 44100, fmt="float32")
    )
    assert (n_ch, rate, bits) == (1, 44100, 32)
    assert out == samples


def test_wav_fact_chunk_robustness():
    """decode_wav ignores the fact chunk that float32 WAVs carry: an
    oversized frame count or a truncated fact body leaves the decoded
    signal intact."""
    pcm = [((i * 29) % 1200) - 600 for i in range(505)]
    payload = mm.encode_wav(pcm, 8000, fmt="float32")
    want = mm.decode_wav(payload)[3]
    assert want == pcm

    i = payload.index(b"fact")
    oversized = (
        payload[: i + 8] + struct.pack("<I", 10**6) + payload[i + 12 :]
    )
    assert mm.decode_wav(oversized)[3] == want

    short = (
        payload[:i]
        + b"fact" + struct.pack("<I", 2) + b"\x00\x00"
        + payload[i + 12 :]
    )
    assert mm.decode_wav(short)[3] == want


def _riff_wave(
    tag: int, bits: int, data: bytes, ext: bytes = b"", chunks: bytes = b""
) -> bytes:
    """Hand-built mono 8 kHz WAV with an arbitrary fmt tag; ``chunks``
    go between the fmt and data chunks."""
    align = max(bits // 8, 1)
    fmt = struct.pack("<HHIIHH", tag, 1, 8000, 8000 * align, align, bits) + ext
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + chunks
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_wav_rejects_unknown_fmt(spark):
    """Only integer PCM and float32 WAV decode.  MP3-in-WAV (fmt 85),
    G.711 A-law (fmt 6), mu-law (fmt 7, laid out as encoders write it:
    18-byte fmt with cbSize 0, then a fact chunk) and IMA ADPCM (fmt
    0x11, with its wSamplesPerBlock extension) raise
    ValueError("unsupported WAV"), and a hand-built fLaC stream is not
    a WAV at all; audio_features turns every one into the
    headerless-PCM stub."""
    wav = bytearray(mm.encode_wav([1, 2, 3], 8000))
    i = bytes(wav).find(b"fmt ") + 8
    wav[i : i + 2] = struct.pack("<H", 85)  # MP3-in-WAV tag
    g711 = bytes(range(0, 160, 10))
    fact = b"fact" + struct.pack("<II", 4, len(g711))
    unsupported = [
        bytes(wav),
        _riff_wave(6, 8, g711),
        _riff_wave(7, 8, g711, struct.pack("<H", 0), fact),
        _riff_wave(0x11, 4, bytes(range(0, 40, 2)), struct.pack("<HH", 2, 33)),
    ]
    for payload in unsupported:
        with pytest.raises(ValueError, match="unsupported WAV"):
            mm.decode_wav(payload)
    # fLaC + a last-block STREAMINFO: 4096-sample blocks, 8 kHz, mono,
    # 16-bit, 64 samples, zero MD5
    info = (
        struct.pack(">HH", 4096, 4096) + bytes(6)
        + ((8000 << 44) | (15 << 36) | 64).to_bytes(8, "big") + bytes(16)
    )
    streaminfo = b"fLaC" + b"\x80" + len(info).to_bytes(3, "big") + info
    with pytest.raises(ValueError, match="not a WAV"):
        mm.decode_wav(streaminfo)

    payloads = unsupported + [streaminfo]
    df = spark.createDataFrame(
        list(enumerate(payloads)), "doc_id long, payload binary"
    )
    rows = {r["doc_id"]: r for r in mm.audio_features(df).collect()}
    for i, payload in enumerate(payloads):
        # stub: raw unsigned bytes at the default 16 kHz
        assert rows[i]["n_samples"] == len(payload), i
        assert rows[i]["peak_amp"] == max(payload), i


def test_audio_features_truncated_fmt_chunk_stubs(spark):
    """A RIFF/WAVE payload whose fmt chunk is shorter than 16 bytes
    must degrade to the stub, not abort the batch (struct.error)."""
    bad = (
        b"RIFF" + struct.pack("<I", 20) + b"WAVE"
        + b"fmt " + struct.pack("<I", 4) + b"\x01\x00\x01\x00"
    )
    df = spark.createDataFrame([(2, bad)], "doc_id long, payload binary")
    (row,) = mm.audio_features(df).collect()
    assert row["n_samples"] == len(bad)  # stub: raw byte count


def test_audio_features_mulaw_real_path(spark):
    """audio_features sends a mu-law WAV down its real path, since the
    payload sniffs as RIFF/WAVE; decode_wav rejects fmt 7 there, and
    the stub fallback is per row: the mu-law row alone takes the stub,
    while a 16-bit PCM row in the same batch still decodes for real."""
    mulaw = _riff_wave(7, 8, bytes(range(0, 250, 5)))
    samples = [0, 9000, -9000, 30000, -30000] * 40
    pcm = mm.encode_wav(samples, 8000)
    df = spark.createDataFrame(
        [(1, mulaw), (2, pcm)], "doc_id long, payload binary"
    )
    rows = {r["doc_id"]: r for r in mm.audio_features(df).collect()}
    # stub: raw unsigned bytes at the default 16 kHz
    assert rows[1]["n_samples"] == len(mulaw)
    assert rows[1]["duration_s"] == round(len(mulaw) / 16000, 6)
    assert rows[1]["peak_amp"] == max(mulaw)
    # real: true count, rate and signed peak
    assert rows[2]["n_samples"] == len(samples)
    assert rows[2]["duration_s"] == round(len(samples) / 8000, 6)
    assert rows[2]["peak_amp"] == 30000
