"""Multimodal plumbing: schemas, batch shapes, determinism of the stub
decode, and row expansion of frame sampling."""

from __future__ import annotations

from clear_map_data_pipeline_spark.operators import multimodal as mm
from clear_map_data_pipeline_spark.session import Tables


def test_image_features_schema_and_determinism(spark, sf_dir):
    docs = Tables(spark, sf_dir).documents
    feats = mm.image_features(mm.attach_binary_payload(docs))
    assert feats.columns == ["doc_id", "n_bytes", "checksum", "width", "height"]
    a = {r["doc_id"]: (r["checksum"], r["width"], r["height"]) for r in feats.collect()}
    b = {r["doc_id"]: (r["checksum"], r["width"], r["height"]) for r in feats.collect()}
    assert a == b and len(a) == docs.count()
    # stub decode mirrors the local function exactly
    row = docs.select("doc_id", "text").first()
    crc, w, h = mm.decode_stub(row["text"].encode("utf-8"))
    assert a[row["doc_id"]] == (crc, w, h)


def test_real_decoder_seam_raises(spark, sf_dir):
    import pytest

    docs = Tables(spark, sf_dir).documents.limit(1)
    feats = mm.image_features(
        mm.attach_binary_payload(docs), use_real_decoder=True
    )
    with pytest.raises(Exception):
        feats.collect()


def test_image_resize_fixed_output(spark, sf_dir):
    docs = Tables(spark, sf_dir).documents
    resized = mm.image_resize(mm.attach_binary_payload(docs), out_w=8, out_h=8)
    rows = resized.collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert (r["width"], r["height"]) == (8, 8)
        assert 0 < len(r["pixels"]) <= 64


def test_audio_features_stats(spark, sf_dir):
    import numpy as np

    docs = Tables(spark, sf_dir).documents
    feats = mm.audio_features(mm.attach_binary_payload(docs), sample_rate=16000)
    a = {r["doc_id"]: (r["n_samples"], r["duration_s"], r["mean_amp"], r["peak_amp"])
         for r in feats.collect()}
    assert len(a) == docs.count()
    row = docs.select("doc_id", "text").first()
    arr = np.frombuffer(row["text"].encode("utf-8"), dtype=np.uint8)
    assert a[row["doc_id"]] == (
        len(arr),
        round(len(arr) / 16000, 6),
        round(float(arr.mean()), 4),
        int(arr.max()),
    )


def test_frame_sample_expansion(spark, sf_dir):
    docs = Tables(spark, sf_dir).documents
    n_docs = docs.count()
    frames = mm.frame_sample(mm.attach_binary_payload(docs), n_frames=4)
    rows = frames.collect()
    assert len(rows) == 4 * n_docs
    assert {r["frame_idx"] for r in rows} == {0, 1, 2, 3}
    assert all(len(r["frame_bytes"]) > 0 for r in rows)


# ---- real decoders (r03): pure-stdlib PNG + WAV


def _forward_filter(f, line, prev, ch):
    """Apply PNG forward filter f to a raw scanline (test helper for
    exercising every unfilter branch of decode_png)."""
    out = bytearray()
    for i in range(len(line)):
        a = line[i - ch] if i >= ch else 0
        b = prev[i]
        c = prev[i - ch] if i >= ch else 0
        if f == 0:
            out.append(line[i])
        elif f == 1:
            out.append((line[i] - a) & 0xFF)
        elif f == 2:
            out.append((line[i] - b) & 0xFF)
        elif f == 3:
            out.append((line[i] - ((a + b) >> 1)) & 0xFF)
        elif f == 4:
            pp = a + b - c
            pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out.append((line[i] - pred) & 0xFF)
    return bytes(out)


def test_png_roundtrip_all_channel_counts():
    from clear_map_data_pipeline_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    for ch in (1, 3, 4):
        w, h = 7, 5
        pixels = bytes((i * 37 + ch * 11) % 256 for i in range(w * h * ch))
        data = encode_png(w, h, ch, pixels)
        gw, gh, gch, gpix = decode_png(data)
        assert (gw, gh, gch) == (w, h, ch)
        assert gpix == pixels


def test_png_decode_every_filter_type():
    """Hand-filter scanlines with filters 0-4 (incl. Paeth) and check
    decode_png reconstructs the original pixels exactly."""
    import struct
    import zlib as _zlib

    from clear_map_data_pipeline_spark.operators.multimodal import (
        PNG_MAGIC,
        decode_png,
    )

    w, h, ch = 6, 5, 3
    stride = w * ch
    pixels = bytes((i * 29 + 7) % 256 for i in range(w * h * ch))
    rows = [pixels[r * stride : (r + 1) * stride] for r in range(h)]
    raw = bytearray()
    prev = bytes(stride)
    for r, f in zip(rows, [0, 1, 2, 3, 4]):
        raw += bytes([f]) + _forward_filter(f, r, prev, ch)
        prev = r

    def chunk(typ, body):
        return (
            struct.pack(">I", len(body)) + typ + body
            + struct.pack(">I", _zlib.crc32(typ + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (
        PNG_MAGIC + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    gw, gh, gch, gpix = decode_png(data)
    assert (gw, gh, gch) == (w, h, ch) and gpix == pixels


def test_wav_roundtrip_8_and_16_bit():
    from clear_map_data_pipeline_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    s16 = [0, 100, -100, 32767, -32768, 5]
    n_ch, rate, bits, got = decode_wav(encode_wav(s16, 8000, 16))
    assert (n_ch, rate, bits) == (1, 8000, 16) and got == s16
    s8 = [0, 1, 255, 128]
    n_ch, rate, bits, got = decode_wav(encode_wav(s8, 16000, 8))
    assert (n_ch, rate, bits) == (1, 16000, 8) and got == s8


def test_image_features_decodes_real_png(spark):
    from pyspark.sql import functions as F
    import zlib as _zlib

    from clear_map_data_pipeline_spark.operators.multimodal import (
        encode_png,
        image_features,
    )

    w, h, ch = 9, 4, 3
    pixels = bytes((i * 13) % 256 for i in range(w * h * ch))
    png = encode_png(w, h, ch, pixels)
    df = spark.createDataFrame([(1, png), (2, b"not an image")],
                               "doc_id long, payload binary")
    rows = {r["doc_id"]: r for r in image_features(df).collect()}
    # PNG payload: true dimensions + adler of the DECODED pixel buffer
    assert rows[1]["width"] == w and rows[1]["height"] == h
    assert rows[1]["checksum"] == _zlib.adler32(pixels)
    # non-PNG payload: deterministic stub features (not a crash)
    assert rows[2]["n_bytes"] == len(b"not an image")


def test_image_resize_real_png_nearest_neighbor(spark):
    from clear_map_data_pipeline_spark.operators.multimodal import (
        encode_png,
        image_resize,
    )

    w, h, ch = 8, 8, 1
    pixels = bytes((x + 16 * y) % 256 for y in range(h) for x in range(w))
    png = encode_png(w, h, ch, pixels)
    df = spark.createDataFrame([(1, png)], "doc_id long, payload binary")
    (row,) = image_resize(df, out_w=4, out_h=4).collect()
    got = bytes(row["pixels"])
    want = bytes(
        pixels[(j * 8 // 4) * 8 + (i * 8 // 4)]
        for j in range(4)
        for i in range(4)
    )
    assert got == want


def test_audio_features_decodes_real_wav(spark):
    from clear_map_data_pipeline_spark.operators.multimodal import (
        audio_features,
        encode_wav,
    )

    samples = [0, 1000, -2000, 30000, -5]
    wav = encode_wav(samples, sample_rate=8000, bits=16)
    df = spark.createDataFrame([(1, wav)], "doc_id long, payload binary")
    (row,) = audio_features(df).collect()
    assert row["n_samples"] == len(samples)
    assert row["duration_s"] == round(len(samples) / 8000, 6)
    assert row["peak_amp"] == 30000  # abs of signed PCM


def test_png_roundtrip_property():
    """Hypothesis: encode->decode is identity for arbitrary small
    images across channel counts."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clear_map_data_pipeline_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=12),
        h=st.integers(min_value=1, max_value=12),
        ch=st.sampled_from([1, 3, 4]),
        data=st.data(),
    )
    def run(w, h, ch, data):
        pixels = bytes(
            data.draw(
                st.lists(
                    st.integers(min_value=0, max_value=255),
                    min_size=w * h * ch,
                    max_size=w * h * ch,
                )
            )
        )
        assert decode_png(encode_png(w, h, ch, pixels)) == (w, h, ch, pixels)

    run()


def _tiny_gif(n_frames):
    """Build a minimal valid GIF with n single-pixel frames (test
    helper; pixel data is a trivial LZW stream for a 2-color image)."""
    import struct

    sig = b"GIF89a"
    screen = struct.pack("<HHBBB", 1, 1, 0x80, 0, 0)  # global table flag
    gct = b"\x00\x00\x00\xff\xff\xff"  # 2-entry global color table
    frames = b""
    for _ in range(n_frames):
        # graphic control extension (0x21 0xF9, 4-byte block, term)
        frames += b"\x21\xf9\x04\x00\x00\x00\x00\x00"
        desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, 1, 1, 0)
        # LZW min code 2; one 2-byte sub-block; terminator
        frames += desc + b"\x02\x02\x44\x01\x00"
    return sig + screen + gct + frames + b"\x3b"


def test_gif_frames_walks_container():
    from clear_map_data_pipeline_spark.operators.multimodal import gif_frames

    for n in (1, 3, 7):
        frames = gif_frames(_tiny_gif(n))
        assert len(frames) == n
        assert all(f[0] == 0x2C for f in frames)  # image separator


def test_frame_sample_real_gif(spark):
    from clear_map_data_pipeline_spark.operators.multimodal import (
        frame_sample,
    )

    gif7 = _tiny_gif(7)   # more frames than sampled -> evenly spaced 4
    gif2 = _tiny_gif(2)   # fewer -> all of them
    df = spark.createDataFrame(
        [(1, gif7), (2, gif2), (3, b"rawbytesnotagif!")],
        "doc_id long, payload binary",
    )
    rows = frame_sample(df, n_frames=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 4
    assert all(bytes(r["frame_bytes"])[0] == 0x2C for r in by_doc[1])
    assert len(by_doc[2]) == 2
    assert len(by_doc[3]) == 4  # stub path: byte slices


def test_gif_lzw_roundtrip_exact():
    """GIF is palette-lossless: encode_gif -> decode_gif must reproduce
    the RGB expansion EXACTLY — across palette sizes (width growth up
    to 12 bits), interlaced row order, degenerate 1x1/1-row shapes,
    the dictionary-full clear/reset path, and run-heavy content (deep
    dictionary chains + the KwKwK code)."""
    import numpy as np

    from clear_map_data_pipeline_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    rng = np.random.RandomState(3)
    cases = [(8, 8, 4), (17, 9, 16), (40, 33, 256), (1, 1, 2), (64, 1, 7)]
    for w, h, npal in cases:
        palette = [
            tuple(int(x) for x in rng.randint(0, 256, 3)) for _ in range(npal)
        ]
        idx = bytes(rng.randint(0, npal, w * h).astype(np.uint8))
        want = b"".join(bytes(palette[k]) for k in idx)
        for inter in (False, True):
            assert decode_gif(encode_gif(w, h, idx, palette, interlace=inter)) == (
                w, h, 3, want,
            ), (w, h, npal, inter)
    # 30k random 256-color pixels force the 4096-entry table reset
    w, h = 200, 150
    palette = [tuple(int(x) for x in rng.randint(0, 256, 3)) for _ in range(256)]
    idx = bytes(rng.randint(0, 256, w * h).astype(np.uint8))
    want = b"".join(bytes(palette[k]) for k in idx)
    assert decode_gif(encode_gif(w, h, idx, palette)) == (w, h, 3, want)
    # long runs: deep chains + KwKwK
    idx2 = bytes(([0] * 500 + [1] * 300 + [2] * 200) * 30)[: w * h]
    want2 = b"".join(bytes(palette[k]) for k in idx2)
    assert decode_gif(encode_gif(w, h, idx2, palette)) == (w, h, 3, want2)


def test_gif_decode_independent_fixture():
    """decode_gif on the HAND-BUILT _tiny_gif fixture (written byte by
    byte from the GIF89a spec, not by our encoder): one black pixel."""
    from clear_map_data_pipeline_spark.operators.multimodal import decode_gif

    assert decode_gif(_tiny_gif(1)) == (1, 1, 3, b"\x00\x00\x00")


def test_image_features_decodes_real_gif(spark):
    """Spark dispatch: a GIF payload is magic-sniffed and decodes for
    REAL — checksum is the adler32 of the palette-expanded RGB buffer,
    dims are the frame's true dimensions."""
    import zlib

    import numpy as np

    from clear_map_data_pipeline_spark.operators.multimodal import (
        encode_gif,
        image_features,
    )

    w, h = 12, 5
    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    rng = np.random.RandomState(11)
    idx = bytes(rng.randint(0, 4, w * h).astype(np.uint8))
    rgb = b"".join(bytes(palette[k]) for k in idx)
    df = spark.createDataFrame(
        [(1, encode_gif(w, h, idx, palette))], "doc_id long, payload binary"
    )
    (row,) = image_features(df, use_real_decoder=True).collect()
    assert (row["width"], row["height"]) == (w, h)
    assert row["checksum"] == zlib.adler32(rgb)


def test_mp4_demux_roundtrip_and_chunking():
    """REAL MP4 sample extraction: the stsz/stco/stsc join must locate
    every sample exactly, across single-chunk, per-sample-chunk, and
    mixed samples-per-chunk layouts (multi-run stsc)."""
    from clear_map_data_pipeline_spark.operators.multimodal import (
        encode_mp4,
        mp4_frames,
    )

    samples = [b"frameA", b"frame_BB", b"fr_C", b"D" * 20, b"EE", b"FFF", b"G"]
    for chunking in (None, [2, 2, 3], [1] * 7, [3, 4]):
        enc = encode_mp4(samples, chunking=chunking)
        assert mp4_frames(enc) == samples, chunking


def test_mp4_hand_built_box_walk():
    """Demux a container assembled byte-by-byte (not by encode_mp4):
    64-bit largesize mdat + co64 chunk offsets."""
    import struct

    from clear_map_data_pipeline_spark.operators.multimodal import mp4_frames

    def box(typ, body):
        return struct.pack(">I", len(body) + 8) + typ + body

    samples = [b"aaaa", b"bb"]
    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00")
    payload = b"".join(samples)
    mdat = struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + len(payload)) + payload
    off0 = len(ftyp) + 16
    stsz = box(b"stsz", struct.pack(">III", 0, 0, 2) + struct.pack(">II", 4, 2))
    co64 = box(b"co64", struct.pack(">II", 0, 1) + struct.pack(">Q", off0))
    stsc = box(b"stsc", struct.pack(">II", 0, 1) + struct.pack(">III", 1, 2, 1))
    stbl = box(b"stbl", stsz + co64 + stsc)
    data = ftyp + mdat + box(
        b"moov", box(b"trak", box(b"mdia", box(b"minf", stbl)))
    )
    assert mp4_frames(data) == samples


def test_frame_sample_real_mp4(spark):
    """Spark dispatch: MP4 payloads get REAL samples through
    frame_sample (evenly spaced when more than n_frames); corrupt
    ftyp-magic payloads fall back to stub slices."""
    from clear_map_data_pipeline_spark.operators.multimodal import (
        encode_mp4,
        frame_sample,
    )

    samples = [bytes([65 + i]) * (i + 3) for i in range(7)]
    mp4 = encode_mp4(samples, chunking=[3, 4])
    corrupt = b"\x00\x00\x00\x08ftypcorrupt-not-boxes"
    df = spark.createDataFrame(
        [(1, mp4), (2, corrupt)], "doc_id long, payload binary"
    )
    rows = {}
    for r in frame_sample(df, n_frames=4).collect():
        rows.setdefault(r["doc_id"], []).append(bytes(r["frame_bytes"]))
    assert rows[1] == [samples[k * 7 // 4] for k in range(4)]
    assert len(rows[2]) == 4  # stub slices, batch not aborted


def test_mp4_adversarial_counts_raise_not_allocate():
    """Crafted table counts must raise ValueError before allocating
    (r05 self-review: a 124-byte payload claiming 2^31 samples forced
    a ~17 GB list) — and chunk tables covering fewer samples than stsz
    declares must raise, not silently truncate."""
    import struct

    import pytest

    from clear_map_data_pipeline_spark.operators.multimodal import (
        encode_mp4,
        mp4_frames,
        mp4_sample_ranges,
    )

    def box(typ, body):
        return struct.pack(">I", len(body) + 8) + typ + body

    ftyp = box(b"ftyp", b"isom")
    huge_stsz = box(b"stsz", struct.pack(">III", 0, 1, 1 << 31))
    stco = box(b"stco", struct.pack(">II", 0, 1) + struct.pack(">I", 16))
    stsc = box(b"stsc", struct.pack(">II", 0, 1) + struct.pack(">III", 1, 1, 1))
    bad = ftyp + box(
        b"moov",
        box(b"trak", box(b"mdia", box(b"minf", box(b"stbl", huge_stsz + stco + stsc)))),
    )
    with pytest.raises(ValueError):
        mp4_sample_ranges(bad)
    # stsz table longer than its box
    lying_stsz = box(b"stsz", struct.pack(">III", 0, 0, 1000))
    bad2 = ftyp + box(
        b"moov",
        box(b"trak", box(b"mdia", box(b"minf", box(b"stbl", lying_stsz + stco + stsc)))),
    )
    with pytest.raises(ValueError):
        mp4_sample_ranges(bad2)
    # chunk capacity below stsz count
    good = bytearray(encode_mp4([b"aa", b"bb", b"cc"], chunking=[3]))
    i = bytes(good).find(b"stsc") + 4
    # rewrite samples-per-chunk 3 -> 2
    good[i + 8 + 4 : i + 8 + 8] = struct.pack(">I", 2)
    with pytest.raises(ValueError, match="fewer samples"):
        mp4_frames(bytes(good))


def test_audio_features_corrupt_flac_falls_back_to_stub(spark):
    """A payload with the fLaC magic but garbage after degrades to the
    headerless-PCM stub (FLAC is not decoded), not abort the batch."""
    from clear_map_data_pipeline_spark.operators.multimodal import (
        audio_features,
    )

    bad = b"fLaC" + b"\x77" * 40
    df = spark.createDataFrame([(1, bad)], "doc_id long, payload binary")
    (row,) = audio_features(df).collect()
    assert row["n_samples"] == len(bad)  # stub path: raw byte count


def test_frame_sample_corrupt_gif_falls_back_to_stub(spark):
    """GIF-magic corruption degrades to stub slices — same contract as
    the MP4 path (r05 self-review: was an uncaught ValueError)."""
    from clear_map_data_pipeline_spark.operators.multimodal import (
        frame_sample,
    )

    bad = b"GIF89a" + b"\x01\x02\x03" * 5
    df = spark.createDataFrame([(7, bad)], "doc_id long, payload binary")
    rows = frame_sample(df, n_frames=4).collect()
    assert len(rows) == 4


# ---- end-to-end MJPEG video decode (r05): demux + per-frame JPEG


def test_video_frame_features_mjpeg_end_to_end(spark):
    """An MJPEG MP4 (3 independent baseline-JPEG frames in an ISO-BMFF
    container) must demux AND decode for real: true 16x16 dimensions
    and per-frame pixel checksums equal to decoding each JPEG payload
    directly."""
    import zlib as _zlib

    from clear_map_data_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from clear_map_data_pipeline_spark.operators.multimodal import (
        encode_mp4,
        video_frame_features,
    )

    frames = []
    for k in range(3):
        px = bytes(
            (31 * k + 11 * x + 5 * y + 29 * c) % 256
            for y in range(16)
            for x in range(16)
            for c in range(3)
        )
        frames.append(encode_jpeg(16, 16, 3, px, quality=90))
    payload = encode_mp4(frames, chunking=[2, 1])
    df = spark.createDataFrame([(5, payload)], "doc_id long, payload binary")
    rows = sorted(
        video_frame_features(df, n_frames=3).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert len(rows) == 3
    for k, r in enumerate(rows):
        w, h, _ch, pixels = decode_jpeg(frames[k])
        assert (r["width"], r["height"]) == (16, 16) == (w, h)
        assert r["checksum"] == _zlib.adler32(pixels)
        assert r["n_bytes"] == len(frames[k])


def test_video_frame_features_non_container_stubs(spark):
    """Payloads with neither container nor image magic emit n_frames
    deterministic stub slices — the decoder-seam contract."""
    from clear_map_data_pipeline_spark.operators.multimodal import (
        decode_stub,
        video_frame_features,
    )

    raw = bytes(range(256)) * 4
    df = spark.createDataFrame([(9, raw)], "doc_id long, payload binary")
    rows = sorted(
        video_frame_features(df, n_frames=4).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert len(rows) == 4
    step = len(raw) // 4
    for k, r in enumerate(rows):
        c, w, h = decode_stub(raw[k * step : k * step + step])
        assert (r["checksum"], r["width"], r["height"]) == (c, w, h)


def test_video_frame_features_corrupt_frame_survives(spark):
    """A container whose sample bytes START with JPEG magic but are
    truncated garbage must not abort the batch: that frame degrades to
    stub features while intact frames still real-decode."""
    import zlib as _zlib

    from clear_map_data_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from clear_map_data_pipeline_spark.operators.multimodal import (
        encode_mp4,
        video_frame_features,
    )

    good = encode_jpeg(8, 8, 1, bytes(range(64)), quality=85)
    bad = b"\xff\xd8\xff" + b"\x00" * 16  # JPEG magic, truncated body
    payload = encode_mp4([good, bad])
    df = spark.createDataFrame([(3, payload)], "doc_id long, payload binary")
    rows = sorted(
        video_frame_features(df, n_frames=2).collect(),
        key=lambda r: r["frame_idx"],
    )
    _w, _h, _ch, pixels = decode_jpeg(good)
    assert rows[0]["checksum"] == _zlib.adler32(pixels)
    assert (rows[0]["width"], rows[0]["height"]) == (8, 8)
    # frame 1 fell back to the stub, not an exception
    assert rows[1]["n_bytes"] == len(bad)


def test_codec_corruption_fuzz_never_escapes_fallback():
    """Batch-never-aborts, fuzzed across the NON-JPEG codecs: random
    byte corruptions of valid PNG/GIF/WAV (PCM, float32)/MP4 payloads
    must raise only the exception types their Spark-side fallback site
    catches — decode_real sits behind the wide tuple, decode_wav behind
    (ValueError, struct.error), and mp4_sample_ranges behind a bare
    ValueError handler (the strictest contract).  Baseline JPEG has its
    own sweep in test_jpeg.py."""
    import random
    import struct as _struct
    import zlib as _zlib

    from clear_map_data_pipeline_spark.operators.multimodal import (
        decode_real,
        decode_wav,
        encode_gif,
        encode_mp4,
        encode_png,
        encode_wav,
        mp4_sample_ranges,
    )

    wide = (
        NotImplementedError,
        ValueError,
        _struct.error,
        _zlib.error,
        IndexError,
        KeyError,
    )
    narrow = (ValueError, _struct.error)
    rng = random.Random(7)
    px = bytes(
        (3 * x + 5 * y) % 256
        for y in range(12)
        for x in range(10)
        for _ in range(3)
    )
    palette = [(0, 0, 0), (85, 85, 85), (170, 170, 170), (255, 255, 255)]
    idx = bytes((x + y) % 4 for y in range(6) for x in range(10))
    samples = [1000 * (i % 7) - 3000 for i in range(256)]
    targets = [
        ("png", encode_png(10, 12, 3, px), decode_real, wide),
        ("gif", encode_gif(10, 6, idx, palette), decode_real, wide),
        ("mp4", encode_mp4([b"fr%d" % i for i in range(5)]),
         mp4_sample_ranges, (ValueError,)),
    ]
    for fmt in ("pcm", "float32"):
        targets.append(
            (f"wav_{fmt}", encode_wav(samples, fmt=fmt), decode_wav, narrow)
        )
    for kind, enc, fn, allowed in targets:
        for _trial in range(150):
            buf = bytearray(enc)
            for _ in range(rng.choice([1, 1, 2])):
                pos = rng.randrange(0, len(buf))
                buf[pos] ^= 1 << rng.randrange(8)
            try:
                fn(bytes(buf))
            except allowed:
                pass  # exactly what the Spark-side fallback absorbs
