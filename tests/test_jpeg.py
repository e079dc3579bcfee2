"""Baseline JPEG codec (operators/jpeg.py) — round-trip tests in the
decode_png pattern, the rejection of non-baseline modes, plus the
Spark-operator dispatch path."""

from __future__ import annotations

import numpy as np
import pytest


def _codec():
    from clear_map_data_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    return decode_jpeg, encode_jpeg


def _dhp(w: int, h: int) -> bytes:
    """Hand-built DHP (T.81 B.3.2): 8-bit, one component (id 1, 1x1,
    Tq 0)."""
    import struct

    body = struct.pack(">HBHHB", 11, 8, h, w, 1) + b"\x01\x11\x00"
    return b"\xff\xde" + body


def test_jpeg_flat_gray_roundtrip_exact():
    """A flat image quantizes to DC-only blocks, which decode EXACTLY —
    the codec's zero-error fixed point."""
    decode_jpeg, encode_jpeg = _codec()
    w, h = 24, 16
    flat = bytes([128]) * (w * h)
    got = decode_jpeg(encode_jpeg(w, h, 1, flat, quality=90))
    assert got == (w, h, 1, flat)


def test_jpeg_rgb_roundtrip_bounded_error():
    """Smooth gradients at quality 92: 4:4:4 and 4:2:0 must reproduce
    within tight quantization-error bounds; odd (non-multiple-of-8)
    dims crop correctly."""
    decode_jpeg, encode_jpeg = _codec()
    w, h = 41, 27
    img = np.zeros((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            img[y, x] = ((x * 4) % 256, (y * 6) % 256, ((x + y) * 3) % 256)
    for sub, bound in [("444", 6.0), ("420", 20.0)]:
        enc = encode_jpeg(w, h, 3, img.tobytes(), quality=92, subsampling=sub)
        gw, gh, gch, pix = decode_jpeg(enc)
        assert (gw, gh, gch) == (w, h, 3)
        dec = np.frombuffer(pix, dtype=np.uint8).reshape(h, w, 3).astype(int)
        assert np.abs(dec - img.astype(int)).mean() < bound


def test_jpeg_restart_markers_roundtrip():
    """DRI + RSTn every N MCUs: 8-aligned constant blocks are DC-only,
    so the restart-segmented stream must decode EXACTLY — any realign
    or DC-predictor-reset bug corrupts everything after the first RST."""
    decode_jpeg, encode_jpeg = _codec()
    w, h = 48, 40
    rng = np.random.default_rng(7)
    base = rng.integers(0, 256, (h // 8, w // 8), dtype=np.uint8)
    img = base.repeat(8, axis=0).repeat(8, axis=1)
    for ri in (1, 2, 5):
        enc = encode_jpeg(
            w, h, 1, img.tobytes(), quality=90, restart_interval=ri
        )
        gw, gh, gch, pix = decode_jpeg(enc)
        assert (gw, gh, gch) == (w, h, 1)
        assert pix == img.tobytes(), f"restart_interval={ri}"


def test_jpeg_doctored_sof_markers_rejected_cleanly(spark):
    """Only baseline JPEG decodes.  A baseline stream relabeled to any
    other T.81 process — progressive SOF2, lossless SOF3, differential
    SOF5/6/7, arithmetic SOF9/10/11 and differential-arithmetic
    SOF13/14/15 — or preceded by a hand-built hierarchical DHP header
    (well-formed, or with a length running past the payload) raises
    NotImplementedError ("non-baseline") at decode_real.  image_features
    turns every one into the stub features, and use_real_decoder=True
    surfaces the error instead."""
    from clear_map_data_pipeline_spark.operators.multimodal import (
        decode_real,
        decode_stub,
        image_features,
    )

    _, encode_jpeg = _codec()
    base = encode_jpeg(8, 8, 1, bytes(64), quality=90)
    sof = base.find(b"\xff\xc0")
    assert sof != -1
    payloads = []
    for relabel in (
        0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF,
    ):
        enc = bytearray(base)
        enc[sof + 1] = relabel
        payloads.append(bytes(enc))
    payloads.append(base[:2] + _dhp(8, 8) + base[2:])
    payloads.append(base[:2] + b"\xff\xde\x40\x00" + b"\x08")  # overlong
    for payload in payloads:
        with pytest.raises(NotImplementedError, match="non-baseline"):
            decode_real(payload)  # dispatches to decode_jpeg

    df = spark.createDataFrame(
        list(enumerate(payloads)), "doc_id long, payload binary"
    )
    rows = {r["doc_id"]: r for r in image_features(df).collect()}
    for i, payload in enumerate(payloads):
        got = (rows[i]["checksum"], rows[i]["width"], rows[i]["height"])
        assert got == decode_stub(payload), i
    # the forced path re-raises what decode_real raised (checked above
    # for every payload); one of them goes through Spark
    one = df.filter("doc_id = 0")
    with pytest.raises(Exception, match="NotImplementedError"):
        image_features(one, use_real_decoder=True).collect()


def test_hierarchical_jpeg_malformed_streams_raise():
    """A DHP marker cut off before (or inside) its length field is a
    truncated header: decode_jpeg raises ValueError("truncated") before
    it classifies the marker, so a cut hierarchical stream reads as
    corrupt, not as an unsupported mode.  Both types sit inside the
    stub-fallback tuple."""
    decode_jpeg, encode_jpeg = _codec()
    base = encode_jpeg(8, 8, 1, bytes(range(0, 128, 2)), quality=90)
    for cut in (b"\xff\xde", b"\xff\xde\x00"):
        with pytest.raises(ValueError, match="truncated"):
            decode_jpeg(base[:2] + cut)


def test_hierarchical_jpeg_tables_before_dhp():
    """T.81 B.3 allows tables/misc segments (DQT, DHT, DRI, COM)
    between SOI and DHP.  With them parsed first, the DHP still
    classifies the stream as hierarchical (NotImplementedError); the
    same stream without the DHP is a valid baseline layout and decodes
    exactly as the encoder's own ordering does."""
    import struct

    decode_jpeg, encode_jpeg = _codec()
    img = bytes((5 * x + 9 * y) % 256 for y in range(16) for x in range(16))
    base = encode_jpeg(16, 16, 1, img, quality=90, restart_interval=2)
    # split the header into segments up to SOS
    pos, segs = 2, {}
    while base[pos + 1] != 0xDA:
        n = struct.unpack(">H", base[pos + 2 : pos + 4])[0]
        segs.setdefault(base[pos + 1], []).append(base[pos : pos + 2 + n])
        pos += 2 + n
    scan = base[pos:]
    com = b"\xff\xfe" + struct.pack(">H", 8) + b"tables"
    tables = b"".join(segs[0xDB] + segs[0xC4] + segs[0xDD]) + com
    frame = segs[0xC0][0]
    reordered = base[:2] + b"".join(segs[0xE0]) + tables + frame + scan
    assert decode_jpeg(reordered) == decode_jpeg(base)
    hier = base[:2] + tables + _dhp(16, 16) + frame + scan
    with pytest.raises(NotImplementedError, match="non-baseline"):
        decode_jpeg(hier)


def test_lossless_jpeg_validation():
    """Sample precision is checked only on baseline/extended frames:
    lossless SOF3 (and arithmetic-lossless SOF11) at the other T.81
    lossless precisions (2, 12, 16 bits) is still classified
    NotImplementedError ("non-baseline"), while a SOF0/SOF1 frame at a
    precision other than 8 is a ValueError."""
    decode_jpeg, encode_jpeg = _codec()
    base = encode_jpeg(8, 8, 1, bytes(64), quality=90)
    sof = base.find(b"\xff\xc0")
    assert sof != -1
    for marker, prec in ((0xC3, 2), (0xC3, 12), (0xC3, 16), (0xCB, 16)):
        enc = bytearray(base)
        enc[sof + 1], enc[sof + 4] = marker, prec
        with pytest.raises(NotImplementedError, match="non-baseline"):
            decode_jpeg(bytes(enc))
    for marker in (0xC0, 0xC1):
        enc = bytearray(base)
        enc[sof + 1], enc[sof + 4] = marker, 12
        with pytest.raises(ValueError, match="only 8-bit"):
            decode_jpeg(bytes(enc))


def test_image_features_decodes_real_jpeg(spark):
    """Spark dispatch: a JPEG payload is magic-sniffed and decodes for
    real (flat image => exact pixels => deterministic checksum); the
    same stream relabeled progressive (not decoded) falls back to the
    stub instead of crashing the batch."""
    import zlib

    from clear_map_data_pipeline_spark.operators.jpeg import encode_jpeg
    from clear_map_data_pipeline_spark.operators.multimodal import (
        decode_stub,
        image_features,
    )

    w, h = 16, 8
    flat = bytes([77]) * (w * h)
    jpg = encode_jpeg(w, h, 1, flat, quality=90)
    prog = bytearray(jpg)
    prog[prog.find(b"\xff\xc0") + 1] = 0xC2
    prog = bytes(prog)
    df = spark.createDataFrame(
        [(1, jpg), (2, prog)], "doc_id long, payload binary"
    )
    rows = {r["doc_id"]: r for r in image_features(df).collect()}
    assert rows[1]["width"] == w and rows[1]["height"] == h
    assert rows[1]["checksum"] == zlib.adler32(flat)
    crc, sw, sh = decode_stub(prog)
    assert (rows[2]["checksum"], rows[2]["width"], rows[2]["height"]) == (
        crc,
        sw,
        sh,
    )


def test_image_resize_real_jpeg(spark):
    """Resize plumbing over a JPEG payload: decode -> nearest-neighbor
    on the true grid (exact on a flat image)."""
    from clear_map_data_pipeline_spark.operators.jpeg import encode_jpeg
    from clear_map_data_pipeline_spark.operators.multimodal import (
        image_resize,
    )

    w, h = 16, 16
    flat = bytes([200]) * (w * h)
    jpg = encode_jpeg(w, h, 1, flat, quality=90)
    df = spark.createDataFrame([(1, jpg)], "doc_id long, payload binary")
    (row,) = image_resize(df, out_w=4, out_h=4).collect()
    assert bytes(row["pixels"]) == bytes([200]) * 16


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    w=st.integers(1, 40),
    h=st.integers(1, 40),
    ch=st.sampled_from([1, 3]),
    quality=st.integers(70, 100),
    sub=st.sampled_from(["444", "420"]),
    seed=st.integers(0, 2**31 - 1),
)
def test_jpeg_roundtrip_property(w, h, ch, quality, sub, seed):
    """Any dims (incl. 1xN edge strips), channels, quality 70-100, and
    subsampling: encode->decode preserves dims/channels exactly, is
    deterministic, and reproduces smooth content within a
    quality-scaled error bound."""
    decode_jpeg, encode_jpeg = _codec()
    rng = np.random.default_rng(seed)
    # smooth field: random low-frequency gradient (quantization error
    # bounds only hold for content without full-spectrum noise)
    gx = rng.integers(0, 5, size=ch)
    gy = rng.integers(0, 5, size=ch)
    base = rng.integers(40, 200, size=ch)
    img = np.zeros((h, w, ch), dtype=np.uint8)
    for c in range(ch):
        yy, xx = np.mgrid[0:h, 0:w]
        img[:, :, c] = (base[c] + gx[c] * xx + gy[c] * yy) % 256
    enc = encode_jpeg(
        w, h, ch, img.tobytes(), quality=quality, subsampling=sub
    )
    assert decode_jpeg(enc) == decode_jpeg(enc)  # deterministic
    gw, gh, gch, pix = decode_jpeg(enc)
    assert (gw, gh, gch) == (w, h, ch)
    dec = np.frombuffer(pix, dtype=np.uint8).reshape(h, w, ch).astype(int)
    err = np.abs(dec - img.astype(int))
    # modulo wraparound creates one sharp edge per channel; exclude the
    # wrap rows/cols from the smoothness bound by bounding the MEDIAN
    assert np.median(err) <= 14.0, (np.median(err), err.max())


def test_jpeg_fill_bytes_and_corrupt_payloads(spark):
    """(a) T.81-legal 0xFF fill padding before a marker must parse;
    (b) corrupt/truncated JPEG payloads fall back to the stub in the
    Spark operators instead of aborting the batch (r04 review
    findings)."""
    from clear_map_data_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from clear_map_data_pipeline_spark.operators.multimodal import (
        decode_stub,
        image_features,
    )

    w, h = 16, 8
    flat = bytes([90]) * (w * h)
    clean = encode_jpeg(w, h, 1, flat, quality=90)
    # inject two fill bytes before the SOF marker
    sof = clean.find(b"\xff\xc0")
    padded = clean[:sof] + b"\xff\xff" + clean[sof:]
    assert decode_jpeg(padded) == (w, h, 1, flat)

    garbage = b"\xff\xd8\xff" + b"\x00" * 40           # nothing parseable
    truncated = clean[: len(clean) // 2]                # mid-entropy cut
    df = spark.createDataFrame(
        [(1, clean), (2, garbage), (3, truncated)],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in image_features(df).collect()}
    assert rows[1]["width"] == w
    for bad, payload in [(2, garbage), (3, truncated)]:
        crc, sw, sh = decode_stub(payload)
        assert (rows[bad]["checksum"], rows[bad]["width"], rows[bad]["height"]) == (crc, sw, sh)


def test_jpeg_undefined_table_id_keyerror_falls_back_to_stub(spark):
    """A structurally-valid JPEG whose SOS references Huffman/quant
    table ids that were never defined raises KeyError inside
    decode_jpeg — the batch-level dispatch must stub-fall-back, not
    abort the whole Spark batch (r04 advice: KeyError was missing from
    the except tuples)."""
    import pytest

    from clear_map_data_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from clear_map_data_pipeline_spark.operators.multimodal import (
        decode_stub,
        image_features,
    )

    enc = bytearray(encode_jpeg(8, 8, 1, bytes([50]) * 64, quality=90))
    sos = enc.find(b"\xff\xda")
    assert sos != -1 and enc[sos + 4] == 1  # Ns=1, grayscale
    enc[sos + 6] = 0x33  # Td=3/Ta=3: never defined by the encoder
    bad = bytes(enc)
    with pytest.raises(KeyError):
        decode_jpeg(bad)

    df = spark.createDataFrame([(1, bad)], "doc_id long, payload binary")
    (row,) = image_features(df).collect()
    crc, sw, sh = decode_stub(bad)
    assert (row["checksum"], row["width"], row["height"]) == (crc, sw, sh)
    # and the forced-real path surfaces the error instead of hiding it
    with pytest.raises(Exception):
        image_features(df, use_real_decoder=True).collect()


def test_jpeg_family_corruption_fuzz_never_escapes_fallback():
    """The batch-never-aborts contract, fuzzed across the baseline
    JPEG stream shapes (gray, 4:2:0 color, restart-segmented): random
    single-byte corruptions of valid streams must either decode to a
    bounded buffer or raise ONLY exception types the multimodal
    stub-fallback tuple catches — never hang, never surface an
    unexpected error class.  150 corruptions per stream kind,
    deterministic seed."""
    import random
    import struct as _struct
    import zlib as _zlib

    decode_jpeg, encode_jpeg = _codec()
    allowed = (
        NotImplementedError,
        ValueError,
        _struct.error,
        _zlib.error,
        IndexError,
        KeyError,
    )
    rng = random.Random(1234)
    img = bytes((3 * x + 5 * y) % 256 for y in range(16) for x in range(16))
    rgb = bytes(
        (3 * x + 5 * y + 40 * c) % 256
        for y in range(16)
        for x in range(16)
        for c in range(3)
    )
    streams = {
        "baseline": encode_jpeg(16, 16, 1, img, quality=80),
        "color_420": encode_jpeg(16, 16, 3, rgb, quality=80, subsampling="420"),
        "restart": encode_jpeg(16, 16, 1, img, quality=80, restart_interval=1),
    }
    for kind, enc in streams.items():
        for trial in range(150):
            buf = bytearray(enc)
            pos = rng.randrange(2, len(buf))  # keep SOI so it stays "a JPEG"
            buf[pos] ^= 1 << rng.randrange(8)
            try:
                w, h, ch, pix = decode_jpeg(bytes(buf))
                assert 0 < w <= 65535 and 0 < h <= 65535
                assert len(pix) == w * h * ch
            except allowed:
                pass  # exactly what the Spark-side fallback absorbs
            # anything else propagates and fails the test
