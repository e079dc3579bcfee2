"""WebP is not decoded: RIFF/WEBP payloads are never sniffed as real
images, and the forced real path raises NotImplementedError at
``decode_real``."""

from __future__ import annotations

import struct

import pytest


def _riff_webp(chunk: bytes, body: bytes) -> bytes:
    riff = b"WEBP" + chunk + struct.pack("<I", len(body)) + body
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def test_webp_lossy_raises_not_implemented(spark):
    """Lossy VP8 and extended VP8X WebP raise NotImplementedError at
    decode_real, and so does lossless VP8L; image_features keeps them
    on the stub features and use_real_decoder=True surfaces the
    error."""
    from clear_map_data_pipeline_spark.operators.multimodal import (
        decode_real,
        decode_stub,
        image_features,
    )

    # VP8 key frame: tag, start code, 8x8 size
    vp8 = _riff_webp(
        b"VP8 ", b"\x10\x02\x00\x9d\x01\x2a" + struct.pack("<HH", 8, 8)
    )
    # VP8X: flags, reserved, canvas width-1 / height-1 (24-bit)
    vp8x = _riff_webp(b"VP8X", b"\x00" * 4 + b"\x07\x00\x00\x07\x00\x00")
    # VP8L: signature 0x2f, then an 8x8 size header
    vp8l = _riff_webp(b"VP8L", b"\x2f\x07\xc0\x01\x00")
    payloads = [vp8, vp8x, vp8l]
    for payload in payloads:
        with pytest.raises(NotImplementedError):
            decode_real(payload)

    df = spark.createDataFrame(
        list(enumerate(payloads)), "doc_id long, payload binary"
    )
    rows = {r["doc_id"]: r for r in image_features(df).collect()}
    for i, payload in enumerate(payloads):
        got = (rows[i]["checksum"], rows[i]["width"], rows[i]["height"])
        assert got == decode_stub(payload), i
    with pytest.raises(Exception, match="NotImplementedError"):
        image_features(df, use_real_decoder=True).collect()
