"""Generator for ``_mm_lut.py`` — per-residue expected checksums for
the deterministic multimodal payloads.

Every payload in the registered multimodal suite is synthesized from
``doc_id`` residues (``queries/multimodal.py``), so each member's
per-document checksum is a pure function of ``doc_id % m`` for a small
``m``.  This module computes those functions ONCE for the three codec
members that need a table — ``mm_jpeg_decode`` (``JPEG_FLAT``),
``mm_gif_decode`` (``GIF``) and ``mm_mjpeg_video`` (``MJPEG``) — by
running the real encoders + decoders (pure Python, no Spark), and
freezes them into ``_mm_lut.py``; the DuckDB oracle twin then joins
the frozen lookup tables on ``doc_id % m`` — giving the suite a
hash-checkable SQL twin valid at ANY scale factor, not just the one
it was generated at.

The LUTs are NOT an independent oracle for the codecs themselves (the
codec round-trip/fuzz tests in tests/test_jpeg.py and
tests/test_multimodal.py are); they pin (a) the Spark-side plumbing —
sampling predicates, row counts, Arrow batch aggregation — against an
independent engine, and (b) decoder determinism across rounds.
``tests/test_multimodal_oracle.py`` recomputes random residues live
against the frozen values so a codec change cannot silently stale the
tables.

Regenerate with::

    python -m clear_map_data_pipeline_spark.queries.gen_mm_lut
"""

from __future__ import annotations

import zlib


def lut_jpeg_flat(residues=None) -> list[int]:
    """mm_jpeg_decode: adler32 of decoded flat-gray baseline JPEG,
    keyed on doc_id % 256 (the flat value)."""
    from ..operators.jpeg import decode_jpeg, encode_jpeg

    out = []
    for r in residues if residues is not None else range(256):
        payload = encode_jpeg(16, 8, 1, bytes([r]) * 128, quality=90)
        _w, _h, _c, px = decode_jpeg(payload)
        out.append(zlib.adler32(px))
    return out


def lut_gif(residues=None) -> list[int]:
    """mm_gif_decode: keyed on doc_id % 4 (palette-index base)."""
    from ..operators.multimodal import decode_gif, encode_gif

    palette = [(0, 0, 0), (85, 85, 85), (170, 170, 170), (255, 255, 255)]
    out = []
    for r in residues if residues is not None else range(4):
        idx = bytes((r + x + y) % 4 for y in range(6) for x in range(10))
        _w, _h, _c, px = decode_gif(encode_gif(10, 6, idx, palette))
        out.append(zlib.adler32(px))
    return out


def lut_mjpeg(residues=None) -> list[int]:
    """mm_mjpeg_video: sum over the 3 frames of the adler32 of each
    decoded 16x16 RGB frame, keyed on doc_id % 251 (frame seeds are
    (d + 7k) % 251, so d % 251 determines all three)."""
    from ..operators.jpeg import decode_jpeg, encode_jpeg

    def frame_adler(seed: int) -> int:
        px = bytes(
            (seed + 11 * x + 5 * y + 29 * c) % 256
            for y in range(16)
            for x in range(16)
            for c in range(3)
        )
        _w, _h, _c, dec = decode_jpeg(encode_jpeg(16, 16, 3, px, quality=90))
        return zlib.adler32(dec)

    rs = list(residues) if residues is not None else list(range(251))
    seeds = {(r + 7 * k) % 251 for r in rs for k in range(3)}
    cache = {s: frame_adler(s) for s in seeds}
    return [sum(cache[(r + 7 * k) % 251] for k in range(3)) for r in rs]


#: (name in _mm_lut.py, generator) — the single source the regen AND the
#: staleness spot-check walk.
GENERATORS = {
    "JPEG_FLAT": lut_jpeg_flat,
    "GIF": lut_gif,
    "MJPEG": lut_mjpeg,
}


def main() -> None:
    import os

    lines = [
        '"""AUTO-GENERATED — do not edit.  Regenerate with',
        "``python -m clear_map_data_pipeline_spark.queries.gen_mm_lut``;",
        "see gen_mm_lut.py for what these tables mean.",
        '"""',
        "",
    ]
    for name, gen in GENERATORS.items():
        vals = gen()
        lines.append(f"{name} = {vals!r}")
        lines.append("")
    out_path = os.path.join(os.path.dirname(__file__), "_mm_lut.py")
    with open(out_path, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
