"""Multimodal queries, folded into ONE registered query whose DuckDB
twin hash-checks every member's output.

Eight members: four stubs over the document text (image features,
image resize, audio features, frame sampling) and four real-codec
members over synthesized payloads — baseline JPEG, GIF, MP4 demux and
MJPEG video (MP4-muxed baseline-JPEG frames).  All of them run as
Arrow-batched ``mapInPandas`` stages over a binary payload column.

Every payload in the suite is synthesized deterministically from
``doc_id``, so each member's per-document checksum is a pure function
of either the document TEXT bytes (the stub members — expressed as
real SQL: adler32 via an unnest over character positions) or a small
``doc_id % m`` residue (the codec members — expressed as a frozen
lookup table computed once by the real encode+decode pair, see
``gen_mm_lut.py``).  Folding keeps the whole registry inside the
driver's 50-entry CORRECTNESS window (COVERAGE.md "driver cap");
the summary aggregates force full evaluation of each mapInPandas
stage, and the oracle twin now pins counts AND checksums.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import multimodal as mm
from ..registry import register
from ..session import Tables


def mm_image_features(spark, sf_dir):
    """Binary payload -> Arrow-batched feature extraction (mapInPandas);
    the decode itself is a deterministic stub (no media libs here) at
    the documented real-decoder seam."""
    t = Tables(spark, sf_dir)
    with_payload = mm.attach_binary_payload(t.documents)
    return mm.image_features(with_payload)


def mm_image_resize(spark, sf_dir):
    """Resize plumbing over binary payloads: strided-subsample stub at
    the PIL seam, fixed 8x8 output, wide input column pruned at the
    operator."""
    t = Tables(spark, sf_dir)
    with_payload = mm.attach_binary_payload(t.documents)
    resized = mm.image_resize(with_payload, out_w=8, out_h=8)
    return resized.select(
        "doc_id", "width", "height", F.length("pixels").alias("n_pixels")
    )


def mm_audio_features(spark, sf_dir):
    """Audio-as-PCM feature extraction (duration + amplitude stats),
    vectorized numpy per Arrow batch; narrow output, no shuffle."""
    t = Tables(spark, sf_dir)
    with_payload = mm.attach_binary_payload(t.documents)
    return mm.audio_features(with_payload)


def mm_frame_sample(spark, sf_dir):
    """Row-expanding frame sampling over binary payloads (4 evenly
    spaced slices per payload), streamed out batch by batch."""
    t = Tables(spark, sf_dir)
    with_payload = mm.attach_binary_payload(t.documents)
    frames = mm.frame_sample(with_payload, n_frames=4)
    return frames.select(
        "doc_id", "frame_idx", F.length("frame_bytes").alias("frame_len")
    )


def mm_jpeg_decode(spark, sf_dir):
    """REAL baseline-JPEG decode inside the registered suite (r04):
    deterministic JPEG payloads are synthesized per sampled doc by the
    round-trip encoder (flat gray, value = doc_id % 256 — flat blocks
    quantize to DC-only and decode EXACTLY), then ``image_features``'
    magic-sniffed real decode path recovers true dimensions and the
    adler32 of the known pixel buffer.  Both stages are Arrow-batched
    mapInPandas; the wide payload column dies at the feature
    extractor."""
    import pandas as pd

    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id").filter(F.col("doc_id") % 17 == 0)

    def _enc(it):
        from ..operators.jpeg import encode_jpeg

        for pdf in it:
            payloads = [
                encode_jpeg(16, 8, 1, bytes([int(d) % 256]) * 128, quality=90)
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    with_payload = docs.mapInPandas(_enc, "doc_id long, payload binary")
    return mm.image_features(with_payload)


def mm_gif_decode(spark, sf_dir):
    """REAL GIF decode inside the registered suite (r05): palette GIFs
    (LZW-compressed, 4-color gradient indices) synthesized per sampled
    doc by ``encode_gif``, then ``image_features``' sniffed real decode
    LZW-inflates + palette-expands and checksums the exact RGB buffer —
    GIF is palette-lossless so the checksum is fully deterministic."""
    import pandas as pd

    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id").filter(F.col("doc_id") % 29 == 0)

    def _enc(it):
        from ..operators.multimodal import encode_gif

        palette = [(0, 0, 0), (85, 85, 85), (170, 170, 170), (255, 255, 255)]
        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                base = int(d) % 4
                idx = bytes((base + x + y) % 4 for y in range(6) for x in range(10))
                payloads.append(encode_gif(10, 6, idx, palette))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    with_payload = docs.mapInPandas(_enc, "doc_id long, payload binary")
    return mm.image_features(with_payload, use_real_decoder=True)


def mm_mp4_frames(spark, sf_dir):
    """REAL MP4 demux inside the registered suite (r05): a small
    deterministic container (7 variable-size samples over 2 chunks) is
    muxed per sampled doc by ``encode_mp4``, then ``frame_sample``'s
    sniffed ISO-BMFF walk (stsz/stco/stsc join) extracts true sample
    bytes — frame lengths are exact container facts, codec decode
    stays at the seam."""
    import pandas as pd

    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id").filter(F.col("doc_id") % 41 == 0)

    def _enc(it):
        from ..operators.multimodal import encode_mp4

        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                base = int(d) % 7
                samples = [
                    bytes([(base + i) % 256]) * (3 + (base + i) % 5)
                    for i in range(7)
                ]
                payloads.append(encode_mp4(samples, chunking=[3, 4]))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    with_payload = docs.mapInPandas(_enc, "doc_id long, payload binary")
    frames = mm.frame_sample(with_payload, n_frames=4)
    return frames.select(
        "doc_id", "frame_idx", F.length("frame_bytes").alias("frame_len")
    )


def mm_mjpeg_video(spark, sf_dir):
    """END-TO-END MJPEG video decode inside the registered suite (r05):
    a small Motion-JPEG MP4 is muxed per sampled doc — 3 independent
    baseline-JPEG frames (deterministic 16x16 RGB gradients keyed by
    doc_id and frame index) in an ISO-BMFF container via ``encode_mp4``
    — then ``video_frame_features`` demuxes the container (stsz/stco/
    stsc walk) AND decodes every sampled frame through the real JPEG
    path: width/height are true frame dimensions, checksum is the
    adler32 of the decoded pixel buffer."""
    import pandas as pd

    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id").filter(F.col("doc_id") % 43 == 0)

    def _enc(it):
        from ..operators.jpeg import encode_jpeg
        from ..operators.multimodal import encode_mp4

        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                frames = []
                for k in range(3):
                    seed = (int(d) + 7 * k) % 251
                    px = bytes(
                        (seed + 11 * x + 5 * y + 29 * c) % 256
                        for y in range(16)
                        for x in range(16)
                        for c in range(3)
                    )
                    frames.append(encode_jpeg(16, 16, 3, px, quality=90))
                payloads.append(encode_mp4(frames, chunking=[2, 1]))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    with_payload = docs.mapInPandas(_enc, "doc_id long, payload binary")
    return mm.video_frame_features(with_payload, n_frames=3)


def _lut_subquery(values: list[int]) -> str:
    """DuckDB relation (r, v): residue -> frozen expected value."""
    return (
        f"(SELECT r, {values!r}[CAST(r + 1 AS INT)] AS v "
        f"FROM range(0, {len(values)}) t(r))"
    )


def _mm_suite_oracle_sql() -> str:
    """DuckDB twin of the folded suite.

    Stub members recompute their checksums from the document text in
    pure SQL (payload = utf-8 bytes of ASCII text, so byte == ascii of
    the character; the adler32 is the textbook two-accumulator mod-65521
    form).  Codec members join the frozen per-residue LUTs
    (``_mm_lut.py``) on ``doc_id % m``; MP4 has a closed form
    (container sample sizes are arithmetic in doc_id), so it needs no
    LUT at all."""
    from . import _mm_lut as L

    # docstat is total over documents: the byte aggregation produces no
    # group for a zero-length text (unnest of an empty range), so it
    # LEFT-joins back onto documents with the exact empty-payload
    # values — adler32(b'') = 1, peak 0 — keeping the oracle correct
    # even if a regenerated fixture ever carries empty docs
    docstat = """
WITH pos AS (
  SELECT doc_id, length(text) AS n,
         unnest(range(1, length(text) + 1)) AS i, text
  FROM documents
),
bytes AS (
  SELECT doc_id, n, i, ascii(substr(text, CAST(i AS INT), 1)) AS byte
  FROM pos
),
bytestat AS (
  SELECT doc_id,
         CAST(((any_value(n) + sum((n - i + 1) * byte)) % 65521) * 65536
              + (1 + sum(byte)) % 65521 AS BIGINT) AS adler,
         CAST(max(byte) AS BIGINT) AS peak
  FROM bytes GROUP BY doc_id
),
docstat AS (
  SELECT d.doc_id, length(d.text) AS n,
         coalesce(adler, 1) AS adler,
         coalesce(peak, 0) AS peak
  FROM documents d LEFT JOIN bytestat ON d.doc_id = bytestat.doc_id
)"""

    def agg(name: str, n_rows: str, checksum: str, src: str) -> str:
        return (
            f"SELECT '{name}' AS q, {n_rows} AS n_rows,\n"
            f"       CAST({checksum} AS BIGINT) AS checksum\n"
            f"FROM {src}"
        )

    def lut_member(name: str, filt_mod: int, key_mod: int, lut, n_per_doc=1):
        n_rows = "count(*)" if n_per_doc == 1 else f"{n_per_doc} * count(*)"
        return agg(
            name,
            n_rows,
            "sum(lut.v)",
            f"documents d JOIN {_lut_subquery(lut)} lut\n"
            f"  ON lut.r = d.doc_id % {key_mod}\n"
            f"WHERE d.doc_id % {filt_mod} = 0",
        )

    # length of python slice p[k*s : k*s + s] for the frame-sample stub
    slice_len = "greatest(0, least(s, n - {k} * s))"
    frame_sum = " + ".join(slice_len.format(k=k) for k in range(4))
    mp4_sum = "12 + " + " + ".join(
        f"(d.doc_id % 7 + {i}) % 5" for i in (0, 1, 3, 5)
    )

    parts = [
        agg("mm_image_features", "count(*)", "sum(adler)", "docstat"),
        agg("mm_image_resize", "count(*)", "sum(least(64, n))", "docstat"),
        agg("mm_audio_features", "count(*)", "sum(peak)", "docstat"),
        agg(
            "mm_frame_sample",
            "4 * count(*)",
            f"sum({frame_sum})",
            "(SELECT n, greatest(n // 4, 1) AS s FROM docstat) f",
        ),
        lut_member("mm_jpeg_decode", 17, 256, L.JPEG_FLAT),
        lut_member("mm_gif_decode", 29, 4, L.GIF),
        agg(
            "mm_mp4_frames",
            "4 * count(*)",
            f"sum({mp4_sum})",
            "documents d WHERE d.doc_id % 41 = 0",
        ),
        lut_member("mm_mjpeg_video", 43, 251, L.MJPEG, n_per_doc=3),
    ]
    return docstat + "\n" + "\nUNION ALL\n".join(parts)


@register("mm_multimodal_suite", sql=_mm_suite_oracle_sql())
def mm_multimodal_suite(spark, sf_dir):
    """Folded multimodal suite: each sub-operator reduced to one
    (q, n_rows, checksum) row; the aggregates force every Arrow batch
    of every mapInPandas stage to execute.  r06: the DuckDB twin
    (``_mm_suite_oracle_sql``) hash-checks every row — text-derived
    members as pure SQL over the document bytes, codec members via the
    frozen per-residue LUTs of ``gen_mm_lut.py``."""
    subs = [
        ("mm_image_features", mm_image_features, "checksum"),
        ("mm_image_resize", mm_image_resize, "n_pixels"),
        ("mm_audio_features", mm_audio_features, "peak_amp"),
        ("mm_frame_sample", mm_frame_sample, "frame_len"),
        ("mm_jpeg_decode", mm_jpeg_decode, "checksum"),
        ("mm_gif_decode", mm_gif_decode, "checksum"),
        ("mm_mp4_frames", mm_mp4_frames, "frame_len"),
        ("mm_mjpeg_video", mm_mjpeg_video, "checksum"),
    ]
    out = None
    for name, builder, val_col in subs:
        part = (
            builder(spark, sf_dir)
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.col(val_col).cast("long")).alias("checksum"),
            )
            .select(F.lit(name).alias("q"), "n_rows", "checksum")
        )
        out = part if out is None else out.unionByName(part)
    return out
