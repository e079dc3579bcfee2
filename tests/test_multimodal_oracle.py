"""Staleness guard for the frozen multimodal LUTs (``_mm_lut.py``).

The suite's DuckDB twin joins per-residue expected checksums that were
computed ONCE by the real encode+decode pairs (``gen_mm_lut.py``).  If
a codec changes behavior, the frozen table silently diverges from what
the Spark side now computes — these tests recompute a deterministic
sample of residues live so that divergence fails HERE, with a
"regenerate _mm_lut.py" message, instead of in the driver's
CORRECTNESS gate.  (The end-to-end suite-vs-oracle comparison itself
runs in tests/test_oracle.py like every other registered query.)
"""

from __future__ import annotations

import random

import pytest

from clear_map_data_pipeline_spark.queries import _mm_lut, gen_mm_lut


@pytest.mark.parametrize("name", sorted(gen_mm_lut.GENERATORS))
def test_frozen_lut_matches_live_codecs(name):
    frozen = getattr(_mm_lut, name)
    m = len(frozen)
    rng = random.Random(f"mm-lut-{name}")
    sample = sorted(set([0, m - 1] + [rng.randrange(m) for _ in range(4)]))
    live = gen_mm_lut.GENERATORS[name](sample)
    assert live == [frozen[r] for r in sample], (
        f"{name} LUT is stale for residues {sample}: a codec changed "
        "behavior — regenerate with "
        "`python -m clear_map_data_pipeline_spark.queries.gen_mm_lut` "
        "(and make sure the change was intentional)"
    )


def test_lut_domains_match_query_moduli():
    """The oracle SQL joins ``doc_id % m`` against each LUT — its length
    must equal the modulus the query synthesizes payloads with."""
    expected = {
        "JPEG_FLAT": 256,
        "GIF": 4,
        "MJPEG": 251,
    }
    assert set(expected) == set(gen_mm_lut.GENERATORS)
    for name, m in expected.items():
        assert len(getattr(_mm_lut, name)) == m, name


def test_documents_text_is_ascii(spark, sf_dir):
    """The text-derived oracle members equate DuckDB codepoints with
    utf-8 bytes — valid only while the fixture corpus is ASCII.  A
    non-ASCII regeneration of the testdata must fail loudly here, not
    hash-mismatch in the driver."""
    from pyspark.sql import functions as F

    from clear_map_data_pipeline_spark.session import Tables

    docs = Tables(spark, sf_dir).documents
    bad = docs.filter(
        F.col("text").isNull() | (F.length(F.col("text")) != F.octet_length("text"))
    ).count()
    assert bad == 0, "documents.text is no longer pure ASCII"
