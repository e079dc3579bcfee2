"""Distributed BPE application (operators/bpe.py) against the driver-side
reference segmenter."""

from __future__ import annotations

from clear_map_data_pipeline_spark.operators import bpe

CORPUS = [
    "low low low low low",
    "lower lower newer newer newer newer newer newer",
    "newest newest newest widest widest wider",
    "low lower lowest newer new",
]


def test_bpe_apply_matches_driver_segmenter(spark):
    """Distributed application (vocab-bounded mapInPandas + order-
    preserving reassembly) must equal the driver-side reference
    segmenter word for word, in document order."""
    from clear_map_data_pipeline_spark.queries.text import APPLY_MERGES

    merges = [(a, b, 0) for a, b in APPLY_MERGES]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_subwords"], list(r["subwords"]))
        for r in bpe.bpe_apply(docs, merges).collect()
    }
    for i, t in enumerate(CORPUS):
        words = t.lower().split()
        want = []
        for w in words:
            want.extend(bpe.bpe_segment(w, merges))
        assert got[i] == (len(words), len(want), want), i
