"""Byte-pair-encoding (BPE) application: segment words and corpora
with a fixed, already-learned merge list.

BPE (Sennrich et al. 2016, "Neural Machine Translation of Rare Words
with Subword Units" — public algorithm) starts each word from its
characters plus an end-of-word sentinel and applies the ordered merges
left-to-right, non-overlapping.  ``bpe_segment`` is the driver-side
reference for one word; ``bpe_apply`` runs the same loop distributed,
once per DISTINCT word, and reassembles each document's segmentation in
token order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens

END_MARK = "</w>"  # end-of-word sentinel, per the public BPE recipe


def bpe_segment(word: str, merges: list[tuple[str, str, int]]) -> list[str]:
    """Apply a learned merge list to one word (driver-side reference
    implementation)."""
    syms = list(word) + [END_MARK]
    for first, second, _n in merges:
        res = []
        i = 0
        while i < len(syms):
            if (
                i + 1 < len(syms)
                and syms[i] == first
                and syms[i + 1] == second
            ):
                res.append(first + second)
                i += 2
            else:
                res.append(syms[i])
                i += 1
        syms = res
    return syms


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str, int]],
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge list to a corpus, distributed.

    Returns (id, n_tokens, n_subwords, subwords) per document, where
    ``subwords`` is the concatenated BPE segmentation of the document's
    whitespace tokens in order.

    Scale shape — the vocab-bounded trick: the merge loop runs once per
    DISTINCT word (Arrow-batched ``mapInPandas`` over the distinct-word
    table, merge list broadcast inside the closure), and the
    per-document assembly is a plain broadcast-free groupBy join —
    corpus rows never pay the per-word merge loop twice.  A trillion-token corpus has millions of distinct words;
    the expensive loop is millions of rows, not trillions."""
    import pandas as pd  # noqa: PLC0415 - executor-side

    ordered = list(merges)

    words = (
        df.select(F.explode(tokens(col)).alias("word")).distinct()
    )

    def seg_batches(batches):
        for pdf in batches:
            # one definition of the merge loop: bpe_segment (module-
            # level, importable on executors) — a semantics fix there
            # cannot miss this path
            segs = [bpe_segment(w, ordered) for w in pdf["word"]]
            yield pd.DataFrame({"word": pdf["word"], "subword": segs})

    seg_table = words.mapInPandas(
        seg_batches, schema="word string, subword array<string>"
    )

    doc_words = df.select(
        F.col(id_col),
        F.posexplode(tokens(col)).alias("_pos", "word"),
    )
    per_doc = (
        doc_words.join(seg_table, "word")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.size("subword")).cast("long").alias("n_subwords"),
            F.flatten(
                F.array_sort(
                    F.collect_list(F.struct("_pos", "subword"))
                ).getField("subword")
            ).alias("subwords"),
        )
    )
    # zero-token documents (empty / whitespace-only text) produce no
    # posexplode rows — restore them so the contract really is one row
    # PER document, not per tokenizable document
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
            F.coalesce("n_subwords", F.lit(0).cast("long")).alias(
                "n_subwords"
            ),
            F.coalesce(
                "subwords", F.array().cast("array<string>")
            ).alias("subwords"),
        )
    )
