"""Corpus-assembly operators: sequence packing + temperature mixing
(operators/assembly.py).  Oracle parity is covered by
``suite_corpus_assembly`` in tests/test_oracle.py; these tests pin the
semantic invariants the hash can't express and the plan shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clear_map_data_pipeline_spark.operators import assembly as asm
from clear_map_data_pipeline_spark.operators import text as tx
from clear_map_data_pipeline_spark.plancheck import plan_summary
from clear_map_data_pipeline_spark.session import Tables


def _docs(spark, sf_dir):
    return (
        Tables(spark, sf_dir)
        .documents.select("doc_id", "lang", tx.token_count().alias("n_tokens"))
    )


def test_pack_sequences_layout_invariants(spark, sf_dir):
    budget, shards = 128, 4
    rows = asm.pack_sequences(
        _docs(spark, sf_dir), budget=budget, n_shards=shards
    ).collect()
    assert rows
    by_shard: dict[int, list] = {}
    for r in rows:
        assert 0 <= r["shard"] < shards
        assert 0 <= r["seq_offset"] < budget
        # the chunk index is exactly the start offset divided down
        start = r["seq_id"] * budget + r["seq_offset"]
        by_shard.setdefault(r["shard"], []).append(
            (r["doc_id"], start, r["n_tokens"])
        )
    # within a shard (id order) the layout is a gapless concatenation:
    # each doc starts exactly where the previous one ended
    for recs in by_shard.values():
        recs.sort()
        expect = 0
        for _, start, n in recs:
            assert start == expect
            expect += n


def test_pack_sequences_deterministic_and_validated(spark, sf_dir):
    d = _docs(spark, sf_dir)
    a = sorted(map(tuple, asm.pack_sequences(d, 64, 8).collect()))
    b = sorted(map(tuple, asm.pack_sequences(d, 64, 8).collect()))
    assert a == b
    with pytest.raises(ValueError, match="positive"):
        asm.pack_sequences(d, 0, 8)
    with pytest.raises(ValueError, match="positive"):
        asm.pack_sequences(d, 64, 0)


def test_pack_sequences_single_shard_shuffle(spark, sf_dir):
    s = plan_summary(asm.pack_sequences(_docs(spark, sf_dir), 512, 16))
    assert s["exchanges"] == 1  # one hash shuffle on shard, nothing else
    assert s["windows"] == 1
    assert s["python_eval"] == 0


def test_global_shuffle_index_is_contiguous_permutation(spark, sf_dir):
    docs = Tables(spark, sf_dir).documents
    n = docs.count()
    rows = asm.global_shuffle_index(docs, seed=17, n_ranges=8).collect()
    assert len(rows) == n
    # 0..N-1, each exactly once
    assert sorted(r["global_index"] for r in rows) == list(range(n))
    # it's a SHUFFLE: the permutation is not id order (astronomically
    # unlikely for 500+ docs if the hash does anything at all)
    by_id = [r["global_index"] for r in sorted(rows, key=lambda r: r["doc_id"])]
    assert by_id != sorted(by_id)


def test_global_shuffle_index_with_more_ranges_than_the_literal_cap(spark):
    """1,500 buckets (the docstring's advice at 100 TB): the bucket
    offsets are a 1,500-row literal frame and the index is still
    0..N-1."""
    n_ranges = 1_500
    n = 12 * n_ranges  # every bucket non-empty: P(empty) ~ e^-12
    docs = spark.range(n).withColumnRenamed("id", "doc_id")
    rows = asm.global_shuffle_index(docs, n_ranges=n_ranges).collect()
    assert sorted(r["global_index"] for r in rows) == list(range(n))


def test_global_shuffle_index_deterministic_and_seeded(spark, sf_dir):
    docs = Tables(spark, sf_dir).documents
    a = sorted(map(tuple, asm.global_shuffle_index(docs, seed=17).collect()))
    b = sorted(map(tuple, asm.global_shuffle_index(docs, seed=17).collect()))
    assert a == b  # stable across invocations (loader-reproducible)
    c = sorted(map(tuple, asm.global_shuffle_index(docs, seed=18).collect()))
    assert a != c  # the seed actually changes the permutation


def test_global_shuffle_index_plan(spark, sf_dir):
    import contextlib
    import io

    df = asm.global_shuffle_index(Tables(spark, sf_dir).documents, seed=17)
    s = plan_summary(df)
    # the corpus moves through ONE hash exchange on the deterministic
    # bucket column feeding the per-bucket row_number window; offsets
    # come back as a broadcast join — no SortMergeJoin, no second
    # corpus shuffle.  (plan_summary can count the bucket exchange
    # twice: once in the live lineage and once replayed inside the
    # InMemoryRelation's stored plan — a single materialization
    # executes it once.)
    assert s["exchanges"] <= 2
    assert s["windows"] == 1  # PARTITIONED by bucket — never global
    assert s["smj"] == 0 and s["bnlj"] == 0
    assert s["bcast_joins"] == 1
    assert s["python_eval"] == 0
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # the one corpus exchange is the hash shuffle on the deterministic
    # bucket (no sampled rangepartitioning anywhere), and the window is
    # partitioned on it — never a global window
    assert "hashpartitioning(_pid" in plan
    assert "rangepartitioning" not in plan
    from clear_map_data_pipeline_spark.cachereg import release_all

    release_all()


def test_chunk_documents_layout_invariants(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "n_tokens")
    n_by_id = {r["doc_id"]: r["n_tokens"] for r in docs.collect()}
    rows = asm.chunk_documents(docs, chunk_size=64, overlap=16).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    stride = 64 - 16
    for doc_id, chunks in by_doc.items():
        n = n_by_id[doc_id]
        chunks.sort(key=lambda r: r["chunk_idx"])
        # contiguous indices, correct starts, full coverage, valid lens
        assert [c["chunk_idx"] for c in chunks] == list(range(len(chunks)))
        for c in chunks:
            assert c["chunk_start"] == c["chunk_idx"] * stride
            assert 1 <= c["chunk_len"] <= 64
            assert c["chunk_start"] + c["chunk_len"] <= n
        last = chunks[-1]
        assert last["chunk_start"] + last["chunk_len"] == n  # covers the tail
        assert len(chunks) == 1 + (n - 1) // stride
    # zero-token docs produce nothing
    zero_ids = {d for d, n in n_by_id.items() if n == 0}
    assert zero_ids.isdisjoint(by_doc)


def test_chunk_documents_validation_and_plan(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "n_tokens")
    with pytest.raises(ValueError, match="chunk_size"):
        asm.chunk_documents(docs, chunk_size=0)
    with pytest.raises(ValueError, match="overlap"):
        asm.chunk_documents(docs, chunk_size=8, overlap=8)
    s = plan_summary(asm.chunk_documents(docs, chunk_size=64, overlap=16))
    assert s["exchanges"] == 0  # map-only at any scale
    assert s["python_eval"] == 0


def test_temperature_mix_alpha_one_is_uniform(spark, sf_dir):
    out = asm.temperature_mix(
        Tables(spark, sf_dir).documents, alpha=1.0, target_frac=0.4
    )
    # alpha=1: every domain keeps the same target_frac rate
    rates = {r["lang"]: r["rate_pct"] for r in out.select("lang", "rate_pct").distinct().collect()}
    assert rates and set(rates.values()) == {40}


def test_temperature_mix_flattens_domains(spark, sf_dir):
    docs = Tables(spark, sf_dir).documents
    shares = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    big = max(shares, key=shares.get)
    small = min(shares, key=shares.get)
    out = asm.temperature_mix(docs, alpha=0.3, target_frac=0.4)
    rates = {r["lang"]: r["rate_pct"] for r in out.select("lang", "rate_pct").distinct().collect()}
    # temperature < 1 keeps a LARGER fraction of the rare domain
    assert rates[small] > rates[big]
    # realized keep fraction tracks rate_pct (hash-bucket uniformity)
    kept = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n_kept in kept.items():
        realized = 100.0 * n_kept / shares[lang]
        assert abs(realized - rates[lang]) <= 12  # 500-doc fixture noise

    with pytest.raises(ValueError, match="target_frac"):
        asm.temperature_mix(docs, alpha=0.5, target_frac=1.5)


def test_temperature_mix_no_corpus_shuffle(spark, sf_dir):
    s = plan_summary(
        asm.temperature_mix(
            Tables(spark, sf_dir).documents, alpha=0.5, target_frac=0.3
        )
    )
    # the only exchanges belong to the |domains|-row rate aggregate (and
    # its broadcast); the corpus side joins map-side — no SortMergeJoin,
    # and exactly ONE scan per branch (rates + corpus): the totals come
    # from a window over the tiny aggregate, not a second corpus pass
    assert s["smj"] == 0 and s["bnlj"] == 0
    assert s["bcast_joins"] >= 1
    assert s["scans"] == 2
    assert s["python_eval"] == 0


def test_global_shuffle_index_survives_pin_release(spark, sf_dir):
    """The r02 ADVICE defect class: a consumer holding the returned
    frame past the pin window.  Every step is now a pure function of
    the data, so collecting the SAME frame again after release_all()
    (forcing full recompute) must reproduce the identical permutation
    — no duplicates, no gaps, no reshuffled ranks."""
    from clear_map_data_pipeline_spark import cachereg
    from clear_map_data_pipeline_spark.operators import assembly as asm
    from clear_map_data_pipeline_spark.session import Tables

    docs = Tables(spark, sf_dir).documents
    out = asm.global_shuffle_index(docs, seed=23, n_ranges=8)
    first = sorted(map(tuple, out.collect()))
    cachereg.release_all()  # drop the pin -> next action recomputes
    second = sorted(map(tuple, out.collect()))
    assert first == second
    idxs = sorted(i for _, i in first)
    assert idxs == list(range(len(first)))


def test_write_training_shards_manifest_roundtrip(spark, tmp_path):
    from clear_map_data_pipeline_spark.operators.assembly import (
        audit_training_shards,
        write_training_shards,
    )

    df = spark.createDataFrame(
        [(i, i % 4, f"doc {i}") for i in range(100)],
        "doc_id long, shard int, text string",
    )
    out = str(tmp_path / "corpus")
    manifest = write_training_shards(df, out)
    assert manifest["total_rows"] == 100
    assert manifest["n_shards"] == 4
    assert all(m["rows"] == 25 for m in manifest["shards"].values())
    # published dataset audits clean
    probe = audit_training_shards(spark, out)
    assert probe["ok"], probe
    # identical data rewritten elsewhere yields the identical manifest
    # (checksums are content-derived, not write-order-derived)
    manifest2 = write_training_shards(df.orderBy(F.desc("doc_id")), str(tmp_path / "c2"))
    assert manifest2["shards"] == manifest["shards"]


def test_audit_detects_lost_shard_file(spark, tmp_path):
    import glob
    import os

    from clear_map_data_pipeline_spark.operators.assembly import (
        audit_training_shards,
        write_training_shards,
    )

    df = spark.createDataFrame(
        [(i, i % 2, f"doc {i}") for i in range(40)],
        "doc_id long, shard int, text string",
    )
    out = str(tmp_path / "corpus")
    write_training_shards(df, out)
    victim = glob.glob(os.path.join(out, "data", "shard=1", "*.parquet"))[0]
    os.remove(victim)
    probe = audit_training_shards(spark, out)
    assert not probe["ok"]
    assert probe["bad_shards"] == ["1"] or probe["missing"] == ["1"]


def test_weighted_sample_matches_literal_aes(spark, sf_dir):
    """A-ES weighted sampling: the engine's k-smallest -ln(u)/w keys
    must equal a literal Python recompute of the same derandomized
    keys (hash31 uniforms, identical truncation, id tie-break) — full
    selection parity, not a statistical bound.  Also: exact-k, plan
    is TakeOrdered (no global sort/exchange of the corpus)."""
    import math

    docs = Tables(spark, sf_dir).documents
    got = [
        (r["doc_id"], r["weight"], r["es_key"])
        for r in asm.weighted_sample(docs, 20, "n_chars").collect()
    ]
    assert len(got) == 20

    # literal recompute over the full corpus
    P, M, C1, C2 = tx._HASH_P, tx._HASH_M, tx._HASH_C1, tx._HASH_C2

    def h31(x):
        x0 = x % P
        x1 = (x0 * C1) % M
        x2 = x1 ^ (x1 >> 15)
        x3 = (x2 * C2) % M
        return x3 ^ (x3 >> 13)

    rows = docs.select("doc_id", "n_chars").collect()
    keys = []
    for r in rows:
        u = (h31(r["doc_id"]) + 1) / 2147483648.0
        k9 = math.floor((-math.log(u) / float(r["n_chars"])) * 1e9) / 1e9
        keys.append((k9, r["doc_id"], int(r["n_chars"])))
    keys.sort()
    want = [(d, w, k) for k, d, w in keys[:20]]
    assert got == want

    plan = asm.weighted_sample(docs, 20, "n_chars")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_weighted_sample_null_and_zero_weights_never_sampled(spark):
    """Rows with NULL or non-positive weight are filtered before key
    computation: no ANSI divide-by-zero, no NULL key stealing a slot
    under Spark's NULLS-FIRST ascending default (r04 review finding)."""
    df = spark.createDataFrame(
        [(1, 100), (2, 50), (3, None), (4, 0), (5, 80)],
        "doc_id long, n_chars int",
    )
    rows = asm.weighted_sample(df, 4, "n_chars", id_col="doc_id").collect()
    assert {r["doc_id"] for r in rows} == {1, 2, 5}
    assert all(r["es_key"] is not None for r in rows)


def test_weighted_sample_fractional_weights_preserved(spark):
    """The evidence `weight` column is the true DOUBLE weight — a 0.7
    quality score must display as 0.7, not truncate to 0 (r04 advice).
    Fractional weights also participate in the key arithmetic."""
    df = spark.createDataFrame(
        [(1, 0.7), (2, 0.3), (3, 2.5)], "doc_id long, quality double"
    )
    rows = {
        r["doc_id"]: r
        for r in asm.weighted_sample(df, 3, "quality", id_col="doc_id").collect()
    }
    assert rows[1]["weight"] == 0.7
    assert rows[3]["weight"] == 2.5
    assert all(r["es_key"] is not None for r in rows.values())


def test_stratified_exact_k_counts_and_determinism(spark):
    from pyspark.sql import functions as F

    from clear_map_data_pipeline_spark.operators.assembly import (
        stratified_exact_k,
    )

    df = spark.createDataFrame(
        [(i, ["en", "de", "fr"][i % 3]) for i in range(300)],
        "doc_id long, lang string",
    )
    out1 = stratified_exact_k(df, {"en": 10, "de": 25, "fr": 200})
    counts = {
        r["lang"]: r["n"]
        for r in out1.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    # exact where the stratum has enough rows, everything where not
    assert counts == {"en": 10, "de": 25, "fr": 100}
    # deterministic under rerun and repartition
    ids1 = sorted(r["doc_id"] for r in out1.collect())
    ids2 = sorted(
        r["doc_id"]
        for r in stratified_exact_k(
            df.repartition(7), {"en": 10, "de": 25, "fr": 200}
        ).collect()
    )
    assert ids1 == ids2
    # unknown strata drop entirely
    assert (
        stratified_exact_k(df, {"en": 5}).select("lang").distinct().count()
        == 1
    )


def test_stratified_exact_k_weighted_prefers_heavy_rows(spark):
    """With weights, selection is A-ES per stratum: giving half the
    rows 100x weight must place (nearly) all sample slots on them."""
    from clear_map_data_pipeline_spark.operators.assembly import (
        stratified_exact_k,
    )

    rows = [
        (i, "en", 100.0 if i % 2 == 0 else 1.0) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, w double")
    out = stratified_exact_k(df, {"en": 40}, weight_col="w").collect()
    heavy = sum(1 for r in out if r["doc_id"] % 2 == 0)
    assert len(out) == 40 and heavy >= 36
