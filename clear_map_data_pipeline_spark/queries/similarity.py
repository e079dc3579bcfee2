"""Similarity-search queries over the embeddings table: brute-force
cosine (exact baseline) and random-hyperplane LSH (the scale path).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import similarity as sim
from ..registry import register
from ..session import Tables
from .suites import SubQuery, register_suite

DIM = 64

_DOT_AB = (
    "list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))"
)
_NORM = "sqrt(list_sum(list_transform(range(1, 65), i -> {v}.e[i] * {v}.e[i])))"
_COS = f"round({_DOT_AB} / ({_NORM.format(v='a')} * {_NORM.format(v='b')}), 4)"

_V_CTE = """
v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings)"""


_COS_PAIRS_SQL = f"""
    WITH {_V_CTE}
    SELECT a.vec_id AS va, b.vec_id AS vb, {_COS} AS cos_sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE {_COS} >= 0.35
    """

_COS_TOPK_SQL = f"""
    WITH {_V_CTE},
    q AS (SELECT * FROM v WHERE vec_id % 100 = 0),
    scored AS (
      SELECT a.vec_id AS va, b.vec_id AS vb, {_COS} AS cos_sim
      FROM q a JOIN v b ON a.vec_id <> b.vec_id
    )
    SELECT va, vb, cos_sim, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY va
                    ORDER BY cos_sim DESC, vb) AS rn FROM scored)
    WHERE rn <= 5
    """


def sim_cosine_threshold_pairs(spark, sf_dir):
    """Brute-force all-pairs cosine >= 0.35 — the exact-recall baseline.
    Threshold compared on the 4-decimal rounded value so engine and
    oracle agree at the boundary."""
    t = Tables(spark, sf_dir)
    return sim.cosine_pairs(t.embeddings, threshold=0.35)


def sim_cosine_topk(spark, sf_dir):
    """Top-5 nearest neighbours (cosine) for each query vector
    (vec_id % 100 == 0); query side broadcast, rank on the rounded score
    with deterministic id tie-break."""
    t = Tables(spark, sf_dir)
    queries = t.embeddings.filter(F.col("vec_id") % 100 == 0)
    return sim.cosine_topk(t.embeddings, queries, k=5)


# hard-negative band: below the near-dup ceiling, above noise
HN_LO, HN_HI = 0.2, 0.5

_HARD_NEG_SQL = f"""
    WITH {_V_CTE},
    q AS (SELECT * FROM v WHERE vec_id % 100 = 0),
    scored AS (
      SELECT a.vec_id AS va, b.vec_id AS vb, {_COS} AS cos_sim
      FROM q a JOIN v b ON a.vec_id <> b.vec_id
      WHERE {_COS} >= {HN_LO} AND {_COS} < {HN_HI}
    )
    SELECT va, vb, cos_sim, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY va
                    ORDER BY cos_sim DESC, vb) AS rn FROM scored)
    WHERE rn <= 5
    """


def sim_hard_negatives(spark, sf_dir):
    """Hard-negative mining (contrastive-training sampling): per query,
    the 5 most similar vectors inside the [0.2, 0.5) cosine band —
    informative negatives below the near-dup ceiling.  Exact path here;
    the scale path band-filters IVF candidates instead."""
    t = Tables(spark, sf_dir)
    queries = t.embeddings.filter(F.col("vec_id") % 100 == 0)
    return sim.hard_negatives(t.embeddings, queries, k=5, lo=HN_LO, hi=HN_HI)


# One registry slot for the exact-cosine baselines (the LSH/IVF scale
# paths stay standalone) — frees a slot inside the driver's 50-entry
# CORRECTNESS window; all full result sets still hash-check in the union.
register_suite(
    "suite_cosine_exact",
    [
        SubQuery(
            "sim_cosine_threshold_pairs",
            sim_cosine_threshold_pairs,
            _COS_PAIRS_SQL,
            [("va", "s"), ("vb", "s"), ("cos_sim", "d4")],
        ),
        SubQuery(
            "sim_cosine_topk",
            sim_cosine_topk,
            _COS_TOPK_SQL,
            [("va", "s"), ("vb", "s"), ("cos_sim", "d4"), ("rank", "s")],
        ),
        SubQuery(
            "sim_hard_negatives",
            sim_hard_negatives,
            _HARD_NEG_SQL,
            [("va", "s"), ("vb", "s"), ("cos_sim", "d4"), ("rank", "s")],
        ),
    ],
    doc="Exact brute-force cosine baselines (threshold pairs + top-k + "
    "banded hard-negative mining), each oracle-checked row-for-row "
    "inside the union.",
)


def cos_expr(xa: str, xb: str, ndigits: int) -> str:
    """Rounded cosine between two list columns, as DuckDB SQL.  The
    sequential list_sum fold matches the engine's zip_with+aggregate
    fold order, so rounded values agree bit-for-bit."""
    dot = f"list_sum(list_transform(range(1, 65), i -> {xa}[i] * {xb}[i]))"
    na = f"sqrt(list_sum(list_transform(range(1, 65), i -> {xa}[i] * {xa}[i])))"
    nb = f"sqrt(list_sum(list_transform(range(1, 65), i -> {xb}[i] * {xb}[i])))"
    return f"round({dot} / ({na} * {nb}), {ndigits})"


def bucket_expr() -> str:
    """The 8-plane random-hyperplane LSH bucket id over column ``e``,
    as DuckDB SQL (mirror of similarity.lsh_bucket)."""
    terms = []
    for j in range(8):
        plane = sim.hyperplane(j, DIM)
        lit = "[" + ", ".join(f"CAST({s} AS DOUBLE)" for s in plane) + "]"
        d = f"list_sum(list_transform(range(1, 65), i -> e[i] * ({lit})[i]))"
        terms.append(f"CASE WHEN ({d}) > 0 THEN {1 << j} ELSE 0 END")
    return " + ".join(terms)


def ann_pairs_cte(threshold: float) -> str:
    """CTE chain v -> bucketed -> within-bucket cosine pairs >= threshold
    (named ``annp``) at the cheap single-shot 8-plane point, kept for
    the embedding-near-dup oracle (high-threshold regime where one
    repetition already recalls essentially everything)."""
    return f"""{_V_CTE},
    bkt AS (SELECT vec_id, e, CAST({bucket_expr()} AS BIGINT) AS bucket FROM v),
    annp AS (
      SELECT a.vec_id AS va, b.vec_id AS vb, {_COS} AS cos_sim
      FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {_COS} >= {threshold}
    )"""


# The REGISTERED ANN operating point.  Chosen by the AND-OR
# amplification formula 1-(1-p^r)^b (sim.lsh_params_for_recall) for
# >=0.9 recall at the fixture's exact-baseline band (cosine >= 0.35,
# where p = 1 - acos(0.35)/pi ≈ 0.61) within a 16-repetition budget:
# lsh_params_for_recall(0.9, 0.35, max_repetitions=16) == (4, 16),
# measured recall 0.92 at sf0.1 (bench record at 8c6f69f).  A test pins
# the formula's pick to this registration so the two can't drift apart.
ANN_REG_PLANES = 4
ANN_REG_REPS = 16


def _bucket_offset_expr(num_planes: int, plane_offset: int) -> str:
    """One repetition's bucket id over column ``e`` as DuckDB SQL —
    mirror of similarity.lsh_bucket_offset (same md5 plane signs, same
    sequential dot fold, same >0 sign rule)."""
    terms = []
    for j in range(num_planes):
        plane = sim.hyperplane(plane_offset + j, DIM)
        lit = "[" + ", ".join(f"CAST({s} AS DOUBLE)" for s in plane) + "]"
        d = f"list_sum(list_transform(range(1, 65), i -> e[i] * ({lit})[i]))"
        terms.append(f"CASE WHEN ({d}) > 0 THEN {1 << j} ELSE 0 END")
    return " + ".join(terms)


def ann_rep_pairs_cte(
    threshold: float,
    num_planes: int = ANN_REG_PLANES,
    repetitions: int = ANN_REG_REPS,
) -> str:
    """CTE chain for the OR-amplified ANN pairs (named ``annp``):
    each vector lands in one bucket per repetition (plane indices
    offset by r*num_planes, rep index folded into the bucket id —
    mirror of similarity._lsh_rep_candidates), candidates are the
    DEDUPED within-bucket pairs across all repetitions, and exact
    cosine is evaluated once per candidate."""
    bucket_list = ", ".join(
        f"CAST({_bucket_offset_expr(num_planes, r * num_planes)} AS BIGINT)"
        f" + {r * (1 << num_planes)}"
        for r in range(repetitions)
    )
    return f"""{_V_CTE},
    bkt AS (SELECT vec_id, unnest([{bucket_list}]) AS bucket FROM v),
    cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
             FROM bkt a JOIN bkt b
             ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
    annp AS (
      SELECT c.va, c.vb, {_COS} AS cos_sim
      FROM cand c JOIN v a ON a.vec_id = c.va JOIN v b ON b.vec_id = c.vb
      WHERE {_COS} >= {threshold}
    )"""


def _ann_sql() -> str:
    return f"WITH {ann_rep_pairs_cte(0.2)} SELECT va, vb, cos_sim FROM annp"


@register("sim_ann_lsh_pairs", sql=_ann_sql())
def sim_ann_lsh_pairs(spark, sf_dir):
    """Approximate NN pairs: random-hyperplane LSH with OR-amplification
    — ANN_REG_REPS independent ANN_REG_PLANES-plane bucketings
    (deterministic md5-derived signs), deduped candidates, exact cosine
    only within buckets.  Still map-side bucketing + one equi-join.

    The operating point is the amplification-formula pick within a
    16-repetition budget (sim.lsh_params_for_recall(0.9, 0.35,
    max_repetitions=16) == (4, 16)): measured recall
    0.92 vs the exact 0.35-threshold baseline at sf0.1, at a measured
    0.64 deduped candidate fraction — this fixture's embeddings are
    near-uniform (max pairwise cosine 0.60), so high recall inherently
    costs near-all-pairs work (both numbers are on the bench record at
    8c6f69f).  On a real near-dup corpus (pairs >= 0.9 cosine) the same
    formula picks a far cheaper point (~2^-planes cost) because p(s)
    rises toward 1."""
    t = Tables(spark, sf_dir)
    return sim.ann_lsh_pairs(
        t.embeddings,
        DIM,
        num_planes=ANN_REG_PLANES,
        threshold=0.2,
        repetitions=ANN_REG_REPS,
    )


def _ivf_sql(centroid_mod: int = 50, query_mod: int = 100, nprobe: int = 2, k: int = 5) -> str:
    cs_vc = cos_expr("v.e", "c.ce", 8)
    cs_ab = cos_expr("a.e", "b.e", 4)
    return f"""
    WITH {_V_CTE},
    c AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id % {centroid_mod} = 0),
    scored AS (SELECT v.vec_id, c.cid, {cs_vc} AS cs FROM v CROSS JOIN c),
    assign AS (
      SELECT vec_id AS vb, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
        FROM scored) WHERE rn = 1
    ),
    probe AS (
      SELECT vec_id AS va, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
        FROM scored WHERE vec_id % {query_mod} = 0) WHERE rn <= {nprobe}
    ),
    cand AS (SELECT va, vb FROM probe JOIN assign USING (cid) WHERE va <> vb),
    sc2 AS (
      SELECT va, vb, {cs_ab} AS cos_sim
      FROM cand JOIN v a ON va = a.vec_id JOIN v b ON vb = b.vec_id
    )
    SELECT va, vb, cos_sim, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY va
                    ORDER BY cos_sim DESC, vb) AS rn FROM sc2)
    WHERE rn <= {k}
    """


def sim_ivf_topk(spark, sf_dir):
    """IVF approximate top-5: nearest-centroid inverted lists (centroids
    = the deterministic id % 50 sample), queries probe their 2 nearest
    lists only.  Centroids broadcast; assignment shuffles one row per
    vector (map-side max_by); the candidate join moves only probed
    lists."""
    t = Tables(spark, sf_dir)
    return sim.ivf_topk(t.embeddings)


# One source of truth for the trained-IVF operating point — the recall
# tests reuse these so the asserted recall is always for the query
# actually registered.
IVF_KMEANS_PARAMS = {
    "k_clusters": 32,
    "nprobe": 12,
    "n_assign": 3,
    "max_iter": 3,
}


def _ivf_lloyd_sql(
    k_clusters: int, nprobe: int, k: int, n_assign: int, max_iter: int,
    query_mod: int = 100, train_mod: int = 1, v_cte: str = _V_CTE,
) -> str:
    """DuckDB twin of the FULL trained-IVF pipeline: the Lloyd fit
    unrolled as one CTE chain per iteration (score -> argmax assign ->
    integer-exact per-dimension member sums as the new centers), then
    the identical multi-assign index + probe + top-k as ``_ivf_sql``.
    Generated from the same constants as the Spark query, so the two
    cannot drift.  ``train_mod`` mirrors the operator's training slice
    (fit on ``vec_id % train_mod = 0``; index/probe always over ALL
    vectors)."""
    from ..operators.text import hash31_sql

    cs_vc = cos_expr("v.e", "c.c", 8)
    cs_ab = cos_expr("a.e", "b.e", 4)
    # iteration scoring: dot(v, c)/norm(c) with norm precomputed per
    # centroid — mirrors lloyd_centroids' flop-saving rewrite exactly
    # (same formula, same round-8, so assignments cannot drift)
    dot_vc = f"list_sum(list_transform(range(1, {DIM + 1}), i -> v.e[i] * c.c[i]))"
    norm_c = (
        f"sqrt(list_sum(list_transform(range(1, {DIM + 1}), i -> c[i] * c[i])))"
    )
    fast_cs = f"round(CASE WHEN c.nc <> 0 THEN {dot_vc} / c.nc END, 8)"
    ctes = [
        "vt AS (SELECT * FROM v"
        + (f" WHERE vec_id % {train_mod} = 0" if train_mod > 1 else "")
        + ")",
        f"""c0 AS (SELECT {hash31_sql("vec_id")} AS cid, e AS c
    FROM vt ORDER BY 1 LIMIT {k_clusters})""",
    ]
    for i in range(max_iter):
        ctes.append(
            f"n{i} AS (SELECT cid, c, {norm_c} AS nc FROM c{i})"
        )
        ctes.append(
            f"s{i} AS (SELECT v.vec_id, c.cid, {fast_cs} AS cs "
            f"FROM vt v CROSS JOIN n{i} c)"
        )
        ctes.append(
            f"""a{i} AS (SELECT vec_id, cid FROM (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
      FROM s{i}) WHERE rn = 1)"""
        )
        # member sums as floor(x * 1e12) integers: the double multiply +
        # floor are IEEE-identical across engines (a double->DECIMAL
        # cast is NOT — Spark HALF_UP vs DuckDB half-to-even diverge on
        # exact half-ties like 2^-13), and integer addition is exact so
        # the sum is order-independent; cosine's scale invariance
        # absorbs the 1e12 factor
        ctes.append(
            f"""c{i + 1} AS (
      SELECT cid, list_transform(range(1, {DIM + 1}), d ->
        CAST(list_sum(list_transform(ms, m ->
          CAST(floor(m[d] * 1000000000000.0) AS BIGINT))) AS DOUBLE)) AS c
      FROM (SELECT g.cid, list(v.e) AS ms
            FROM a{i} g JOIN vt v USING (vec_id) GROUP BY g.cid))"""
        )
    ctes.append(
        f"sf AS (SELECT v.vec_id, c.cid, {cs_vc} AS cs "
        f"FROM v CROSS JOIN c{max_iter} c)"
    )
    ctes.append(
        f"""assign AS (SELECT vec_id AS vb, cid FROM (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
      FROM sf) WHERE rn <= {n_assign})"""
    )
    ctes.append(
        f"""probe AS (SELECT vec_id AS va, cid FROM (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
      FROM sf WHERE vec_id % {query_mod} = 0) WHERE rn <= {nprobe})"""
    )
    ctes.append(
        "cand AS (SELECT DISTINCT va, vb FROM probe JOIN assign USING (cid) "
        "WHERE va <> vb)"
    )
    ctes.append(
        f"sc2 AS (SELECT va, vb, {cs_ab} AS cos_sim FROM cand "
        f"JOIN v a ON va = a.vec_id JOIN v b ON vb = b.vec_id)"
    )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {v_cte},
    {body}
    SELECT va, vb, cos_sim, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY va
                    ORDER BY cos_sim DESC, vb) AS rn FROM sc2)
    WHERE rn <= {k}
    """


def sim_ivf_kmeans_topk(spark, sf_dir):
    """IVF top-5 over TRAINED centroids — deterministic distributed
    spherical k-means (``operators/similarity.py: lloyd_centroids``):
    hash31-ordered init, argmax-cosine assignment, integer-exact
    order-independent centroid sums.  Every step is SQL-reproducible,
    so unlike the r02 MLlib variant (whose k-means|| init depends on
    partition layout and forced a rows-only check) this query is FULLY
    oracle-hash-checked — the DuckDB twin replays the fit as an
    unrolled CTE chain.

    Operating point (32 lists, nprobe=12, n_assign=3, 3 Lloyd
    iterations): recall@5 = 0.99 at sf0.1 vs the exact baseline —
    matching the MLlib-trained 1.00 within one neighbour — at the same
    0.375 probe fraction; the MLlib path (``ivf_topk_trained``) remains
    the library alternative and keeps its own recall-asserted tests.
    Multi-assignment rationale and the full single/multi-assign sweep:
    see r02 notes in ``ivf_topk_trained``'s docstring — every
    multi-assign point beats every single-assign point at
    equal-or-lower probe fraction."""
    t = Tables(spark, sf_dir)
    return sim.ivf_topk_lloyd(t.embeddings, **IVF_KMEANS_PARAMS)


# int8-reconstructed vector CTE (r06-verdict task #6): the DuckDB twin
# of quantize_embeddings -> dequantize_embeddings, replayed expression
# for expression — per-vector absmax, scale = absmax/127, symmetric
# round-half-up codes, dequant = code * scale — so the downstream Lloyd
# chain runs over bit-identical doubles on both engines.
_V_INT8_CTE = """
v0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e0
       FROM embeddings),
vm AS (SELECT vec_id, e0,
              list_max(list_transform(e0, x -> abs(x))) AS m FROM v0),
v AS (SELECT vec_id, list_transform(e0, x ->
         CASE WHEN m > 0.0
              THEN CAST(round(x / (m / 127.0)) AS BIGINT) * (m / 127.0)
              ELSE 0.0 END) AS e
      FROM vm)"""


def sim_ivf_int8_topk(spark, sf_dir):
    """int8-quantized IVF top-5 (r07, tests-only -> hash-checked): the
    full storage-scale composition — symmetric per-vector int8
    quantization (4x wire/disk cut), dequantize, then the SAME trained
    Lloyd IVF search as ``sim_ivf_kmeans_topk``.  The oracle replays
    quantize/dequantize as a CTE prefix and the identical unrolled
    Lloyd chain over the reconstructed vectors, so the driver
    hash-checks the quantizer's exact arithmetic AND its composition
    with the index — not just a recall bound (recall vs the float
    exact baseline is asserted >= 0.85 in
    tests/test_similarity_trained.py)."""
    t = Tables(spark, sf_dir)
    deq = sim.dequantize_embeddings(sim.quantize_embeddings(t.embeddings))
    return sim.ivf_topk_lloyd(deq, **IVF_KMEANS_PARAMS)


# One registry slot for the three IVF variants (r05: same probe/rank
# shape, different trainers/input encodings — the suite fold frees
# slots for net-new oracle-checked operators while all full result sets
# keep hash-checking row-for-row inside the union).
register_suite(
    "suite_ivf",
    [
        SubQuery(
            "sim_ivf_topk",
            sim_ivf_topk,
            _ivf_sql(),
            [("va", "s"), ("vb", "s"), ("cos_sim", "d4"), ("rank", "s")],
        ),
        SubQuery(
            "sim_ivf_kmeans_topk",
            sim_ivf_kmeans_topk,
            _ivf_lloyd_sql(
                IVF_KMEANS_PARAMS["k_clusters"],
                IVF_KMEANS_PARAMS["nprobe"],
                5,
                IVF_KMEANS_PARAMS["n_assign"],
                IVF_KMEANS_PARAMS["max_iter"],
            ),
            [("va", "s"), ("vb", "s"), ("cos_sim", "d4"), ("rank", "s")],
        ),
        SubQuery(
            "sim_ivf_int8_topk",
            sim_ivf_int8_topk,
            _ivf_lloyd_sql(
                IVF_KMEANS_PARAMS["k_clusters"],
                IVF_KMEANS_PARAMS["nprobe"],
                5,
                IVF_KMEANS_PARAMS["n_assign"],
                IVF_KMEANS_PARAMS["max_iter"],
                v_cte=_V_INT8_CTE,
            ),
            [("va", "s"), ("vb", "s"), ("cos_sim", "d4"), ("rank", "s")],
        ),
    ],
    doc="IVF approximate top-5 suite: deterministic-sample centroids "
    "(training-free) + trained Lloyd centroids (unrolled-CTE oracle) + "
    "r07: the int8 quantize->dequantize->Lloyd-IVF composition "
    "(quantizer arithmetic replayed in the oracle CTE prefix), "
    "identical probe/rank structure.",
)
