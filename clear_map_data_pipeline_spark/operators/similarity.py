"""Similarity search over embedding columns (array<float>).

- Brute-force cosine: exact baseline — O(Q x N x d) with the query side
  broadcast; all arithmetic in JVM higher-order functions (zip_with +
  aggregate), no Python boundary.
- Random-hyperplane LSH: the scale path — per-row bucketing against
  deterministic ±1 hyperplanes (derived from md5 so engine and oracle
  agree bit-for-bit), then candidate generation within buckets only.
  At 100 TB: bucketing is map-side; the bucket join replaces the O(N²)
  pair blow-up; multiple plane-sets (repetitions) trade recall for cost.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hyperplane(plane_idx: int, dim: int) -> list[int]:
    """Deterministic ±1 hyperplane: sign = parity of the first hex digit
    of md5(f"{plane_idx}|{dim_idx}").  Reproducible everywhere (Python,
    Spark, DuckDB) with no RNG state."""
    return [
        1
        if int(hashlib.md5(f"{plane_idx}|{i}".encode()).hexdigest()[0], 16) % 2
        else -1
        for i in range(dim)
    ]


def as_double(col: str) -> Column:
    """array<float> -> array<double> (all downstream math in doubles so
    fold order is the only precision concern — and it's fixed)."""
    return F.expr(f"transform({col}, x -> CAST(x AS DOUBLE))")


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — deterministic summation order,
    matching DuckDB's list_sum(list_transform(...)) element order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity, NULL-safe for zero vectors (ANSI mode)."""
    denom = norm(a) * norm(b)
    return F.when(denom != 0, dot(a, b) / denom)


def _vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, _v double-array) with the scan spread to session parallelism
    (vector math is CPU-bound; one-row-group fixtures otherwise pin it
    to a single task — a no-op on inputs with real splits)."""
    from ..session import spread_small_scan

    return spread_small_scan(df).select(
        F.col(id_col), as_double(vec_col).alias("_v")
    )


BASELINE_MAX_ROWS = 100_000


def guard_baseline_rows(
    df: DataFrame, max_rows: int | None, scale_path: str
) -> None:
    """Refuse to run an O(N²) exact baseline above ``max_rows`` input
    rows (None disables).  The count is one cheap scan — negligible
    next to the quadratic work it prevents; at 100 TB nothing should
    reach this operator at all."""
    if max_rows is None:
        return
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"input has {n} rows > max_rows={max_rows}: this operator is "
            f"the O(N^2) exact baseline — use {scale_path} at scale, or "
            f"pass max_rows=None to force"
        )


def cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    max_rows: int | None = BASELINE_MAX_ROWS,
) -> DataFrame:
    """Brute-force all-pairs cosine, keeping pairs >= threshold (compared
    on the 4-decimal rounded value).  Exact-recall baseline — refuses
    inputs above ``max_rows`` (use ann_lsh_pairs / ivf_topk at scale)."""
    guard_baseline_rows(df, max_rows, "ann_lsh_pairs or ivf_topk")
    v = _vectors(df, id_col, vec_col)
    a = v.toDF("va", "_a")
    b = v.toDF("vb", "_b")
    return (
        a.join(b, F.col("va") < F.col("vb"))
        .select(
            "va",
            "vb",
            F.round(cosine(F.col("_a"), F.col("_b")), 4).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Top-k nearest neighbours (cosine) for each query vector,
    optionally restricted to the similarity band ``lo <= cos < hi``
    (the hard-negative-mining case — see ``hard_negatives``).

    The query side is broadcast (small); ranking uses row_number with a
    deterministic id tie-break; band bounds compare on the rounded
    score so engine and oracle agree at the boundary.  ONE definition
    serves the plain top-k and the banded variant, so the shared
    discipline (tie-break, rounding, broadcast shape) cannot drift."""
    from pyspark.sql import Window

    cand = _vectors(df, id_col, vec_col).toDF("vb", "_b")
    qry = queries.select(F.col(id_col).alias("va"), as_double(vec_col).alias("_a"))
    scored = F.broadcast(qry).crossJoin(cand).filter(F.col("va") != F.col("vb")).select(
        "va", "vb", F.round(cosine(F.col("_a"), F.col("_b")), 4).alias("cos_sim")
    )
    if lo is not None:
        scored = scored.filter(F.col("cos_sim") >= lo)
    if hi is not None:
        scored = scored.filter(F.col("cos_sim") < hi)
    w = Window.partitionBy("va").orderBy(F.col("cos_sim").desc(), F.col("vb"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("va", "vb", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


def lsh_bucket(vec_col_dbl: str, dim: int, num_planes: int = 8) -> Column:
    """Random-hyperplane LSH bucket id: bit j = (v · h_j) > 0."""
    return lsh_bucket_offset(vec_col_dbl, dim, num_planes, 0)


def _ivf_from_centroids(
    v: DataFrame,
    cents: DataFrame,
    id_col: str,
    query_mod: int,
    nprobe: int,
    k: int,
    n_assign: int = 1,
) -> DataFrame:
    """The IVF index/probe core, shared by the deterministic-sample and
    KMeans-trained centroid variants.  ``v`` is (id, _v); ``cents`` is
    (cid, _c).

    Scale design: centroids are broadcast to both the assignment and the
    probe steps, so assignment is one groupBy(id) with map-side partial
    ``max_by`` — the shuffle carries one row per vector, never the
    vector x centroid cross product.  The candidate join shuffles on
    centroid_id, i.e. only the probed inverted lists move.  Assignment
    scores round to 8 decimals (tie-break: lower centroid id) so engine
    and oracle argmax agree bit-for-bit.

    ``n_assign`` > 1 indexes every base vector into its top-n lists
    (multi-assignment): the index grows n-fold but recall at a fixed
    probe fraction rises, because a neighbour straddling a Voronoi
    boundary is reachable from both sides.  The top-n agg is a
    collect_list + sort + slice whose partial state is one
    (score, cid) entry per centroid — the same size as the broadcast
    centroid set every task already holds, so the shuffle stays one
    bounded row per vector."""
    from pyspark.sql import Window

    scored = v.crossJoin(F.broadcast(cents)).select(
        id_col,
        "cid",
        F.round(cosine(F.col("_v"), F.col("_c")), 8).alias("_cs"),
    )
    if n_assign <= 1:
        assign = scored.groupBy(id_col).agg(
            F.max_by(
                "cid", F.struct(F.col("_cs"), (-F.col("cid")).alias("_t"))
            ).alias("cid")
        )
    else:
        top = scored.groupBy(id_col).agg(
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("_cs"),
                            (-F.col("cid")).alias("_t"),
                            F.col("cid").alias("cid"),
                        )
                    ),
                    asc=False,
                ),
                1,
                n_assign,
            ).alias("_top")
        )
        assign = top.select(
            id_col, F.explode(F.col("_top.cid")).alias("cid")
        )
    probe = (
        scored.filter(F.col(id_col) % query_mod == 0)
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(F.desc("_cs"), F.col("cid"))
            ),
        )
        .filter(F.col("_rn") <= nprobe)
        .select(F.col(id_col).alias("va"), "cid")
    )
    cand = (
        F.broadcast(probe)
        .join(assign.toDF("vb", "cid"), "cid")
        .filter(F.col("va") != F.col("vb"))
        .select("va", "vb")
    )
    if n_assign > 1:
        # A pair can meet in several shared lists; dedupe before scoring
        # so row_number ranks distinct neighbours.  Bounded by the probed
        # candidate set (queries x nprobe lists), not the corpus.
        cand = cand.distinct()
    pairs = (
        cand.join(v.toDF("va", "_a"), "va")
        .join(v.toDF("vb", "_b"), "vb")
        .select(
            "va", "vb", F.round(cosine(F.col("_a"), F.col("_b")), 4).alias("cos_sim")
        )
    )
    w = Window.partitionBy("va").orderBy(F.col("cos_sim").desc(), F.col("vb"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("va", "vb", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


def ivf_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 50,
    query_mod: int = 100,
    nprobe: int = 2,
    k: int = 5,
) -> DataFrame:
    """IVF approximate top-k with deterministic-sample centroids
    (``id % centroid_mod == 0``) — training-free, exactly reproducible
    in the DuckDB oracle.  ``ivf_topk_trained`` swaps in KMeans-fitted
    centers; the index/probe structure is identical."""
    v = _vectors(df, id_col, vec_col)
    cents = v.filter(F.col(id_col) % centroid_mod == 0).toDF("cid", "_c")
    return _ivf_from_centroids(v, cents, id_col, query_mod, nprobe, k)


def kmeans_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_clusters: int = 10,
    seed: int = 42,
    max_iter: int = 10,
    init_mode: str = "random",
    train_mod: int = 1,
) -> DataFrame:
    """Fit pyspark.ml KMeans over the embedding column and return the
    cluster centers as a (cid, _c array<double>) frame — the trained
    replacement for the deterministic-sample centroids.

    The fit itself is the standard distributed Lloyd's: broadcast
    current centers, one pass per iteration (Spark MLlib handles the
    treeAggregate).

    ``train_mod`` trains on the deterministic 1/train_mod id-slice
    (``id % train_mod == 0``) — THE scale lever: centroid quality needs
    a representative sample, not the corpus, so at 100 TB you fit on
    ~1M vectors and broadcast the same handful of centers.  An id-mod
    slice (not ``df.sample``) keeps the training set independent of
    partition layout, so the fitted centers are reproducible across
    parallelism changes.  Default is 1 (train on everything): at bench
    scale the fit cost is per-iteration job overhead, not data volume,
    and measured recall@5 at sf0.1/k=32 moves with the sample (1 ->
    0.77, 2 -> 0.65, 8 -> 0.79) — sampling is a lever to pull when the
    training pass is data-bound, with recall re-measured at the new
    operating point (``ivf_recall_at_k``).

    init_mode defaults to 'random': k-means|| init costs ~5 extra
    cluster-wide passes, and at small k over weakly-clustered data Lloyd
    converges to the same cost from a random start (measured at sf0.1:
    identical training cost and recall, fit 4.8s -> 1.5s).  For large k
    or strongly-clustered corpora flip back to 'k-means||' — its
    oversampling is what protects against empty/starved clusters."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from ..session import literal_frame

    v = _vectors(df, id_col, vec_col)
    if train_mod > 1:
        v = v.filter(F.col(id_col) % train_mod == 0)
    train = v.select(array_to_vector(F.col("_v")).alias("features"))
    model = KMeans(
        k=k_clusters, seed=seed, maxIter=max_iter, initMode=init_mode
    ).fit(train)
    spark = df.sparkSession
    rows = [
        (i, [float(x) for x in center])
        for i, center in enumerate(model.clusterCenters())
    ]
    return literal_frame(spark, rows, "cid long, _c array<double>")


def ivf_topk_trained(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_clusters: int = 10,
    seed: int = 42,
    query_mod: int = 100,
    nprobe: int = 2,
    k: int = 5,
    train_mod: int = 1,
    n_assign: int = 1,
    max_iter: int = 10,
) -> DataFrame:
    """IVF top-k over KMeans-trained centroids: better-balanced inverted
    lists than the id-sample variant (higher recall at equal nprobe).
    ``max_iter`` is the fit-cost knob: at sf0.1/(32,12,assign=3) the
    measured points are 10 iters -> recall 1.00, 5 -> 0.97, 3 -> 0.96
    at roughly half the fit wall — all above the 0.9 bar; the default
    keeps the exact-recall operating point.
    Deterministic for a fixed seed + input + PARTITIONING (k-means||'s
    init sampling depends on partition layout, so different
    parallelism can yield different — equally valid — centers), and not
    SQL-reproducible — driver check is rows-only; recall@k against the
    brute-force baseline is measured by ``ivf_recall_at_k`` (asserted
    in tests)."""
    v = _vectors(df, id_col, vec_col)
    cents = kmeans_centroids(
        df, id_col, vec_col, k_clusters, seed, max_iter=max_iter,
        train_mod=train_mod
    )
    return _ivf_from_centroids(
        v, cents, id_col, query_mod, nprobe, k, n_assign=n_assign
    )


def ivf_recall_at_k(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    query_mod: int = 100,
    trained: bool | str = True,
    **ivf_kwargs,
) -> float:
    """recall@k of the IVF result against the exact brute-force top-k
    (cosine_topk) for the same query set: |IVF ∩ exact| / |exact|.
    ``trained``: "lloyd" = the deterministic-Lloyd variant (the
    registered query), True = the MLlib variant, False = id-sample
    centroids."""
    if trained not in (True, False, "lloyd", "mllib"):
        raise ValueError(
            f"trained={trained!r}: expected 'lloyd', 'mllib'/True, or "
            "False — refusing to guess which variant to measure"
        )
    queries = df.filter(F.col(id_col) % query_mod == 0)
    exact = cosine_topk(df, queries, k, id_col, vec_col).select("va", "vb")
    if trained == "lloyd":
        approx = ivf_topk_lloyd(
            df, id_col, vec_col, k=k, query_mod=query_mod, **ivf_kwargs
        )
    elif trained:
        approx = ivf_topk_trained(
            df, id_col, vec_col, k=k, query_mod=query_mod, **ivf_kwargs
        )
    else:
        approx = ivf_topk(
            df, id_col, vec_col, k=k, query_mod=query_mod, **ivf_kwargs
        )
    approx = approx.select("va", "vb")
    n_exact = exact.count()
    if n_exact == 0:
        return 0.0
    hit = exact.join(approx, ["va", "vb"], "left_semi").count()
    return hit / n_exact


def ann_lsh_pairs(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    threshold: float = 0.2,
    repetitions: int = 1,
) -> DataFrame:
    """Approximate near-neighbour pairs: exact cosine evaluated ONLY
    within LSH buckets.  Trades recall (bucket-boundary misses) for a
    ~2^planes candidate reduction.

    ``repetitions`` is the recall/cost knob (the LSH analogue of IVF
    nprobe): r independent plane-sets (plane indices offset by
    r*num_planes) each bucket the corpus; a true pair is missed only if
    EVERY plane-set splits it, so miss probability decays geometrically
    in r while candidate volume grows ~linearly.  Buckets from
    different repetitions are disjoint join keys (rep index folded into
    the bucket id), and candidates met in several repetitions are
    deduped before scoring.  Still fully map-side bucketing + one
    equi-join — the 100 TB shape is unchanged."""
    v = _vectors(df, id_col, vec_col)
    if repetitions <= 1:
        v = v.withColumn("bucket", lsh_bucket("_v", dim, num_planes))
        a = v.select(F.col(id_col).alias("va"), F.col("_v").alias("_a"), "bucket")
        b = v.select(F.col(id_col).alias("vb"), F.col("_v").alias("_b"), "bucket")
        return (
            a.join(b, "bucket")
            .filter(F.col("va") < F.col("vb"))
            .select(
                "va",
                "vb",
                F.round(cosine(F.col("_a"), F.col("_b")), 4).alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= threshold)
        )
    cand = _lsh_rep_candidates(v, dim, id_col, num_planes, repetitions)
    # High-recall points generate many candidate pairs, so the pair
    # scoring dominates: cache each vector's norm ONCE — the per-pair
    # cosine then costs one dot instead of three, and norm(a)*norm(b)
    # on cached values is the IDENTICAL double, so the oracle is
    # unchanged.  No broadcast hint: the vector frame is corpus-sized,
    # so the join strategy is left to the planner/AQE (auto-broadcast
    # when it fits the threshold, shuffle join at scale).
    vn = v.select("*", norm(F.col("_v")).alias("_nv"))
    denom = F.col("_na") * F.col("_nb")
    cos = F.when(denom != 0, dot(F.col("_a"), F.col("_b")) / denom)
    pairs = (
        cand.join(vn.toDF("va", "_a", "_na"), "va")
        .join(vn.toDF("vb", "_b", "_nb"), "vb")
        .select("va", "vb", F.round(cos, 4).alias("cos_sim"))
    )
    return pairs.filter(F.col("cos_sim") >= threshold)


def _lsh_rep_candidates(
    v: DataFrame, dim: int, id_col: str, num_planes: int, repetitions: int
) -> DataFrame:
    """Deduped (va, vb) candidate pairs from ``repetitions`` disjoint
    plane-set bucketings — the pairs ``ann_lsh_pairs`` scores."""
    buckets = F.array(
        *[
            (
                lsh_bucket_offset("_v", dim, num_planes, r * num_planes)
                + F.lit(r * (1 << num_planes))
            )
            for r in range(repetitions)
        ]
    )
    vb = v.withColumn("bucket", F.explode(buckets))
    a = vb.select(F.col(id_col).alias("va"), "bucket")
    b = vb.select(F.col(id_col).alias("vb"), "bucket")
    return (
        a.join(b, "bucket").filter(F.col("va") < F.col("vb")).select("va", "vb")
    ).distinct()


def lsh_bucket_offset(
    vec_col_dbl: str, dim: int, num_planes: int, plane_offset: int
) -> Column:
    """lsh_bucket with the plane indices shifted — gives each LSH
    repetition an independent deterministic plane-set."""
    terms = []
    for j in range(num_planes):
        plane = hyperplane(plane_offset + j, dim)
        arr = "array(" + ", ".join(f"CAST({s} AS DOUBLE)" for s in plane) + ")"
        d = (
            f"aggregate(zip_with({vec_col_dbl}, {arr}, (x, y) -> x * y),"
            f" CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        terms.append(f"CASE WHEN ({d}) > 0 THEN {1 << j} ELSE 0 END")
    return F.expr(" + ".join(terms)).cast("long")


def lsh_recall_vs_exact(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    threshold: float = 0.2,
    repetitions: int = 1,
    max_rows: int | None = BASELINE_MAX_ROWS,
) -> float:
    """Recall of ann_lsh_pairs against the exact all-pairs baseline at
    the same threshold: |LSH ∩ exact| / |exact|.  Baseline-guarded —
    a recall measurement is itself an O(N²) operation."""
    exact = cosine_pairs(df, id_col, vec_col, threshold, max_rows).select(
        "va", "vb"
    )
    approx = ann_lsh_pairs(
        df, dim, id_col, vec_col, num_planes, threshold, repetitions
    ).select("va", "vb")
    n_exact = exact.count()
    if n_exact == 0:
        return 0.0
    return exact.join(approx, ["va", "vb"], "left_semi").count() / n_exact


def lsh_params_for_recall(
    target_recall: float,
    s_min: float,
    max_planes: int = 16,
    max_repetitions: int = 128,
) -> tuple[int, int]:
    """Pick ``(num_planes, repetitions)`` so hyperplane LSH recalls at
    least ``target_recall`` of the pairs with cosine >= ``s_min``, via
    the standard AND-OR amplification formula.

    A single plane separates a pair with cosine s with probability
    θ/π (θ = arccos s), so one ``r``-plane repetition keeps the pair
    with p(s)^r where p(s) = 1 - arccos(s)/π, and ``b`` independent
    repetitions miss it only with (1 - p^r)^b.  Recall at the WORST
    admitted similarity s_min is therefore 1 - (1 - p(s_min)^r)^b; any
    higher-cosine pair does strictly better.  Among all plane counts
    that can hit the target within ``max_repetitions``, the cheapest
    point under the uniform candidate-cost bound b/2^r is returned;
    real data skews buckets, so the deduped candidate count of
    ``_lsh_rep_candidates`` can exceed that bound.
    """
    import math

    if not 0.0 < target_recall < 1.0:
        raise ValueError("target_recall must be in (0, 1)")
    if not -1.0 < s_min < 1.0:
        raise ValueError("s_min must be in (-1, 1)")
    p = 1.0 - math.acos(s_min) / math.pi
    if p <= 0.0:
        raise ValueError("s_min too low: single-plane retention is 0")
    best: tuple[int, int] | None = None
    best_cost = float("inf")
    for r in range(1, max_planes + 1):
        pr = p**r
        if pr >= 1.0:
            b = 1
        else:
            b = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pr))
        if b > max_repetitions:
            continue
        cost = b / (1 << r)
        if cost < best_cost:
            best, best_cost = (r, b), cost
    if best is None:
        raise ValueError(
            f"no (planes<={max_planes}, reps<={max_repetitions}) point "
            f"reaches recall {target_recall} at s_min={s_min}; lower the "
            "target or raise max_repetitions"
        )
    return best


def lloyd_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_clusters: int = 10,
    max_iter: int = 5,
    train_mod: int = 1,
) -> DataFrame:
    """Deterministic distributed spherical k-means (Lloyd's), built so
    the whole fit is ORACLE-REPRODUCIBLE — the property MLlib's KMeans
    cannot give (its init sampling depends on partition layout):

    - init: the ``k_clusters`` vectors with the smallest ``hash31(id)``
      — an injective pseudo-random spread, no RNG state, one
      TakeOrdered;
    - assignment: argmax cosine against the broadcast centroids,
      rounded to 8 decimals with a lower-cid tie-break (the exact
      discipline ``_ivf_from_centroids`` already proves cross-engine);
    - update: per-dimension member sums as INTEGERS —
      ``floor(x * 1e12)`` scales every component to a long (the double
      multiply and floor are IEEE-identical on every engine; unlike a
      double->DECIMAL cast there is NO rounding-mode semantic at all,
      which matters because float32-derived components like 2^-13 are
      exact half-ties at 12 decimals, and Spark casts those HALF_UP
      while DuckDB rounds half-to-even), then sums through
      DECIMAL(38,0) — exact integer addition, hence ORDER-INDEPENDENT,
      so the new centroid is identical under any partitioning or join
      order.  And because cosine is scale-invariant, the scaled SUM of
      members points the same direction as their mean — no division,
      and the 1e12 factor drops out.

    Scale shape per iteration: one broadcast of k x dim centers, one
    map-side-combined groupBy(id) argmax (shuffle = one row/vector),
    one (cid, dim) aggregate (shuffle = one row per vector x dim,
    partial-combined map-side).  Empty clusters drop out identically on
    both engines.  ``train_mod`` fits on the deterministic id-slice at
    scale, exactly as ``kmeans_centroids`` documents.

    Returns (cid, _c array<double>); cid is the init vector's hash31
    value (stable across iterations, unique by injectivity).

    Like MLlib's own Lloyd loop, the k x dim centers are collected to
    the driver at every iteration boundary (a BOUNDED k*dim doubles —
    the classic allowed collect) and re-broadcast as a literal frame:
    each iteration therefore executes exactly once with a shallow plan,
    instead of the downstream consumers of the returned frame silently
    re-running the whole fit chain per action, and the values are
    bit-identical either way.
    """
    from ..session import literal_frame
    from .iterate import iteration_confs
    from .text import hash31

    spark = df.sparkSession
    v = _vectors(df, id_col, vec_col)
    t = v if train_mod <= 1 else v.filter(F.col(id_col) % train_mod == 0)

    def materialize(frame: DataFrame) -> DataFrame:
        # a LocalRelation, so the re-broadcast of the k x dim centers
        # each iteration builds driver-side with zero tasks instead of
        # scanning a 32-slice parallelized RDD per broadcast (the Arrow
        # table carries the doubles bit-identical)
        rows = frame.collect()
        data = [(int(r["cid"]), [float(x) for x in r["_c"]]) for r in rows]
        return literal_frame(spark, data, "cid long, _c array<double>")

    # The fit is a fixpoint loop over a materialized training slice —
    # the same latency-bound regime as the graph loops: every iteration
    # collects at the driver, so per-shuffle-stage latency (3 shuffles x
    # AQE re-plan barriers at session width) dominates over data volume
    # on modest slices.  Persist the slice once (MLlib's own Lloyd
    # caches its training set the same way; train_mod bounds it at
    # scale) and run the iterations under the shared iteration confs —
    # AQE off + ~1M-row shuffle width, session values restored on exit.
    # Results are bit-identical by construction: the integer-unit member
    # sums are order-independent under any partitioning.
    t = t.persist()
    try:
        n_t = t.count()
        with iteration_confs(spark, n_t):
            cents = _lloyd_iterate(t, id_col, k_clusters, max_iter,
                                   materialize, hash31)
    finally:
        t.unpersist()
    return cents


def _lloyd_iterate(t, id_col, k_clusters, max_iter, materialize, hash31):
    """The Lloyd init + iteration body (see ``lloyd_centroids`` for the
    full determinism contract); runs under ``iterate.iteration_confs``.

    Measured rejection (r09): since the centroids are driver-resident
    at every iteration boundary anyway, assigning via a LITERAL
    array<struct<cid,c,nc>> + an ``aggregate`` HOF argmax fold — which
    deletes both the per-iteration BroadcastExchange build and the
    groupBy(id) argmax shuffle — is bit-identical but ~3x SLOWER at
    sf0.1 (best-of-3 4.2 vs 15.1 s per fit): a fold over a k*dim
    literal array evaluates interpreted per row, while the crossJoin
    keeps the dot/argmax inside whole-stage codegen.  The shuffle it
    saves was never the wall (same finding as the fused-update probe:
    the fit is bounded by its per-iteration driver collect barriers,
    which the re-broadcast design requires)."""
    cents = materialize(
        t.select(hash31(F.col(id_col)).alias("cid"), F.col("_v").alias("_c"))
        .orderBy("cid")
        .limit(k_clusters)
    )
    for _ in range(max_iter):
        # Assignment scores as dot(v, c)/norm(c), NOT full cosine:
        # norm(v) is constant within each vector's argmax so dividing by
        # it cannot change the winner, and norm(c) is computed ONCE per
        # centroid on the k-row frame instead of once per (vector,
        # centroid) pair — ~60% fewer flops per pair, the dominant cost
        # of an iteration.  The oracle uses the identical formula, so
        # the round-8 equivalence classes still match bit-for-bit.
        cn = cents.withColumn("_nc", norm(F.col("_c")))
        scored = t.crossJoin(F.broadcast(cn)).select(
            id_col,
            "_v",
            "cid",
            F.round(
                F.when(
                    F.col("_nc") != 0,
                    dot(F.col("_v"), F.col("_c")) / F.col("_nc"),
                ),
                8,
            ).alias("_cs"),
        )
        # the vector rides through the argmax agg (any_value is exact:
        # every _v in an id's group is the same row's vector), so no
        # second scan + shuffle of t to re-attach members
        mem = scored.groupBy(id_col).agg(
            F.max_by(
                "cid", F.struct(F.col("_cs"), (-F.col("cid")).alias("_t"))
            ).alias("cid"),
            F.any_value("_v").alias("_v"),
        )
        sums = (
            mem.select("cid", F.posexplode("_v").alias("_pos", "_x"))
            .groupBy("cid", "_pos")
            .agg(
                F.sum(
                    F.floor(F.col("_x") * F.lit(1e12)).cast("decimal(38,0)")
                ).alias("_s")
            )
        )
        cents = materialize(
            sums.groupBy("cid").agg(
                F.expr(
                    "transform(sort_array(collect_list(struct(_pos, _s))), "
                    "e -> CAST(e._s AS DOUBLE))"
                ).alias("_c")
            )
        )
    return cents


def ivf_topk_lloyd(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_clusters: int = 10,
    query_mod: int = 100,
    nprobe: int = 2,
    k: int = 5,
    train_mod: int = 1,
    n_assign: int = 1,
    max_iter: int = 5,
) -> DataFrame:
    """IVF top-k over deterministic-Lloyd-trained centroids: the trained
    index quality of ``ivf_topk_trained`` with full SQL-oracle
    reproducibility — every step (init, iterations, assignment, probe)
    hash-checks against an unrolled CTE chain in DuckDB."""
    v = _vectors(df, id_col, vec_col)
    cents = lloyd_centroids(
        df, id_col, vec_col, k_clusters, max_iter=max_iter, train_mod=train_mod
    )
    return _ivf_from_centroids(
        v, cents, id_col, query_mod, nprobe, k, n_assign=n_assign
    )


def hard_negatives(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    lo: float = 0.2,
    hi: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the k MOST similar corpus vectors inside the band
    ``lo <= cos < hi`` — similar enough to be informative negatives,
    below the near-duplicate ceiling so they are not false negatives.

    A banded ``cosine_topk`` — the ONE shared definition carries the
    tie-break/rounding discipline.  This is the exact path; at corpus
    scale run the SAME band filter over the IVF candidates (an IVF
    top-k with a larger k, then band filter + re-rank), which prunes to
    probed inverted lists first."""
    return cosine_topk(df, queries, k, id_col, vec_col, lo=lo, hi=hi)


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Symmetric per-vector integer quantization of an embedding column
    — the storage/bandwidth lever of a 100 TB vector corpus (int8 cuts
    a float32 column 4x on disk AND on every shuffle wire; ANN recall
    loss is small because cosine is scale-invariant per vector).

    Returns (id, scale, qvec): ``qvec`` is array<int> in
    [-(2^(bits-1)-1), +(2^(bits-1)-1)] with ``x ~= q * scale``;
    zero vectors get scale 0 and all-zero codes.  Pure per-row
    expressions (transform + aggregate) — no UDF, no shuffle."""
    qmax = (1 << (bits - 1)) - 1
    absmax = F.expr(
        f"aggregate({vec_col}, cast(0.0 as double),"
        " (acc, x) -> greatest(acc, abs(cast(x as double))))"
    )
    df = df.select(F.col(id_col), F.col(vec_col), absmax.alias("_m"))
    scale = F.when(F.col("_m") > 0.0, F.col("_m") / qmax).otherwise(
        F.lit(0.0)
    )
    df = df.withColumn("scale", scale)
    qvec = F.expr(
        f"transform({vec_col}, x -> CASE WHEN scale > 0.0 THEN"
        " cast(round(cast(x as double) / scale) as int)"
        " ELSE 0 END)"
    )
    return df.select(id_col, "scale", qvec.alias("qvec"))


def dequantize_embeddings(
    df: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Inverse of ``quantize_embeddings``: (id, embedding) with
    ``embedding = qvec * scale`` as array<double>.  Per-element error
    is bounded by scale/2 = absmax/(2*(2^(bits-1)-1))."""
    return df.select(
        F.col(id_col),
        F.expr(
            "transform(qvec, q -> cast(q as double) * scale)"
        ).alias("embedding"),
    )
