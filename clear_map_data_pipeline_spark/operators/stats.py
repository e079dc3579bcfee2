"""Window/aggregate statistics operators (SURVEY.md §2.4-2.5).

Each is a pure DataFrame -> DataFrame function built on the shared window
specs in ``windows.py`` so a chained stack of them compiles to ONE
exchange + sort (verified in tests/test_plan.py).  References cite
``/root/reference/il_analysis_git.py``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .windows import by_key_ordered, full_partition, prefix, rolling

# the 19-step color scale of the dates CSV (ref :168): 0.05 .. 0.95
COLOR_QUANTILES = tuple(round(0.05 * i, 2) for i in range(1, 20))


def last_value_ratio(
    df: DataFrame,
    value: str,
    base: str,
    out: str,
    key: str = "id",
    order: str = "date",
) -> DataFrame:
    """A11 (ref :134-136): percent = round(latest value / latest base * 100),
    broadcast to every row of the group.

    ``max_by`` over the full-partition window replaces the reference's
    per-group ``iloc[-1]`` on a globally pre-sorted frame.
    """
    w = full_partition(key, order)
    return df.withColumn(
        out,
        F.round(F.max_by(value, order).over(w) / F.max_by(base, order).over(w) * 100),
    )


def rebase_to_period_start(
    df: DataFrame, cols: Sequence[str], key: str = "id", order: str = "date"
) -> DataFrame:
    """A12 (ref :158-160): subtract each group's earliest-date value, so a
    window's series starts at 0."""
    w = full_partition(key, order)
    out = df
    for c in cols:
        out = out.withColumn(c, F.col(c) - F.min_by(c, order).over(w))
    return out


def every_nth_latest_anchored(
    df: DataFrame, n: int = 7, key: str = "id", order: str = "date"
) -> DataFrame:
    """W2 (ref :152-154): per group take every n-th row counting BACK from
    the latest date (weekly downsampling with the newest date kept fixed).

    The reference's per-group ``iloc[::7]`` + append loop becomes a
    row_number over desc order + one modulo filter.
    """
    w = by_key_ordered(key, order).orderBy(F.col(order).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") - 1) % n == 0)
        .drop("_rn")
    )


def daily_delta(
    df: DataFrame, value: str, out: str = "delta", key: str = "id", order: str = "date"
) -> DataFrame:
    """W3 (ref :162-164): delta = value - previous-date value; the earliest
    row falls back to its own value (``diff(-1).fillna``)."""
    w = by_key_ordered(key, order)
    return df.withColumn(
        out, F.coalesce(F.col(value) - F.lag(value).over(w), F.col(value))
    )


def rolling_sum(
    df: DataFrame, value: str, out: str, n: int = 7, key: str = "id", order: str = "date"
) -> DataFrame:
    """W5 (ref latent :138,:141): trailing n-row sum."""
    return df.withColumn(out, F.sum(value).over(rolling(n, key, order)))


def lag_k(
    df: DataFrame,
    value: str,
    out: str,
    k: int = 7,
    default: float = 0,
    key: str = "id",
    order: str = "date",
) -> DataFrame:
    """W6 (ref latent :139): value shifted k rows back, default-filled."""
    return df.withColumn(out, F.lag(value, k, default).over(by_key_ordered(key, order)))


def ramzor_score(
    df: DataFrame,
    cases: str = "cases",
    tests: str = "tests",
    pop: str = "pop",
    out: str = "ramzor",
    key: str = "id",
    order: str = "date",
) -> DataFrame:
    """The reference's latent "ramzor" (traffic-light) epidemic score
    (ref :138-146, commented out there; implemented here):

        N = rolling_7(cases) / pop * 10000        (weekly per-10k)
        G = N / lag_7(N)                          (weekly growth)
        P = rolling_7(cases) / rolling_7(tests)   (positivity)
        score = clamp(2 + ln(N*G^2) + P/8, 0, 10), NULL->0, round(1)

    ``ln`` of a non-positive argument yields NULL (Spark) — matching the
    reference's ``fillna(0)`` treatment of undefined scores.
    """
    w7 = rolling(7, key, order)
    wk = by_key_ordered(key, order)
    wnc = F.sum(cases).over(w7) / F.col(pop) * 10000
    # Spark 4 runs ANSI mode by default: guard every division whose
    # divisor can be 0 (the first 7 rows' lag default, empty test weeks).
    prev = F.lag("_wnc", 7, 0.0).over(wk)
    growth = F.when(prev != 0, F.col("_wnc") / prev)
    t7 = F.sum(tests).over(w7)
    positivity = F.when(t7 != 0, F.sum(cases).over(w7) / t7)
    return (
        df.withColumn("_wnc", wnc)
        .withColumn("_g", growth)
        .withColumn("_p", positivity)
        .withColumn(
            out,
            F.round(
                F.greatest(
                    F.least(
                        F.coalesce(
                            F.lit(2) + F.log(F.col("_wnc") * F.col("_g") * F.col("_g"))
                            + F.col("_p") / 8,
                            F.lit(0.0),
                        ),
                        F.lit(10.0),
                    ),
                    F.lit(0.0),
                ),
                1,
            ),
        )
        .drop("_wnc", "_g", "_p")
    )


def quantile_vector(
    df: DataFrame,
    value: str,
    qs: Sequence[float] = COLOR_QUANTILES,
    exact: bool = True,
    distributed: bool = False,
) -> DataFrame:
    """A13 (ref :168): the 19-quantile color scale of ``normalized``.

    Returns one row per quantile: (q_idx, q_value).  Three modes:

    - ``exact=True`` (default): built-in ``percentile``.  Exact, but the
      aggregation buffer holds every distinct value — fine to ~millions
      of distinct values per aggregate, memory-unbounded beyond.
    - ``exact=True, distributed=True``: exact via distributed sort +
      global rank-pick (``quantile_vector_distributed``) — two shuffles,
      bounded memory per task, the exact-at-scale path.
    - ``exact=False``: ``percentile_approx`` (single-pass mergeable
      sketch, bounded error) — the cheapest 100 TB path.
    """
    if exact and distributed:
        return quantile_vector_distributed(df, value, qs)
    fn = F.percentile if exact else F.percentile_approx
    arr = fn(F.col(value), F.array([F.lit(q) for q in qs]))
    return (
        df.agg(arr.alias("_qs"))
        .select(F.posexplode("_qs").alias("pos", "q_value"))
        .select(
            (F.col("pos") + 1).cast("int").alias("q_idx"),
            F.round("q_value", 2).alias("q_value"),
        )
    )


def quantile_vector_distributed(
    df: DataFrame,
    value: str,
    qs: Sequence[float] = COLOR_QUANTILES,
) -> DataFrame:
    """Exact quantiles without a monolithic aggregation buffer:

    1. range-repartition the column (distributed sort order across
       partitions) and persist — pinning the partitioning for the two
       consumers below;
    2. collect per-partition COUNTS only (one tiny driver round-trip,
       like A10's max-date — never the data), turning them into global
       rank offsets;
    3. row_number within each range partition + offset = exact global
       rank; filter to the <= 2*|qs| ranks the quantiles need and
       collect them (a second tiny driver round-trip — at most 2*|qs|
       scalars, never the data);
    4. interpolate in the plan over a literal (q_idx, vlo, vhi, frac)
       table — ``(1-f)*lo + f*hi``, the same fp expression the built-in
       uses, so results match bit-for-bit (the algebraically-equal
       ``lo + f*(hi-lo)`` form loses a half-ulp exactly at
       round-boundary values).  Collecting the picked scalars instead
       of joining the ranked set twice computes the rank-pick scan ONCE
       (a self-join of the ranked subplan would execute it per side).

    Each task holds one range partition — memory is bounded by the
    partition size, not the distinct-value count, so this is the exact
    path that survives 100 TB.  The partition count is sized to the
    projected column's estimated bytes (r11: was ``defaultParallelism``
    — 32 range partitions, a sampling pass and ~150 extra tasks for a
    1.5 MB column on local[32], while simultaneously far too few
    partitions at 100 TB; byte-proportional sizing is also what makes
    the bounded-memory claim above literally true)."""
    from ..session import data_proportional_partitions, literal_frame

    spark = df.sparkSession
    v = df.select(F.col(value).alias("_v")).filter(F.col("_v").isNotNull())
    nparts = data_proportional_partitions(v)
    vp = (
        v.repartitionByRange(nparts, "_v")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = sorted(
        (r["_pid"], r["_c"])
        for r in vp.groupBy("_pid").agg(F.count("*").alias("_c")).collect()
    )
    n = sum(c for _, c in counts)
    if n == 0:
        return literal_frame(spark, [], "q_idx int, q_value double")
    offsets, acc = [], 0
    for pid, c in counts:
        offsets.append((pid, acc))
        acc += c
    targets = []
    for i, q in enumerate(qs):
        h = 1 + (n - 1) * q
        lo = int(h)
        hi = lo if h == lo else min(lo + 1, n)
        targets.append((i + 1, lo, hi, h - lo))
    need = sorted({r for _, lo, hi, _ in targets for r in (lo, hi)})
    off_df = literal_frame(spark, offsets, "_pid int, _off long")
    picked = {
        r["_rn"]: r["_v"]
        for r in (
            vp.join(F.broadcast(off_df), "_pid")
            .withColumn(
                "_rn",
                F.row_number().over(Window.partitionBy("_pid").orderBy("_v"))
                + F.col("_off"),
            )
            .filter(F.col("_rn").isin(need))
            .select("_rn", "_v")
            .collect()
        )
    }
    vp.unpersist(blocking=False)
    t_df = literal_frame(
        spark,
        [
            (q_idx, float(picked[lo]), float(picked[hi]), frac)
            for q_idx, lo, hi, frac in targets
        ],
        "q_idx int, _vlo double, _vhi double, _frac double",
    )
    return t_df.select(
        "q_idx",
        F.round(
            (1 - F.col("_frac")) * F.col("_vlo")
            + F.col("_frac") * F.col("_vhi"),
            2,
        ).alias("q_value"),
    )


def daily_total_delta(
    df: DataFrame, value: str, date: str = "date", out: str = "daily_delta"
) -> DataFrame:
    """A14+W7 (ref :169): country-wide daily totals, first-differenced,
    first row falling back to its own total.

    Partial (map-side) aggregation shrinks the frame to <= #dates rows;
    the diff then runs as sort_array + an indexed ``transform`` over ONE
    collected array — same single-reducer cost as the former
    unpartitioned lag window, but with no ``WindowExec: No Partition
    Defined`` noise, so a genuine single-partition regression elsewhere
    stays visible in the logs (VERDICT r02 task #5)."""
    totals = df.groupBy(date).agg(F.sum(value).alias("_total"))
    packed = totals.agg(
        F.sort_array(F.collect_list(F.struct(date, "_total"))).alias("_a")
    )
    return packed.select(
        F.explode(
            F.expr(
                f"transform(_a, (x, i) -> struct(x.{date} AS {date}, "
                f"CASE WHEN i = 0 THEN x._total "
                f"ELSE x._total - _a[i-1]._total END AS {out}))"
            )
        ).alias("_s")
    ).select("_s.*")


def distinct_ordered_dates(df: DataFrame, date: str = "date") -> DataFrame:
    """A15 (ref :167): the distinct dates of a window, ordered."""
    return df.select(date).distinct().orderBy(date)


def gapfill_locf_interp(
    df: DataFrame,
    value: str,
    key: str = "id",
    date: str = "date",
) -> DataFrame:
    """Densify a per-key daily series onto a full date spine and fill the
    gaps two ways: last-observation-carried-forward and linear
    interpolation (the hypertable ``time_bucket_gapfill`` + ``locf`` +
    ``interpolate`` trio, re-expressed as one window stack).

    Output: (key, date, <value> nullable original, locf, interp) — one
    row per key per day of [min(date), max(date)] within the key.

    Scale shape: the spine is a per-key min/max aggregate + ``sequence``
    + ``explode`` (rows materialize inside the key's partition, no extra
    exchange); the observation join is a co-partitioned (key, date)
    equi-join; and all four fill windows stack on the engine's canonical
    (key, date) spec, so the whole fill compiles to the same single
    exchange + sort every other per-key window shares.  Spine width is
    bounded by the calendar span, not the corpus — at 100 TB the fill
    output is |keys| x |days|, already the result's size.
    """
    spine = (
        df.groupBy(key)
        .agg(F.min(date).alias("_d0"), F.max(date).alias("_d1"))
        .select(key, F.explode(F.sequence("_d0", "_d1")).alias(date))
    )
    obs = df.select(key, date, F.col(value).alias("_obs"))
    j = spine.join(obs, [key, date], "left")
    wp = prefix(key, date)
    wn = by_key_ordered(key, date).rowsBetween(0, Window.unboundedFollowing)
    obs_date = F.when(F.col("_obs").isNotNull(), F.col(date))
    prev_v = F.last("_obs", ignorenulls=True).over(wp)
    next_v = F.first("_obs", ignorenulls=True).over(wn)
    prev_d = F.last(obs_date, ignorenulls=True).over(wp)
    next_d = F.first(obs_date, ignorenulls=True).over(wn)
    # The spine is bounded by each key's min/max ROW dates, so every
    # spine row has a prev and next observation ROW — but if the value
    # column is NULL at a key's first/last date, prev_v/next_v are NULL
    # over that leading/trailing span and locf/interp are NULL there
    # (NULL propagates identically in the DuckDB twin).
    interp = F.when(
        F.col("_obs").isNotNull(), F.col("_obs").cast("double")
    ).otherwise(
        prev_v.cast("double")
        + (next_v - prev_v)
        * (F.datediff(F.col(date), prev_d) / F.datediff(next_d, prev_d))
    )
    # floor-scale truncation, not round — see ewma: shortest-repr
    # half-ties make Spark/DuckDB round() disagree; floor has no tie
    return j.select(
        key,
        date,
        F.col("_obs").alias(value),
        prev_v.alias("locf"),
        (F.floor(interp * F.lit(1e4)) / F.lit(1e4)).alias("interp"),
    )


#: Bound on rows-per-key for the prefix-list fold operators: at the
#: default, the worst key's collect_list peak is ~80 KB of doubles and
#: the fold work ~5e7 mults — comfortably inside one task.  The
#: reference's per-geography daily series run ~2e3 rows/key.
SERIES_MAX_LEN = 10_000


def guard_series_length(
    df: DataFrame, key: str, max_len: int | None, scale_path: str
) -> None:
    """Refuse to run an O(rows_per_key²) prefix-fold when any key's
    series exceeds ``max_len`` rows (None disables).  The check is one
    map-side-combined count — negligible next to the quadratic work it
    prevents.  Mirror of similarity.guard_baseline_rows for the
    window-fold family."""
    if max_len is None:
        return
    worst = df.groupBy(key).count().agg(F.max("count")).first()[0]
    if worst is not None and worst > max_len:
        raise ValueError(
            f"longest '{key}' series has {worst} rows > max_series_length="
            f"{max_len}: the prefix-list fold is O(rows_per_key^2) — use "
            f"{scale_path} for unbounded series, or pass "
            f"max_series_length=None to force"
        )


def ewma(
    df: DataFrame,
    value: str,
    alpha: float,
    key: str = "id",
    order: str = "date",
    out: str = "ewma",
    ndigits: int = 6,
    max_series_length: int | None = SERIES_MAX_LEN,
) -> DataFrame:
    """Exponentially-weighted moving average, recursive form
    (pandas ``ewm(alpha, adjust=False)``): y_0 = x_0 and
    y_t = (1 - alpha) * y_{t-1} + alpha * x_t.

    A recursion has no fixed-frame window form, so each row folds its
    cumulative prefix: ``collect_list`` over the canonical cumulative
    frame + an ``aggregate`` whose null-seeded accumulator makes the
    first element the seed.  The fold order is the frame order (key,
    order sorted), so the result is deterministic and the float op
    sequence is engine-reproducible (the DuckDB twin folds the same
    list with ``list_reduce``).

    NULL policy: NULL observations are IGNORED — ``collect_list`` drops
    them, so a row whose own value is NULL carries the EWMA of the
    non-null prefix (rows before the first observation carry NULL).
    The ``pandas`` analogue is ``ewm(..., ignore_na=True)``; the oracle
    twin applies the same ``list_filter`` so neither engine
    NULL-poisons the tail of the series.

    Cost contract: prefix lists make this O(rows_per_key^2) work and
    O(rows_per_key) peak row width inside each key — the same
    bounded-series contract as the reference's per-group pandas ops,
    now ENFORCED by ``guard_series_length`` (default 10k rows/key;
    ``max_series_length=None`` disables).  Above the bound use
    ``ewma_linear`` (O(rows_per_key) Arrow-batched fold, asserted
    row-identical in tests) or the streaming layer's stateful fold
    (``streaming/ewma.py: daily_ewma_stream`` — same recurrence, same
    truncated rendering, batch-equivalence asserted in tests); at
    100 TB-of-many-short-series (the reference shape:
    |keys| ~ geography x ~10^3 days) the bound is the calendar, and
    every key still processes in parallel on one exchange.
    """
    guard_series_length(
        df, key, max_series_length, "ewma_linear or streaming daily_ewma"
    )
    a = float(alpha)
    pre = F.collect_list(F.col(value).cast("double")).over(prefix(key, order))
    fold = F.expr(
        f"aggregate(_pre, CAST(NULL AS DOUBLE), (acc, x) -> "
        f"CASE WHEN acc IS NULL THEN x "
        f"ELSE acc * CAST({1.0 - a} AS DOUBLE) + CAST({a} AS DOUBLE) * x END)"
    )
    # TRUNCATE to ndigits (floor-scale), don't round: the recursion
    # densely generates doubles whose SHORTEST DECIMAL REPR is an exact
    # half-tie at the rounding digit (e.g. 66.0993585), and there
    # Spark's round (BigDecimal.valueOf of the shortest repr, HALF_UP)
    # and DuckDB's round (of the true binary value) disagree — observed
    # 10 rows in 40k at sf0.1.  floor of the scaled double has no tie
    # semantics at all, so engine and oracle agree on every value.
    scale = float(10**ndigits)
    return (
        df.withColumn("_pre", pre)
        .withColumn(out, F.floor(fold * F.lit(scale)) / F.lit(scale))
        .drop("_pre")
    )


def ewma_linear(
    df: DataFrame,
    value: str,
    alpha: float,
    key: str = "id",
    order: str = "date",
    out: str = "ewma",
    ndigits: int = 6,
) -> DataFrame:
    """Linear-time twin of ``ewma``: the identical recurrence, NULL
    policy, and floor-scale rendering, computed as ONE O(rows_per_key)
    pass inside an Arrow-batched ``applyInPandas`` instead of per-row
    prefix lists — the unbounded-series path the ``ewma`` guard points
    at.

    Bit-identity: the fold applies the same double-precision op
    sequence (``acc*(1-a) + a*x`` over the non-null values in order) as
    the window fold, so outputs are row-identical, not merely close —
    asserted in tests.  Shared preconditions with the windowed fold:
    (key, order) pairs must be UNIQUE (duplicate order keys make the
    fold sequence tie-order-dependent in BOTH forms — collect_list's
    within-tie order is partition-layout-dependent), and NULL — not
    NaN — is the missing-value representation.  SQL NULLs are skipped
    exactly like the window's collect_list drop; a genuine NaN VALUE
    (which Arrow conversion would otherwise make indistinguishable
    from NULL) is rejected with a clear error, because the windowed
    twin would silently NaN-poison the series tail instead.  Cost: one
    exchange on ``key``, O(d) work and O(Arrow batch) memory per key;
    the trade is the Python boundary, which is why the windowed form
    stays the default under its series bound."""
    import math

    import pandas as pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    a = float(alpha)
    scale = float(10**ndigits)
    # fresh StructType — df.schema is cached on the DataFrame and
    # StructType.add mutates in place
    schema = StructType(
        list(df.schema.fields) + [StructField(out, DoubleType())]
    )
    # NULL-vs-NaN mask computed ENGINE-side: after Arrow conversion a
    # float column can no longer tell them apart
    aug = df.withColumn("_isnull", F.col(value).isNull())

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(order, kind="mergesort")
        acc = None
        res = []
        for x, isn in zip(pdf[value], pdf["_isnull"]):
            if not isn:
                xv = float(x)
                if math.isnan(xv):
                    raise ValueError(
                        "NaN value in EWMA input: NULL is the "
                        "missing-value representation (the windowed fold "
                        "would silently NaN-poison the series tail)"
                    )
                acc = xv if acc is None else acc * (1.0 - a) + a * xv
            res.append(
                math.floor(acc * scale) / scale if acc is not None else None
            )
        return pdf.drop(columns=["_isnull"]).assign(
            **{out: pd.Series(res, index=pdf.index, dtype="float64")}
        )

    return aug.groupBy(key).applyInPandas(fold, schema=schema)
