"""The full clearmap pipeline, end-to-end (reference ``parse()``,
``il_analysis_git.py:33-175``), as one lazy DataFrame composition:

    dirty ingest -> clean -> reconcile(4-case) -> censored rebase ->
    broadcast dim join -> last-value stats -> per-window export frames

The reference mutates one in-memory frame stage by stage with per-group
Python loops; here every stage is a pure DataFrame -> DataFrame function
and the whole thing is a single Catalyst plan per window: one shuffle on
``id`` serves the rebase windows, the stats windows, AND the per-window
rebase/delta windows (same partition key), plus one tiny broadcast for
the city-case flags and the shape dim.

Because the driver fixtures have no MOH CSV, a deterministic MOH-shaped
dirty frame (censored '<15' strings, 'TRUE'/'FALSE' flags, null
city/area rows, all four reconcile city cases) is synthesized from
``events``, and the shape dimension from its user set — both with exact
DuckDB SQL twins in ``queries/pipeline.py``, so the ENTIRE pipeline is
hash-checked against the oracle, not just its pieces.

Windows: the reference hard-codes ``year=2021`` in its cutoffs (a bug
for year-spanning data, SURVEY §2.8 C2); cutoffs here derive from the
data's max date.  The reference also adds the vaccine patch into
``cases`` (``:124``); the engine computes the evident intent (each
measure rebased by its own flags — see operators/rebase.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import stats
from ..operators.clean import clean_moh, drop_tolerant
from ..operators.rebase import rebase_censored
from ..operators.reconcile import city_case_flags, reconcile_data, reconcile_shape
from ..session import Tables

WINDOWS = {"all": None, "wave_2": 21, "weeks_2": 14, "weeks_1": 7}

CENSOR = 60


def synth_moh_dirty(t: Tables) -> DataFrame:
    """Deterministic dirty MOH-shaped frame from events.

    Per user u (``g = u % 4``):
      g=0 -> case-1 city 1001+4u, areas 1..3 (no area 0)
      g=1 -> case-2 city 1002+4*(u//8): two users, one area-0 one not
      g=2 -> case-3/4 city 1003+4u, only area 0 ((u//4)%2 picks which)
      g=3 -> null/0 city+area rows (dropped by the clean stage's F2)
    Measures are strings with '<15' censoring and TRUE/FALSE flags,
    plus a droppable 'town' column (drift-tolerant P1)."""
    e = t.events
    u = F.col("user_id")
    g = u % 4
    daily = (
        e.groupBy(u.alias("u"), F.to_date("ts").alias("d"))
        .agg(
            F.sum("value").alias("raw"),
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "view", F.col("value"))),
                F.lit(0.0),
            ).alias("vraw"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("nc"),
            F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("nv"),
            F.count("*").alias("nt"),
        )
    )
    u = F.col("u")
    g = u % 4
    city = (
        F.when(g == 0, 1001 + 4 * u)
        .when(g == 1, 1002 + 4 * F.expr("u DIV 8"))
        .when(g == 2, 1003 + 4 * u)
        .otherwise(
            F.when(u % 8 == 3, F.lit(None).cast("long")).otherwise(F.lit(0))
        )
    )
    area = (
        F.when(g == 0, 1 + u % 3)
        .when(
            g == 1,
            F.when(F.expr("(u DIV 4) % 2") == 0, F.lit(0)).otherwise(1 + u % 3),
        )
        .when(g == 2, F.lit(0))
        .otherwise(F.lit(None).cast("long"))
    )
    return daily.select(
        city.cast("string").alias("city"),
        area.cast("string").alias("area"),
        F.col("d").cast("string").alias("date"),
        F.when(F.col("raw") < CENSOR, F.lit("<15"))
        .otherwise(F.round("raw").cast("long").cast("string"))
        .alias("cases"),
        F.when(F.col("nc") == 1, F.lit("TRUE")).otherwise(F.lit("FALSE")).alias(
            "new_case"
        ),
        F.when(F.col("nt") < 3, F.lit("<15"))
        .otherwise(F.col("nt").cast("string"))
        .alias("tests"),
        F.when(F.col("vraw") < CENSOR, F.lit("<15"))
        .otherwise(F.round("vraw").cast("long").cast("string"))
        .alias("vaccine"),
        F.when(F.col("nv") == 1, F.lit("TRUE")).otherwise(F.lit("FALSE")).alias(
            "new_vaccine"
        ),
        F.lit("ignored").alias("town"),
    )


def synth_shape(t: Tables) -> DataFrame:
    """Deterministic shape dimension from the events user set: matching
    areas for cases 1/2, one area for case-4 cities, two areas for
    case-3 cities, some cities absent from the facts, ~1/17 null ids
    (dropped by F5), pop/rank/name as pure expressions.

    One pass over the distinct users: each user explodes into six
    conditional ``(city, area)`` slots, null unless the user falls in
    that slot's class, and the nulls are filtered out.  The slots are
    the branches of the DuckDB twin's ``shape0`` UNION ALL (the case-3
    branch's two areas as two slots), so a user in several classes
    (``u % 4 == 0`` and ``u % 10 == 0``) yields a row for each, and the
    row multiset equals the union's — without re-deriving the distinct
    user set once per branch."""
    users = t.events.select(F.col("user_id").alias("u")).distinct()
    u = F.col("u")
    g, half = u % 4, F.expr("(u DIV 4) % 2")

    def slot(cond, city, area):
        return F.when(
            cond,
            F.struct(city.cast("long").alias("city"), area.cast("long").alias("area")),
        )

    g1 = (g == 1) & (half == 1)
    case3 = (g == 2) & (half == 1)
    slots = F.array(
        slot(g == 0, 1001 + 4 * u, 1 + u % 3),
        slot(g1, 1002 + 4 * F.expr("u DIV 8"), 1 + u % 3),
        slot((g == 2) & (half == 0), 1003 + 4 * u, F.lit(1)),
        slot(case3, 1003 + 4 * u, F.lit(1)),
        slot(case3, 1003 + 4 * u, F.lit(2)),
        slot(u % 10 == 0, 9000 + 4 * u, F.lit(1)),
    )
    base = (
        users.select(F.explode(slots).alias("s"))
        .filter(F.col("s").isNotNull())
        .select("s.city", "s.area")
    )
    city, areac = F.col("city"), F.col("area")
    return base.select(
        city.alias("city"),
        areac.alias("area"),
        F.when((city + areac) % 17 == 0, F.lit(None).cast("long"))
        .otherwise(city * 10000 + areac)
        .alias("id"),
        F.concat(F.lit("city_"), city).alias("name"),
        F.concat(F.lit("area_"), city, F.lit("_"), areac).alias("areas_name"),
        (100 + (city * 7 + areac * 13) % 900).cast("double").alias("pop"),
        F.when((city + areac) % 10 == 0, F.lit(None).cast("double"))
        .otherwise(((city + areac) % 10).cast("double"))
        .alias("rank"),
    )


def synth_shape_geometry(shape: DataFrame) -> DataFrame:
    """Attach a deterministic WKT unit-square polygon per (city, area):
    cities sit on a sparse grid (stride 4 — different cities never
    touch); a city's areas sit side by side (stride 1 — they DO touch,
    so a case-3 dissolve exercises the true edge-adjacent union)."""
    city, area = F.col("city"), F.col("area")
    x = ((city % 97) * 4 + (area - 1)).cast("double")
    y = ((city.cast("long") / F.lit(97)).cast("long") % 997 * 4).cast("double")
    wkt = F.concat(
        F.lit("POLYGON (("),
        x, F.lit(" "), y, F.lit(", "),
        x + 1, F.lit(" "), y, F.lit(", "),
        x + 1, F.lit(" "), y + 1, F.lit(", "),
        x, F.lit(" "), y + 1, F.lit(", "),
        x, F.lit(" "), y,
        F.lit("))"),
    )
    return shape.withColumn("geometry", wkt)


def joined_stats_frame(t: Tables, geometry: bool = False) -> DataFrame:
    """Pipeline through the window-invariant prefix: clean -> reconcile
    -> rebase -> dim join -> percent/p_vaccine stats (ref :52-147).

    ``geometry=True`` carries the shape's WKT polygon through the dim
    join (ref :126 attaches geometry exactly here); case-3 cities'
    polygons dissolve per the reference's union-or-hull branch."""
    from ..functions import clamp

    dirty = synth_moh_dirty(t)
    data = clean_moh(drop_tolerant(dirty, ["town"]))
    shape = synth_shape(t)
    dim_cols = ["id", "areas_name", "pop", "rank"]
    dissolve_fn = None
    if geometry:
        from ..operators import spatial as sp

        shape = synth_shape_geometry(shape)
        dim_cols.append("geometry")
        dissolve_fn = lambda case3: sp.dissolve(  # noqa: E731
            case3, key="city", geom="geometry"
        )
    # flags and the reconciled shape are tiny (per-city / per-area rows)
    # but each is consumed by SEVERAL branches (data rewrite + shape
    # rewrite + dim join + the cutoff aggregate's re-derivation), and
    # Catalyst does not share subplans across consumers: unpinned, every
    # reference re-derives them from full fact scans (the weeks_* plans
    # showed 58 scans / 80 exchanges; pinned: 18 / 24).  At sf0.1 on an
    # idle local[32] the pin measures ~0.5s SLOWER (redundant branches
    # run in parallel on spare cores, while cache population is a
    # barrier) — but each avoided branch is a full fact-table scan +
    # aggregation, so at cluster scale the 3x scan reduction dominates;
    # cachereg releases the pins when the next registry query builds.
    from ..cachereg import pin

    flags = pin(city_case_flags(data, shape))
    data = reconcile_data(data, flags)
    shape = pin(
        reconcile_shape(shape, flags, dissolve_geometry=dissolve_fn).filter(
            F.col("id").isNotNull()
        )
    )
    data = rebase_censored(data, {"cases": "new_case", "vaccine": "new_vaccine"})
    joined = data.join(
        F.broadcast(shape.select(*dim_cols)),
        "id",
    ).select(
        "id", "date", "cases", "tests", "vaccine", "areas_name", "pop", "rank",
        *(["geometry"] if geometry else []),
    )
    withpct = stats.last_value_ratio(joined, "cases", "pop", "percent")
    withpct = stats.last_value_ratio(withpct, "vaccine", "pop", "p_vaccine")
    return withpct.withColumn("p_vaccine", clamp(F.col("p_vaccine"), hi=100.0))


EXPORT_COLUMNS = [
    "date", "num_cases", "tests", "id", "socio_economic_rank", "area_name",
    "percent", "p_vaccine", "delta", "normalized",
]


def _window_frame(base: DataFrame, window: str) -> DataFrame:
    """Apply one window's row selection to the stats frame."""
    days = WINDOWS[window]
    if days is None:
        return stats.every_nth_latest_anchored(base, 7)
    maxd = base.agg(F.max("date").alias("_maxd"))
    return (
        base.crossJoin(F.broadcast(maxd))
        .filter(F.col("date") >= F.date_sub(F.col("_maxd"), days))
        .drop("_maxd")
    )


def _export_frame(frame: DataFrame, geometry: bool = False) -> DataFrame:
    """Period rebase -> delta -> per-100k -> export schema (ref :150-172)."""
    from ..functions import per_100k

    frame = stats.rebase_to_period_start(frame, ["cases", "tests"])
    frame = stats.daily_delta(frame, "cases")
    return frame.select(
        "date",
        F.col("cases").cast("long").alias("num_cases"),
        F.col("tests").alias("tests"),
        "id",
        F.col("rank").alias("socio_economic_rank"),
        F.col("areas_name").alias("area_name"),
        "percent",
        "p_vaccine",
        F.col("delta").cast("long").alias("delta"),
        per_100k(F.col("cases"), F.col("pop")).alias("normalized"),
        *(["geometry"] if geometry else []),
    )


def window_export(t: Tables, window: str) -> DataFrame:
    """One export frame (ref :150-172, minus geometry — plans/parse.py
    composes the geometry-carrying variant): window select -> period
    rebase -> delta -> per-100k -> export schema.

    Cutoff strategy: for the day-bounded windows the max-date aggregate
    and the window filter both consume the stats prefix, and Catalyst
    does not share the subplan — unpinned, the prefix runs twice (the
    cutoff copy column-pruned to the date lineage).  Pinning the prefix
    was originally measured SLOWER at sf0.1 (3.8s vs 3.0s recompute)
    but re-measured faster (2.9s vs 3.3s) once the tiny flags/shape
    frames were themselves pinned — the pruned recompute still
    re-derives those inputs' full branches.  Pinned is also the plan
    that scales: ONE materialization of the prefix instead of a second
    fact-table scan + window stack, exactly like the multi-window
    ``run_pipeline``.  The "all" window has no cutoff branch — its
    single consumer would pay the materialization for nothing, so it
    stays a straight pipeline.  cachereg releases the pin when the next
    registry query builds."""
    base = joined_stats_frame(t)
    if WINDOWS[window] is not None:  # cutoff aggregate = second consumer
        from ..cachereg import pin

        base = pin(base)
    return _export_frame(_window_frame(base, window))


def run_pipeline(
    spark: SparkSession, sf_dir: str, geometry: bool = False
) -> dict[str, DataFrame]:
    """All four window exports over one cached stats frame (the
    reference recomputes the shared prefix four times — SURVEY §4 X3)."""
    from ..cachereg import pin

    t = Tables(spark, sf_dir)
    base = pin(joined_stats_frame(t, geometry=geometry))
    return {
        w: _export_frame(_window_frame(base, w), geometry=geometry)
        for w in WINDOWS
    }
