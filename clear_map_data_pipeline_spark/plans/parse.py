"""The COMPLETE reference ``parse()`` (il_analysis_git.py:33-213), end
to end with geometry and sinks: clean -> 4-case reconcile (geometry
dissolve included) -> censored rebase -> broadcast dim join (geometry
attached, ref :126) -> last-value stats -> per-window export frames ->
per-window GeoJSON polygon + boundary-line files (ref :170-175) -> the
ragged 12-column dates/colors/sums CSV (ref :201-213).

Geometry flows as a WKT StringType column inside the one Catalyst plan
(SURVEY §7.4) — it is never touched by the relational operators, only
by the spatial dissolve (case-3 cities) and the boundary/GeoJSON
encodes at the sink edge.

Scale shape: ONE pinned computation of the clean->reconcile->rebase->
join->stats prefix serves all four windows (SURVEY §4 X3), and ONE
Spark action per ``parse()`` collects every window's export: the four
exports are unioned behind a window index and collected ordered by
(window, id, date), so the four windows share one plan, one AQE run
and one sort.  Each window's slice of that collect is its polygon
file's feature list, and every other artifact is derived from those
rows on the driver, at the same sink edge where the GeoJSON encode
already runs: the lines file (ST_Boundary per row, then Spark's
ascending nulls-first order of date, num_cases, geometry; S5), the
dates/sums CSV columns and the 19-quantile color scale of
``normalized`` (Spark's exact ``percentile`` then ``round(_, 2)``,
reproduced bit for bit).  Artifacts are feature-count-small (the
reference writes single files).
"""

from __future__ import annotations

import math
import os
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..cachereg import release_all
from ..operators import spatial as sp
from ..operators import stats
from ..sources.writers import write_dates_array_csv, write_geojson
from .clearmap import WINDOWS, run_pipeline

_LineRow = Row("date", "num_cases", "geometry")


def _lines_rows(rows: list[Row]) -> list[Row]:
    """S5 (ref :175): the 3-column boundary-lines rows of a window,
    sorted as Spark's ascending ``orderBy`` would (nulls first; Python
    ``str`` order is code-point order, which is Spark's UTF-8 byte
    order)."""
    lines = [
        _LineRow(r["date"], r["num_cases"], sp.boundary(r["geometry"]))
        for r in rows
    ]
    return sorted(lines, key=lambda r: tuple((v is not None, v) for v in r))


def _percentiles(values: list, qs=stats.COLOR_QUANTILES) -> list[float]:
    """Spark's exact ``percentile(values, qs)`` followed by
    ``round(_, 2)``, on the driver: nulls are dropped (an all-null or
    empty input gives ``[]``), then each quantile interpolates between
    the sorted values at ``floor``/``ceil`` of ``(n-1)*q`` with the
    operand order of ``PercentileBase.getPercentile``, and rounds
    HALF_UP on the shortest decimal of the double, as Spark's ``round``
    does (Python's ``round`` is half-even on the binary value:
    ``round(0.125, 2)`` is 0.12 where Spark gives 0.13)."""
    v = sorted(x for x in values if x is not None)
    if not v:
        return []
    out = []
    for q in qs:
        pos = (len(v) - 1) * q
        lo, hi = math.floor(pos), math.ceil(pos)
        if lo == hi or v[lo] == v[hi]:
            x = float(v[lo])
        else:
            x = (hi - pos) * v[lo] + (pos - lo) * v[hi]
        out.append(float(Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP)))
    return out


def _dates_columns(rows: list[Row], window: str) -> dict[str, list]:
    """The three per-window lists of the dates CSV (ref :77,:167-169):
    unique sorted dates, the 19-quantile color scale over
    ``normalized``, and the first-differenced daily sums, all from the
    window's collected ``rows``.  Each date's total follows Spark
    ``sum`` (nulls ignored, an all-null date totals ``None``)."""
    totals: dict = {}
    for r in rows:
        n = r["num_cases"]
        prev = totals.get(r["date"])
        totals[r["date"]] = prev if n is None else n + (prev or 0)
    dates = sorted(totals)
    tot = [totals[d] for d in dates]
    sums = tot[:1] + [
        None if a is None or b is None else b - a for a, b in zip(tot, tot[1:])
    ]
    return {
        f"{window}_dates": [d.isoformat() for d in dates],
        f"{window}_colors": _percentiles([r["normalized"] for r in rows]),
        f"{window}_sums": sums,
    }


def _collect_windows(exports: dict[str, DataFrame]) -> dict[str, list[Row]]:
    """Every window's export rows in ``(id, date)`` order, from ONE
    Spark action: the exports are unioned behind a leading window index
    ``_w`` and collected ordered by ``(_w, id, date)``.  The rows come
    back without ``_w``, carrying the export's field names."""
    windows = list(exports)
    cols = exports[windows[0]].columns
    tagged = [
        exports[w].select(F.lit(i).alias("_w"), *cols)
        for i, w in enumerate(windows)
    ]
    union = tagged[0]
    for df in tagged[1:]:
        union = union.unionByName(df)
    out: dict[str, list[Row]] = {w: [] for w in windows}
    export_row = Row(*cols)
    for r in union.orderBy("_w", "id", "date").collect():
        out[windows[r[0]]].append(export_row(*r[1:]))
    return out


def parse(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, str]:
    """Run the full pipeline and write every reference artifact:
    ``{window}_polygons.geojson`` + ``{window}_lines.geojson`` per
    window (8 files) and ``dates.csv`` (12 ragged columns).  Returns
    artifact name -> path.  Deterministic: rerunning produces
    byte-identical files (ordered features, fixed quantile grid)."""
    os.makedirs(out_dir, exist_ok=True)
    exports = run_pipeline(spark, sf_dir, geometry=True)
    artifacts: dict[str, str] = {}
    dates_cols: dict[str, list] = {}
    try:
        window_rows = _collect_windows(exports)
        for w in WINDOWS:
            rows = window_rows[w]
            poly_path = os.path.join(out_dir, f"{w}_polygons.geojson")
            write_geojson(rows, poly_path)
            artifacts[f"{w}_polygons"] = poly_path
            line_path = os.path.join(out_dir, f"{w}_lines.geojson")
            write_geojson(_lines_rows(rows), line_path)
            artifacts[f"{w}_lines"] = line_path
            dates_cols.update(_dates_columns(rows, w))
        csv_path = os.path.join(out_dir, "dates.csv")
        write_dates_array_csv(csv_path, dates_cols)
        artifacts["dates_csv"] = csv_path
    finally:
        # every artifact is materialized — the pinned prefix is consumed
        release_all()
    return artifacts


# Verification against the reference (il_analysis_git.py):
# - :150-172 window loop  -> run_pipeline windows (clearmap.WINDOWS)
# - :170-175 two GeoJSON files per window (polygons; [date, num_cases,
#   geometry.boundary] lines)  -> write_geojson + _lines_rows
# - :201-213 dates_df 12-column ragged CSV via zip_longest
#   -> _dates_columns (+ _percentiles) + write_dates_array_csv
