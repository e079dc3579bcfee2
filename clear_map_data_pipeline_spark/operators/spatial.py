"""Spatial operators (SURVEY.md §2.9 B1-B5) behind a backend interface.

Production backend: Apache Sedona (``ST_Union_Aggr``/``ST_ConvexHull``/
``ST_Boundary``/``ST_AsGeoJSON`` as Catalyst expressions).  Neither
Sedona nor shapely is in this container, so the default backend here is
pure-Python geometry inside Arrow-batched pandas UDFs:

- geometry travels as WKT strings (POLYGON / MULTIPOLYGON / LINESTRING /
  MULTILINESTRING) — a plain StringType column, never leaking into the
  relational core (SURVEY §7.4);
- convex hull: Andrew's monotone chain — exact;
- boundary, type predicate, GeoJSON encode/decode — exact;
- dissolve (B1, ref il_analysis_git.py:97-101): with shapely installed
  a true ``unary_union``; without it, edge-adjacent polygons (touching
  along complete shared edges — the grid/tile case) merge exactly into
  a single Polygon via directed edge cancellation + ring stitching
  (``merge_edge_adjacent``), and remaining multi-component unions
  assemble to a MultiPolygon.  The reference's branch "if union is
  MultiPolygon take its convex hull" then applies identically
  (hull(union) == hull(all points)); only overlapping-INTERIOR unions
  — which need real polygon clipping — still require shapely/Sedona.

At 100 TB: dissolve is a groupBy(key).applyInPandas — one shuffle on
the city key, group payloads are a city's polygons (tiny); the scalar
ops are per-row Arrow batches.
"""

import json
import re
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # optional, for true unions of overlapping polygons
    from shapely import wkt as _shapely_wkt  # type: ignore
    from shapely.ops import unary_union as _shapely_union  # type: ignore

    HAVE_SHAPELY = True
except Exception:  # pragma: no cover - container has no shapely
    HAVE_SHAPELY = False

Ring = list[tuple[float, float]]

_NUM = r"-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"


def _parse_ring(body: str) -> Ring:
    pts = []
    for pair in body.split(","):
        x, y = pair.strip().split()[:2]
        pts.append((float(x), float(y)))
    return pts


def _rings_of(poly_body: str) -> list[Ring]:
    """'((x y, ...), (x y, ...))' -> rings."""
    return [
        _parse_ring(m.group(1))
        for m in re.finditer(r"\(([^()]+)\)", poly_body)
    ]


def parse_wkt(wkt: str) -> tuple[str, list[list[Ring]]]:
    """Parse POLYGON/MULTIPOLYGON WKT -> (type, [polygon=[rings]])."""
    s = wkt.strip()
    typ = s.split("(", 1)[0].strip().upper()
    body = s[s.index("(") :]
    if typ == "POLYGON":
        return typ, [_rings_of(body)]
    if typ == "MULTIPOLYGON":
        polys = []
        for m in re.finditer(r"\(\((?:[^()]+\)\s*,?\s*\()*[^()]+\)\)", body):
            polys.append(_rings_of(m.group(0)))
        return typ, polys
    raise ValueError(f"unsupported WKT type: {typ}")


def _fmt(v: float) -> str:
    return f"{v:g}"


def ring_wkt(r: Ring) -> str:
    return "(" + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in r) + ")"


def polygon_wkt(rings: list[Ring]) -> str:
    return "POLYGON (" + ", ".join(ring_wkt(r) for r in rings) + ")"


def multipolygon_wkt(polys: list[list[Ring]]) -> str:
    return (
        "MULTIPOLYGON ("
        + ", ".join("(" + ", ".join(ring_wkt(r) for r in p) + ")" for p in polys)
        + ")"
    )


def convex_hull(points: Iterable[tuple[float, float]]) -> Ring:
    """Andrew's monotone chain; returns a closed CCW ring."""
    pts = sorted(set(points))
    if len(pts) <= 2:
        return list(pts) + [pts[0]] if pts else []

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower: list = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list = []
    for p in reversed(pts):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    ring = lower[:-1] + upper[:-1]
    return ring + [ring[0]]


def geom_type(wkt: str) -> str:
    """B2: 'Polygon' / 'MultiPolygon' (shapely's geom_type casing)."""
    typ, _ = parse_wkt(wkt)
    return {"POLYGON": "Polygon", "MULTIPOLYGON": "MultiPolygon"}[typ]


def boundary(wkt: str) -> str:
    """B4 (ref :174): polygon -> its ring lines."""
    typ, polys = parse_wkt(wkt)
    lines = [ring_wkt(r) for p in polys for r in p]
    if len(lines) == 1:
        return "LINESTRING " + lines[0]
    return "MULTILINESTRING (" + ", ".join(lines) + ")"


def merge_edge_adjacent(polys: list[list[Ring]]) -> list[Ring] | None:
    """Union polygons that touch along COMPLETE shared edges by directed
    edge cancellation + ring stitching.

    With consistent ring winding, an edge shared by two adjacent
    polygons is traversed once as (a, b) and once as (b, a); cancelling
    opposite directed pairs leaves exactly the union's boundary, which
    is then stitched back into closed rings via the successor map.
    Exact for grid/tile-style adjacency (the shapely ``unary_union``
    result, incl. retained collinear vertices).  Returns ``None`` —
    caller falls back — when the input is outside this class: holes,
    partial edge overlap (a shared boundary split into different vertex
    runs per side), inconsistent winding, or a vertex with more than
    one outgoing boundary edge (pinch points)."""
    from collections import Counter

    edges: Counter = Counter()
    for p in polys:
        if len(p) != 1:  # holes -> fall back
            return None
        pts = p[0][:-1] if p[0][0] == p[0][-1] else p[0]
        if len(pts) < 3:
            return None
        n = len(pts)
        for i in range(n):
            edges[(pts[i], pts[(i + 1) % n])] += 1

    succ: dict[tuple[float, float], tuple[float, float]] = {}
    for (a, b), cnt in edges.items():
        survive = cnt - min(cnt, edges.get((b, a), 0))
        if survive == 0:
            continue
        if survive > 1 or a in succ:  # duplicate boundary / pinch point
            return None
        succ[a] = b

    rings: list[Ring] = []
    remaining = dict(succ)
    while remaining:
        start = min(remaining)  # deterministic ring start
        ring = [start]
        cur = remaining.pop(start)
        while cur != start:
            ring.append(cur)
            if cur not in remaining:
                return None  # open chain — inconsistent input
            cur = remaining.pop(cur)
        ring.append(start)
        rings.append(ring)
    return rings or None


_EPS = 1e-9
_SNAP = 1e-7  # vertex-snap tolerance for computed intersection points


def _open_ring(ring: Ring) -> Ring:
    return ring[:-1] if len(ring) > 1 and ring[0] == ring[-1] else list(ring)


def _signed_area(ring: Ring) -> float:
    r = _open_ring(ring)
    s = 0.0
    n = len(r)
    for i in range(n):
        x1, y1 = r[i]
        x2, y2 = r[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    return s / 2.0


def _snap_pt(pt: tuple[float, float]) -> tuple[float, float]:
    return (round(pt[0], 9), round(pt[1], 9))


def _on_seg(pt, a, b, tol=_SNAP) -> bool:
    (px, py), (ax, ay), (bx, by) = pt, a, b
    dx, dy = bx - ax, by - ay
    L2 = dx * dx + dy * dy
    if L2 <= tol * tol:
        return abs(px - ax) <= tol and abs(py - ay) <= tol
    cross = dx * (py - ay) - dy * (px - ax)
    if cross * cross > tol * tol * L2:  # distance to line > tol
        return False
    t = ((px - ax) * dx + (py - ay) * dy) / L2
    return -tol <= t <= 1 + tol


def _pt_in_rings(pt, rings: list[Ring]) -> str:
    """'boundary' | 'in' | 'out' by ray casting over ALL rings of one
    polygon — hole rings flip the crossing parity, so holes are handled
    for free."""
    x, y = pt
    inside = False
    for ring in rings:
        r = _open_ring(ring)
        n = len(r)
        for i in range(n):
            a, b = r[i], r[(i + 1) % n]
            if _on_seg(pt, a, b):
                return "boundary"
            (ax, ay), (bx, by) = a, b
            if (ay > y) != (by > y):
                xin = ax + (y - ay) * (bx - ax) / (by - ay)
                if xin > x:
                    inside = not inside
    return "in" if inside else "out"


def _edge_splits(a, b, c, d) -> list[tuple[float, tuple[float, float]]]:
    """Points strictly interior to segment (a, b) where (c, d) crosses
    or collinearly overlaps it, as (t-along-ab, point).

    The crossing point is computed from a CANONICALIZED ordering of the
    two segments (endpoint-sorted), so when the roles of (a,b)/(c,d)
    are swapped the resulting float is bitwise identical — both
    polygons split at the same vertex and ring stitching never sees
    near-duplicate coordinates.  Computed points additionally snap to
    any input endpoint within tolerance (T-junction case)."""
    (ax, ay), (bx, by) = a, b
    (cx, cy), (dx, dy) = c, d
    rX, rY = bx - ax, by - ay
    sX, sY = dx - cx, dy - cy
    denom = rX * sY - rY * sX
    scale = max(1.0, abs(rX) + abs(rY), abs(sX) + abs(sY))
    out: list[tuple[float, tuple[float, float]]] = []
    qpX, qpY = cx - ax, cy - ay
    if abs(denom) > _EPS * scale * scale:
        t = (qpX * sY - qpY * sX) / denom
        u = (qpX * rY - qpY * rX) / denom
        if -_EPS <= t <= 1 + _EPS and -_EPS <= u <= 1 + _EPS:
            s1, s2 = sorted([tuple(sorted((a, b))), tuple(sorted((c, d)))])
            (x1, y1), (x2, y2) = s1
            (x3, y3), (x4, y4) = s2
            den2 = (x1 - x2) * (y3 - y4) - (y1 - y2) * (x3 - x4)
            if den2 == 0:
                return out
            det12 = x1 * y2 - y1 * x2
            det34 = x3 * y4 - y3 * x4
            px = (det12 * (x3 - x4) - (x1 - x2) * det34) / den2
            py = (det12 * (y3 - y4) - (y1 - y2) * det34) / den2
            pt = (px, py)
            for q in (a, b, c, d):
                if abs(px - q[0]) <= _SNAP and abs(py - q[1]) <= _SNAP:
                    pt = q
                    break
            pt = _snap_pt(pt)
            L2 = rX * rX + rY * rY
            tt = ((pt[0] - ax) * rX + (pt[1] - ay) * rY) / L2
            if _EPS < tt < 1 - _EPS and pt != a and pt != b:
                out.append((tt, pt))
    elif abs(qpX * rY - qpY * rX) <= _EPS * scale * scale:
        # collinear: the other segment's endpoints subdivide (a, b)
        L2 = rX * rX + rY * rY
        if L2 > 0:
            for q in (c, d):
                tt = ((q[0] - ax) * rX + (q[1] - ay) * rY) / L2
                if _EPS < tt < 1 - _EPS and q != a and q != b:
                    out.append((tt, q))
    return out


def polygon_union(
    polys: list[list[Ring]],
) -> list[list[Ring]] | None:
    """Exact union of possibly interior-overlapping polygons, pure
    Python — the clipping step the reference gets from shapely's
    ``unary_union`` (il_analysis_git.py:97-101).

    Arrangement-based boundary trace: (1) orient outer rings CCW and
    holes CW; (2) split every edge at its intersections with the other
    polygons' edges (canonical crossing points — see _edge_splits);
    (3) drop sub-edges whose midpoint lies strictly inside another
    polygon; (4) cancel opposite directed duplicates (shared
    boundaries) and collapse stacked same-direction copies; (5) stitch
    the surviving directed edges into closed rings, taking the leftmost
    turn at multi-out vertices (pinch points); (6) classify rings by
    signed area (CCW outer / CW hole) and nest holes into their
    smallest containing outer.

    Returns a list of polygons (each ``[outer, *holes]``), or ``None``
    when the input is outside the certifiable class (degenerate rings,
    open chains after cancellation) — callers fall back to the hull
    branch.  O(E²) per call: intended for per-group dissolve payloads
    (a city's polygons), where E is tiny; the 100 TB parallelism comes
    from the groupBy around it, not from within."""
    import math

    norm: list[list[Ring]] = []
    for p in polys:
        rings: list[Ring] = []
        for i, ring in enumerate(p):
            r = [_snap_pt(pt) for pt in _open_ring(ring)]
            dedup = [pt for k, pt in enumerate(r) if pt != r[k - 1]]
            if len(dedup) < 3:
                return None
            area = _signed_area(dedup + [dedup[0]])
            if abs(area) <= _EPS:
                return None
            if (area > 0) != (i == 0):  # outer CCW, holes CW
                dedup = list(reversed(dedup))
            rings.append(dedup)
        if not rings:
            return None
        norm.append(rings)

    from collections import Counter

    edges: Counter = Counter()
    for pi, rings in enumerate(norm):
        others = [norm[qi] for qi in range(len(norm)) if qi != pi]
        for ring in rings:
            n = len(ring)
            for i in range(n):
                a, b = ring[i], ring[(i + 1) % n]
                cuts: list[tuple[float, tuple[float, float]]] = []
                for orings in others:
                    for oring in orings:
                        m = len(oring)
                        for j in range(m):
                            cuts.extend(
                                _edge_splits(a, b, oring[j], oring[(j + 1) % m])
                            )
                pts = [a] + [pt for _, pt in sorted(cuts)] + [b]
                for u, v in zip(pts, pts[1:]):
                    if u == v:
                        continue
                    mid = ((u[0] + v[0]) / 2, (u[1] + v[1]) / 2)
                    if any(
                        _pt_in_rings(mid, orings) == "in" for orings in others
                    ):
                        continue
                    edges[(u, v)] += 1

    out_map: dict[tuple[float, float], set] = {}
    for (a, b), cnt in edges.items():
        if cnt - min(cnt, edges.get((b, a), 0)) >= 1:
            out_map.setdefault(a, set()).add(b)

    unused = {a: set(bs) for a, bs in out_map.items()}

    def take(a, b):
        unused[a].discard(b)
        if not unused[a]:
            del unused[a]

    rings_out: list[Ring] = []
    while unused:
        start = min(unused)
        first = min(unused[start])
        take(start, first)
        ring = [start, first]
        prev, cur = start, first
        while cur != start:
            cands = unused.get(cur)
            if not cands:
                return None  # open chain
            if len(cands) == 1:
                nxt = next(iter(cands))
            else:
                din = math.atan2(cur[1] - prev[1], cur[0] - prev[0])

                def turn(c):
                    ang = math.atan2(c[1] - cur[1], c[0] - cur[0]) - din
                    while ang <= -math.pi:
                        ang += 2 * math.pi
                    while ang > math.pi:
                        ang -= 2 * math.pi
                    return ang

                nxt = max(cands, key=lambda c: (turn(c), c))
            take(cur, nxt)
            ring.append(nxt)
            prev, cur = cur, nxt
        if len(ring) >= 4:  # closed triangle minimum
            rings_out.append(ring)

    return rings_to_polygons(rings_out)


def rings_to_polygons(rings: list[Ring]) -> list[list[Ring]] | None:
    """Classify stitched rings by winding (CCW outer / CW hole) and
    nest each hole into its smallest containing outer."""
    outers: list[Ring] = []
    holes: list[Ring] = []
    for ring in rings:
        a = _signed_area(ring)
        if abs(a) <= _EPS:
            continue
        (outers if a > 0 else holes).append(ring)
    if not outers:
        return None
    result: list[list[Ring]] = [[o] for o in outers]
    for h in holes:
        best, best_area = None, None
        for idx, o in enumerate(outers):
            if _pt_in_rings(h[0], [o]) != "out":
                ar = abs(_signed_area(o))
                if best is None or ar < best_area:
                    best, best_area = idx, ar
        if best is None:
            return None
        result[best].append(h)
    return result


def union_dissolve(wkts: list[str]) -> str:
    """B1+B3 (ref :97-101): union a city's polygons; if the union is a
    MultiPolygon, take its convex hull (exact, monotone chain);
    otherwise keep the union."""
    if HAVE_SHAPELY:
        u = _shapely_union([_shapely_wkt.loads(w) for w in wkts])
        if u.geom_type == "MultiPolygon":
            return u.convex_hull.wkt
        return u.wkt
    polys: list[list[Ring]] = []
    for w in wkts:
        _, ps = parse_wkt(w)
        polys.extend(ps)
    if len(polys) == 1:
        return polygon_wkt(polys[0])
    # edge-adjacent polygons (touching along complete shared edges)
    # merge exactly via directed edge cancellation — the cheap path for
    # grid/tile adjacency; one CCW ring (plus CW holes, e.g. a ring of
    # tiles enclosing an empty middle) is a single-Polygon union,
    # matching the reference's `unary_union` non-MultiPolygon branch
    merged = merge_edge_adjacent(polys)
    if merged is not None:
        if len(merged) == 1:
            return polygon_wkt(merged)
        classified = rings_to_polygons(merged)
        if classified is not None and len(classified) == 1:
            return polygon_wkt(classified[0])
    # >1 ring from the merge does NOT imply disjoint — polygons that
    # overlap without sharing directed edges survive cancellation as
    # separate rings.  Real clipping via the arrangement-based boundary
    # trace decides: one component -> exact union Polygon (what shapely
    # unary_union returns), several -> genuine MultiPolygon.
    clipped = polygon_union(polys)
    if clipped is not None and len(clipped) == 1:
        return polygon_wkt(clipped[0])
    # genuinely >1 disjoint component (or outside both certifiable
    # classes) -> MultiPolygon -> the reference's convex-hull branch.
    # hull(union) == hull(all points), so the fallback is exact there.
    pts = [pt for p in polys for r in p for pt in r]
    return polygon_wkt([convex_hull(pts)])


def wkt_to_geojson(wkt: str) -> str:
    """B5 encode: WKT -> GeoJSON geometry (json string).  Handles the
    polygon family plus the boundary-line family (S5 lines export)."""
    s = wkt.strip()
    head = s.split("(", 1)[0].strip().upper()
    if head == "LINESTRING":
        ring = _parse_ring(s[s.index("(") + 1 : s.rindex(")")])
        return json.dumps(
            {"type": "LineString", "coordinates": [list(pt) for pt in ring]}
        )
    if head == "MULTILINESTRING":
        body = s[s.index("(") :]
        lines = [_parse_ring(m.group(1)) for m in re.finditer(r"\(([^()]+)\)", body)]
        return json.dumps(
            {
                "type": "MultiLineString",
                "coordinates": [[list(pt) for pt in ln] for ln in lines],
            }
        )
    typ, polys = parse_wkt(wkt)
    if typ == "POLYGON":
        return json.dumps(
            {"type": "Polygon", "coordinates": [[list(pt) for pt in r] for r in polys[0]]}
        )
    return json.dumps(
        {
            "type": "MultiPolygon",
            "coordinates": [[[list(pt) for pt in r] for r in p] for p in polys],
        }
    )


def geojson_to_wkt(gj: str) -> str:
    """B5 decode: GeoJSON geometry -> WKT.  Covers the same surface the
    encoder emits: the polygon family plus the boundary-line family
    (LineString/MultiLineString — r08: the S5 sink+source identity
    member caught the decoder lacking the line half the encoder had)."""
    g = json.loads(gj)
    if g["type"] == "Polygon":
        return polygon_wkt([[tuple(pt) for pt in r] for r in g["coordinates"]])
    if g["type"] == "MultiPolygon":
        return multipolygon_wkt(
            [[[tuple(pt) for pt in r] for r in p] for p in g["coordinates"]]
        )
    if g["type"] == "LineString":
        return "LINESTRING " + ring_wkt(
            [tuple(pt) for pt in g["coordinates"]]
        )
    if g["type"] == "MultiLineString":
        return "MULTILINESTRING (" + ", ".join(
            ring_wkt([tuple(pt) for pt in ln]) for ln in g["coordinates"]
        ) + ")"
    raise ValueError(g["type"])


# ---------------------------------------------------------------- Spark


def st_boundary_udf():
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def _f(s: pd.Series) -> pd.Series:
        return s.map(boundary)

    return _f


def st_asgeojson_udf():
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def _f(s: pd.Series) -> pd.Series:
        return s.map(wkt_to_geojson)

    return _f


def st_geomfromgeojson_udf():
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def _f(s: pd.Series) -> pd.Series:
        return s.map(geojson_to_wkt)

    return _f


def dissolve(df, key: str = "city", geom: str = "geometry"):
    """Grouped dissolve: one (key, geometry) row per group, geometry =
    union-or-hull per the reference branch.  applyInPandas — one shuffle
    on the group key."""

    def _g(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {key: [pdf[key].iloc[0]], geom: [union_dissolve(list(pdf[geom]))]}
        )

    ktype = dict(df.dtypes)[key]
    return df.select(key, geom).groupBy(key).applyInPandas(
        _g, schema=f"{key} {ktype}, {geom} string"
    )


# --- distributed spatial join (grid-bucketed point-in-polygon) ---------


def _grid_cells_of_wkt(wkt: str, cell: float) -> list[tuple[int, int]]:
    """Grid cells covering the polygon's bounding box (candidate
    cells — the exact test prunes false positives)."""
    import math

    _typ, polys = parse_wkt(wkt)
    pts = [p for rings in polys for r in rings for p in r]
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    cx0, cx1 = math.floor(min(xs) / cell), math.floor(max(xs) / cell)
    cy0, cy1 = math.floor(min(ys) / cell), math.floor(max(ys) / cell)
    return [
        (cx, cy)
        for cx in range(cx0, cx1 + 1)
        for cy in range(cy0, cy1 + 1)
    ]


def spatial_join_points_in_polygons(
    points: DataFrame,
    polygons: DataFrame,
    cell: float = 4.0,
    point_id: str = "point_id",
    x_col: str = "x",
    y_col: str = "y",
    poly_id: str = "poly_id",
    geom_col: str = "geometry",
    include_boundary: bool = True,
) -> DataFrame:
    """Distributed point-in-polygon join — the spatial equi-join
    rewrite (the geometry analogue of the LSH band bucket / range-
    bucket join): no all-pairs, no theta join.

    1. each polygon emits the GRID CELLS covering its bounding box
       (Arrow-batched mapInPandas over the WKT — per-polygon local);
    2. each point's cell is a pure expression floor(x/cell),
       floor(y/cell);
    3. candidates = equi-join on the cell id (AQE splits hot cells);
    4. exact ray-cast verify per candidate (applied in the same
       Arrow batch as the join output — false positives from the bbox
       cover die here; ``include_boundary`` counts edge-touching
       points as covered, matching ST_Covers).

    Returns (point_id, poly_id).  ``cell`` should approximate the
    median polygon diameter: too small explodes cells-per-polygon, too
    large packs many polygons per cell — either way correctness holds,
    only the candidate ratio moves.  At 100 TB the shuffle carries
    (cell, id[, xy]) pairs, never geometry bodies; the polygon table is
    dim-sized so the verify pass BROADCASTS it (r06-verdict fix: the
    id-keyed shuffle rejoin replicated each hot polygon's WKT body once
    per candidate pair — body x candidates wire volume on a skewed
    cell; the broadcast ships each body once per executor instead, and
    the per-partition parse cache in ``_verify`` keeps the CPU cost at
    one parse per polygon per task)."""
    def _poly_cells(it):
        for pdf in it:
            pids, cxs, cys = [], [], []
            for pid, wkt in zip(pdf[poly_id], pdf[geom_col]):
                for cx, cy in _grid_cells_of_wkt(wkt, cell):
                    pids.append(pid)
                    cxs.append(cx)
                    cys.append(cy)
            yield pd.DataFrame(
                {poly_id: pids, "_cx": cxs, "_cy": cys}
            )

    poly_cells = polygons.select(poly_id, geom_col).mapInPandas(
        _poly_cells,
        schema=f"{poly_id} long, _cx long, _cy long",
    )
    pts = points.select(
        point_id,
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
        F.floor(F.col(x_col).cast("double") / cell).alias("_cx"),
        F.floor(F.col(y_col).cast("double") / cell).alias("_cy"),
    )
    cands = pts.join(poly_cells, ["_cx", "_cy"]).select(
        point_id, "_x", "_y", poly_id
    )
    # attach geometry for the verify pass (by id — bodies never rode
    # the cell shuffle; broadcast, so they never ride a shuffle at all
    # and a hot polygon's body is shipped per-executor, not per-pair),
    # then exact-test per Arrow batch
    with_geom = cands.join(
        F.broadcast(polygons.select(poly_id, geom_col)), poly_id
    )

    ok_states = ("in", "boundary") if include_boundary else ("in",)

    def _verify(it):
        cache: dict = {}
        for pdf in it:
            keep_pt, keep_poly = [], []
            for pt_id, x, y, pid, wkt in zip(
                pdf[point_id], pdf["_x"], pdf["_y"],
                pdf[poly_id], pdf[geom_col],
            ):
                polys = cache.get(pid)
                if polys is None:
                    polys = parse_wkt(wkt)[1]
                    cache[pid] = polys
                state = "out"
                for rings in polys:
                    state = _pt_in_rings((x, y), rings)
                    if state != "out":
                        break
                if state in ok_states:
                    keep_pt.append(pt_id)
                    keep_poly.append(pid)
            yield pd.DataFrame({point_id: keep_pt, poly_id: keep_poly})

    return with_geom.mapInPandas(
        _verify, schema=f"{point_id} long, {poly_id} long"
    )
