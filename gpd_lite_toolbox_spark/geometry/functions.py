"""Geometry function layer: Arrow-batched pandas UDFs + native exprs.

Design rule (SURVEY.md §4): anything expressible as plain column math is a
native Catalyst expression (haversine ``utils.py:83-91``, bearing
``utils.py:94-104``, bbox predicates, grid cell-ids); the Python boundary
is crossed only for real geometry kernels, one ``wkb`` decode per Arrow
batch. Row-at-a-time ``F.udf`` is never used.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import kernels as K
from . import wkb as W

BBOX_SCHEMA = T.StructType(
    [
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
    ]
)

XY_SCHEMA = T.StructType(
    [T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())]
)


# ------------------------------------------------------------ constructors
@F.pandas_udf(T.BinaryType())
def st_point(x: pd.Series, y: pd.Series) -> pd.Series:
    return pd.Series(W.points_wkb(x.to_numpy(), y.to_numpy()))


@F.pandas_udf(T.BinaryType())
def st_rect(x0: pd.Series, y0: pd.Series, x1: pd.Series, y1: pd.Series) -> pd.Series:
    return pd.Series(
        [W.rect_wkb(a, b, c, d) for a, b, c, d in zip(x0, y0, x1, y1)]
    )


# -------------------------------------------------------------- accessors
@F.pandas_udf(T.DoubleType())
def st_area(geom: pd.Series) -> pd.Series:
    return pd.Series([K.geom_area(W.decode(g)) for g in geom])


@F.pandas_udf(T.DoubleType())
def st_length(geom: pd.Series) -> pd.Series:
    return pd.Series([K.geom_length(W.decode(g)) for g in geom])


@F.pandas_udf(XY_SCHEMA)
def st_centroid_xy(geom: pd.Series) -> pd.DataFrame:
    pts = [K.geom_centroid(W.decode(g)) for g in geom]
    return pd.DataFrame(pts, columns=["x", "y"])


@F.pandas_udf(BBOX_SCHEMA)
def st_bounds(geom: pd.Series) -> pd.DataFrame:
    # NULL geometry (e.g. a nullable SpatiaLite column) yields a null
    # bbox row rather than crashing the task on memoryview(None)
    rows = [
        (None, None, None, None) if g is None else K.geom_bounds(W.decode(g))
        for g in geom
    ]
    return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])


@F.pandas_udf(
    T.ArrayType(
        T.StructType(
            [
                T.StructField("k", T.IntegerType()),
                T.StructField("x", T.DoubleType()),
                T.StructField("y", T.DoubleType()),
            ]
        )
    )
)
def st_exterior_coords(geom: pd.Series) -> pd.Series:
    """Exterior-ring vertices of a Polygon as (k, x, y) structs, open
    form (the duplicate closing vertex dropped) — the relational dump
    of the shell geometry, e.g. to hash-compare a transformed polygon
    vertex-by-vertex against a relational oracle."""
    out = []
    for g in geom:
        t, payload = W.decode(g)
        if t != "Polygon":
            raise ValueError(f"st_exterior_coords expects Polygon, got {t}")
        ring = np.asarray(payload[0], dtype=float)
        if len(ring) > 1 and np.array_equal(ring[0], ring[-1]):
            ring = ring[:-1]
        out.append(
            [
                {"k": int(i), "x": float(p[0]), "y": float(p[1])}
                for i, p in enumerate(ring)
            ]
        )
    return pd.Series(out)


@F.pandas_udf(T.ArrayType(T.BinaryType()))
def st_parts(geom: pd.Series) -> pd.Series:
    """Multi-part -> array of single-part WKB; singles -> 1-element array.

    Backs ``multi_to_single`` (reference ``core.py:285-317``) via a native
    ``explode`` afterwards.
    """
    out = []
    for g in geom:
        t, payload = W.decode(g)
        if t == "MultiPolygon":
            out.append([W.polygon_wkb(rings) for rings in payload])
        elif t == "MultiLineString":
            out.append([W.linestring_wkb(c) for c in payload])
        elif t == "MultiPoint":
            out.append(W.points_wkb(payload[:, 0], payload[:, 1]))
        else:
            out.append([g])
    return pd.Series(out)


@F.pandas_udf(T.BooleanType())
def st_contains_xy(geom: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
    """Point-in-geometry per row. Rows sharing a WKB blob (the common
    shape: many candidate points tested against one feature, e.g.
    random_pts_in_polygons' 8n+32 draws per feature) are grouped so
    each distinct geometry decodes ONCE per Arrow batch and its points
    ray-cast as one vectorized call."""
    out = np.zeros(len(geom), dtype=bool)
    xs = x.to_numpy(dtype=float)
    ys = y.to_numpy(dtype=float)
    groups: dict[bytes, list[int]] = {}
    for i, g in enumerate(geom):
        groups.setdefault(bytes(g), []).append(i)
    for g, idxs in groups.items():
        ii = np.asarray(idxs)
        out[ii] = K.points_in_geom(xs[ii], ys[ii], W.decode(g))
    return pd.Series(out)


@F.pandas_udf(T.BinaryType())
def st_buffer_mitre(geom: pd.Series, tol: pd.Series) -> pd.Series:
    """Mitre/square buffer — exact for axis-aligned rectangles (bbox
    expansion), bbox-expansion approximation otherwise. The reference's
    round shapely buffers (``core.py:158``) are used only as a pairing
    tolerance, for which the mitre variant is the scale-friendly choice.
    """
    out = []
    for g, t in zip(geom, tol):
        # bbox over ALL parts (a first-ring shortcut would drop every
        # other part of a MultiPolygon), expanded by the tolerance
        x0, y0, x1, y1 = K.geom_bounds(W.decode(g))
        out.append(W.rect_wkb(x0 - t, y0 - t, x1 + t, y1 + t))
    return pd.Series(out)


def st_buffer_round(dist: float, quad_segs: int = 8, concave: str = "raise"):
    """TRUE round buffer (reference core.py:158 ``buffer(tol)``
    semantics) as an Arrow UDF factory: Points grow inscribed circles,
    convex polygon shells grow offset edges joined by vertex arcs —
    shapely's join style with the same inscribed-arc approximation.

    Concave shells are where general offsetting needs a full overlay;
    per the engine's no-silent-approximation rule the default RAISES
    for them. ``concave="hull"`` opts into buffering the convex hull
    (a documented over-approximation); st_buffer_mitre remains the
    bbox-style pairing tolerance."""
    from . import kernels as K

    @F.pandas_udf(T.BinaryType())
    def _buffer(geom: pd.Series) -> pd.Series:
        out = []
        for g in geom:
            t, payload = W.decode(bytes(g))
            if t == "Point":
                ring = K.circle_ring(
                    float(payload[0]), float(payload[1]), dist, quad_segs
                )
            elif t == "Polygon":
                shell = K.ensure_ccw(payload[0])
                try:
                    ring = K.round_buffer_convex(shell, dist, quad_segs)
                except ValueError:
                    if concave != "hull":
                        raise
                    ring = K.round_buffer_convex(
                        K.convex_hull(shell), dist, quad_segs
                    )
            else:
                raise ValueError(f"st_buffer_round unsupported for {t}")
            out.append(W.polygon_wkb([np.vstack([ring, ring[:1]])]))
        return pd.Series(out)

    return _buffer


PAIR_STATS_SCHEMA = T.StructType(
    [
        T.StructField("isect", T.BooleanType()),
        T.StructField("area", T.DoubleType()),
        T.StructField("length", T.DoubleType()),
    ]
)


def _shells(geom) -> list:
    t, payload = geom
    if t == "Polygon":
        return [payload[0]]
    if t == "MultiPolygon":
        return [rings[0] for rings in payload]
    raise ValueError(f"pair stats expects polygons, got {t}")


@F.pandas_udf(PAIR_STATS_SCHEMA)
def st_pair_stats(
    ga: pd.Series, gb: pd.Series, tol_a: pd.Series, tol_b: pd.Series
) -> pd.DataFrame:
    """Per-pair intersection statistics after mitre-buffering each side
    by its tolerance: (intersects?, intersection area, intersection
    boundary length). One decode pass serves get_borders (boundary
    length, reference core.py:158-171), l_shared_border
    (utils.py:149-157, asymmetric buffer), intersection_part
    (utils.py:188-205) and the intersects/ftouches adjacency ops
    (core.py:233-254, utils.py:159-185).

    Unbuffered rows (both tolerances 0 — intersects / ftouches /
    intersection_part semantics) use the EXACT general kernel
    (``kernels.pair_stats_exact``): arbitrary simple polygons with
    concave shells, holes, and multiple parts, including collinear
    shared boundaries and corner contact. Buffered rows (a nonzero
    tolerance) mitre-offset the CONVEX shells and clip those — exact
    for convex parts; concave shells and holes of *buffered* inputs
    are approximated by their shells (round buffers are out of scope,
    see st_buffer_mitre). The native bbox-column fast path in
    operators/joins.py is byte-equal to this kernel for axis-aligned
    rectangles (differential-tested both ways).
    """
    n = len(ga)
    isect = np.zeros(n, dtype=bool)
    area = np.zeros(n)
    length = np.zeros(n)
    for i in range(n):
        da = W.decode(ga[i])
        db = W.decode(gb[i])
        ta, tb = float(tol_a.iloc[i]), float(tol_b.iloc[i])
        ba = K.geom_bounds(da)
        bb = K.geom_bounds(db)
        if K.rect_intersection(
            (ba[0] - ta, ba[1] - ta, ba[2] + ta, ba[3] + ta),
            (bb[0] - tb, bb[1] - tb, bb[2] + tb, bb[3] + tb),
        ) is None:
            continue
        if ta == 0.0 and tb == 0.0:
            it, ar, ln = K.pair_stats_exact(da, db)
        else:
            it, ar, ln = K.convex_pair_stats(
                _shells(da), _shells(db), ta, tb
            )
        isect[i] = it
        area[i] = ar
        length[i] = ln
    return pd.DataFrame({"isect": isect, "area": area, "length": length})


# The kernel is pure, but declaring it nondeterministic stops Catalyst
# from duplicating the call when a filter on one struct field sits
# under a projection of the others (CollapseProject + predicate
# pushdown re-evaluated the WHOLE pair kernel once for the filter and
# once for the output — observed as two ArrowEvalPython nodes in the
# concave_pairs plan, i.e. 2x the geometry work).
st_pair_stats = st_pair_stats.asNondeterministic()


# ---------------------------------------------------------- native exprs
def hav_dist_expr(
    lon1: Column, lat1: Column, lon2: Column, lat2: Column, radius: float = 6367.0
) -> Column:
    """Vectorized haversine (km) as a pure Catalyst expression — native
    re-expression of the reference's numpy kernel (``utils.py:83-91``,
    same Earth radius 6367 km). No UDF: whole-stage codegen applies.
    """
    rlon1, rlat1 = F.radians(lon1), F.radians(lat1)
    rlon2, rlat2 = F.radians(lon2), F.radians(lat2)
    dlon = rlon2 - rlon1
    dlat = rlat2 - rlat1
    # sin*sin, not pow(sin,2): pow is not correctly-rounded everywhere,
    # explicit products keep Spark and DuckDB bit-comparable
    sdlat = F.sin(dlat / 2)
    sdlon = F.sin(dlon / 2)
    a = sdlat * sdlat + F.cos(rlat1) * F.cos(rlat2) * sdlon * sdlon
    return 2.0 * radius * F.asin(F.sqrt(a))


def bearing_expr(x0: Column, y0: Column, x1: Column, y1: Column) -> Column:
    """Line bearing in degrees 0..360 measured from north, native expr
    (reference ``utils.py:60-74`` mparams bearing)."""
    deg = F.degrees(F.atan2(x1 - x0, y1 - y0))
    return F.when(deg < 0, deg + 360.0).otherwise(deg)


def bearing_180_expr(b: Column) -> Column:
    """Fold a 0..360 bearing into (-180, 180].

    DELIBERATE bug fix vs the reference (``utils.py:94-104`` returns
    ``180 - b`` for b > 180 — a reflection that sends 190° to -10°
    instead of -170°, flipping the compass direction; values differ
    everywhere except 270°). The engine folds ``b - 360``, the standard
    wrap that preserves direction. Registered in SURVEY.md §5's
    documented-fix list; the DuckDB oracle mirrors THIS fold, so the
    gate checks the fixed semantics."""
    return F.when(b > 180.0, b - 360.0).otherwise(b)


def euclid_expr(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    dx = x2 - x1
    dy = y2 - y1
    return F.sqrt(dx * dx + dy * dy)
