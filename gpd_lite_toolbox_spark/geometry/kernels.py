"""Numpy geometry kernels used inside Arrow-batched pandas UDFs.

These supply the scalar geometry math the reference gets from shapely
(area, centroid, length, bounds, containment, distance — used throughout
``/root/reference/gpd_lite_toolbox/core.py`` e.g. :158 buffer, :501
centroid via x/y means, :557 contains, :722 centroid+buffer). All kernels
take decoded geometries (see ``wkb.decode``) or raw coordinate arrays and
are written to stay in numpy for whole-batch work.
"""

from __future__ import annotations

import math

import numpy as np

from . import wkb as _wkb


# ----------------------------------------------------------------- basics
def ring_signed_area(ring: np.ndarray) -> float:
    """Shoelace signed area; CCW positive. Ring may be closed or open.

    Computed relative to the first vertex: shoelace is translation-
    invariant, and shifting to a local origin avoids the catastrophic
    cancellation the raw formula hits for small geometry far from the
    global origin (found by hypothesis: ~1e14-scale cross products for
    a 1e-3-area rect at x=1e7)."""
    x = ring[:, 0] - ring[0, 0]
    y = ring[:, 1] - ring[0, 1]
    return 0.5 * float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))


def polygon_area(rings: list[np.ndarray]) -> float:
    """Exterior minus holes, by |signed area| convention (ring 0 = shell)."""
    if not rings:
        return 0.0
    a = abs(ring_signed_area(_open(rings[0])))
    for hole in rings[1:]:
        a -= abs(ring_signed_area(_open(hole)))
    return a


def _open(ring: np.ndarray) -> np.ndarray:
    """Drop the repeated closing vertex if present."""
    if len(ring) > 1 and np.array_equal(ring[0], ring[-1]):
        return ring[:-1]
    return ring


def ring_centroid(ring: np.ndarray) -> tuple[float, float, float]:
    """(cx, cy, signed_area) of one ring by the standard polygon formula,
    in local-origin coordinates (see ring_signed_area) with the shift
    added back — conditioning, not semantics."""
    r = _open(ring)
    ox, oy = float(r[0, 0]), float(r[0, 1])
    x, y = r[:, 0] - ox, r[:, 1] - oy
    xn, yn = np.roll(x, -1), np.roll(y, -1)
    cross = x * yn - xn * y
    a = 0.5 * float(cross.sum())
    if a == 0.0:
        return float(r[:, 0].mean()), float(r[:, 1].mean()), 0.0
    cx = float(((x + xn) * cross).sum() / (6.0 * a)) + ox
    cy = float(((y + yn) * cross).sum() / (6.0 * a)) + oy
    return cx, cy, a


def polygon_centroid(rings: list[np.ndarray]) -> tuple[float, float]:
    """Area-weighted centroid with holes subtracted."""
    num_x = num_y = den = 0.0
    for i, ring in enumerate(rings):
        cx, cy, a = ring_centroid(ring)
        w = abs(a) if i == 0 else -abs(a)
        num_x += cx * w
        num_y += cy * w
        den += w
    if den == 0.0:
        flat = np.vstack([_open(r) for r in rings])
        return float(flat[:, 0].mean()), float(flat[:, 1].mean())
    return num_x / den, num_y / den


def line_length(coords: np.ndarray) -> float:
    d = np.diff(coords, axis=0)
    return float(np.hypot(d[:, 0], d[:, 1]).sum())


def geom_area(geom) -> float:
    t, payload = geom
    if t == "Polygon":
        return polygon_area(payload)
    if t == "MultiPolygon":
        return sum(polygon_area(rings) for rings in payload)
    return 0.0


def geom_length(geom) -> float:
    t, payload = geom
    if t == "LineString":
        return line_length(payload)
    if t == "MultiLineString":
        return sum(line_length(c) for c in payload)
    if t == "Polygon":  # shapely convention: polygon length = perimeter
        return sum(line_length(r) for r in payload)
    if t == "MultiPolygon":
        return sum(sum(line_length(r) for r in rings) for rings in payload)
    return 0.0


def line_centroid(coords: np.ndarray) -> tuple[float, float]:
    """Length-weighted LineString centroid (shapely semantics): segment
    midpoints weighted by segment length; vertex mean when degenerate."""
    d = np.diff(coords, axis=0)
    seg = np.hypot(d[:, 0], d[:, 1])
    total = float(seg.sum())
    if total == 0.0:
        return float(coords[:, 0].mean()), float(coords[:, 1].mean())
    mx = (coords[:-1, 0] + coords[1:, 0]) / 2.0
    my = (coords[:-1, 1] + coords[1:, 1]) / 2.0
    return float((mx * seg).sum() / total), float((my * seg).sum() / total)


def geom_centroid(geom) -> tuple[float, float]:
    t, payload = geom
    if t == "Point":
        return float(payload[0]), float(payload[1])
    if t == "MultiPoint":
        return float(payload[:, 0].mean()), float(payload[:, 1].mean())
    if t == "LineString":
        return line_centroid(payload)
    if t == "Polygon":
        return polygon_centroid(payload)
    if t == "MultiPolygon":
        num_x = num_y = den = 0.0
        for rings in payload:
            cx, cy = polygon_centroid(rings)
            a = polygon_area(rings)
            num_x += cx * a
            num_y += cy * a
            den += a
        if den == 0.0:
            return polygon_centroid(payload[0])
        return num_x / den, num_y / den
    if t == "MultiLineString":
        num_x = num_y = den = 0.0
        for coords in payload:
            cx, cy = line_centroid(coords)
            ln = line_length(coords)
            num_x += cx * ln
            num_y += cy * ln
            den += ln
        if den == 0.0:
            flat = np.vstack(payload)
            return float(flat[:, 0].mean()), float(flat[:, 1].mean())
        return num_x / den, num_y / den
    raise ValueError(t)


def geom_bounds(geom) -> tuple[float, float, float, float]:
    t, payload = geom
    if t == "Point":
        x, y = float(payload[0]), float(payload[1])
        return x, y, x, y
    if t in ("LineString", "MultiPoint"):
        arr = payload
    elif t == "Polygon":
        arr = payload[0]
    elif t == "MultiLineString":
        arr = np.vstack(payload)
    elif t == "MultiPolygon":
        arr = np.vstack([rings[0] for rings in payload])
    else:
        raise ValueError(t)
    return (
        float(arr[:, 0].min()),
        float(arr[:, 1].min()),
        float(arr[:, 0].max()),
        float(arr[:, 1].max()),
    )


# --------------------------------------------------------------- predicates
def point_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized ray-cast: for arrays of points against one ring.

    Boundary behavior is half-open (consistent, not symmetric) — callers
    needing closed semantics should pair with an on-boundary test.
    """
    r = _open(ring)
    x0, y0 = r[:, 0], r[:, 1]
    x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
    px = np.asarray(px)[:, None]
    py = np.asarray(py)[:, None]
    cond = (y0 > py) != (y1 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
    crossings = cond & (px < xint)
    return crossings.sum(axis=1) % 2 == 1


def points_in_polygon(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    inside = point_in_ring(px, py, rings[0])
    for hole in rings[1:]:
        inside &= ~point_in_ring(px, py, hole)
    return inside


def points_in_geom(px: np.ndarray, py: np.ndarray, geom) -> np.ndarray:
    t, payload = geom
    if t == "Polygon":
        return points_in_polygon(px, py, payload)
    if t == "MultiPolygon":
        res = np.zeros(len(px), dtype=bool)
        for rings in payload:
            res |= points_in_polygon(px, py, rings)
        return res
    raise ValueError(f"contains undefined for {t}")


# --------------------------------------------------------------- distances
def max_pairwise_dist(a: np.ndarray, b: np.ndarray) -> float:
    """Exact variant of the reference's line distance
    (``utils.py:77-80`` fh2_dist_lines2): max euclidean distance over the
    cross product of the two vertex sets."""
    d = a[:, None, :] - b[None, :, :]
    return float(np.sqrt((d * d).sum(axis=2)).max())


def cheap_hausdorff(a: np.ndarray, b: np.ndarray) -> float:
    """Directed-max-of-min Hausdorff over vertex sets (the intended
    semantics of the reference's 'cheap hausdorff', ``core.py:104-131``,
    without the step-subsampling approximation)."""
    d = a[:, None, :] - b[None, :, :]
    dist = np.sqrt((d * d).sum(axis=2))
    return float(max(dist.min(axis=1).max(), dist.min(axis=0).max()))


# ----------------------------------------------------------- hull & clip
def convex_hull(pts: np.ndarray) -> np.ndarray:
    """Monotone-chain convex hull; returns CCW open ring (N,2).

    Backs make_grid's cut-by-convex-hull path for non-polygon layers
    (reference core.py:620-624 uses unary_union(...).convex_hull).
    """
    pts = np.unique(pts, axis=0)
    if len(pts) <= 2:
        return pts
    # lexicographic sort (np.unique already sorts rows)
    def half(iterable):
        h: list[np.ndarray] = []
        for p in iterable:
            while len(h) >= 2 and np.cross(h[-1] - h[-2], p - h[-2]) <= 0:
                h.pop()
            h.append(p)
        return h

    lower = half(pts)
    upper = half(pts[::-1])
    return np.array(lower[:-1] + upper[:-1])


def clip_poly_convex(subject: np.ndarray, clip_ccw: np.ndarray) -> np.ndarray:
    """Sutherland-Hodgman: clip an open subject ring by a convex CCW
    ring. Returns the clipped open ring (possibly empty).

    A degenerate clip ring (< 3 vertices: all-identical or collinear
    input points) has zero area and clips everything away — without
    the guard, a 1-point "ring" would keep the whole subject (its
    zero-length edges reject nothing)."""
    if len(clip_ccw) < 3:
        return np.empty((0, 2))
    output = list(np.asarray(subject, float))
    n = len(clip_ccw)
    for i in range(n):
        a = clip_ccw[i]
        b = clip_ccw[(i + 1) % n]
        edge = b - a
        if not output:
            break
        input_pts = output
        output = []
        prev = input_pts[-1]
        prev_in = np.cross(edge, prev - a) >= 0
        for cur in input_pts:
            cur_in = np.cross(edge, cur - a) >= 0
            if cur_in != prev_in:
                d = cur - prev
                denom = np.cross(edge, d)
                t = np.cross(edge, a - prev) / denom
                output.append(prev + t * d)
            if cur_in:
                output.append(cur)
            prev, prev_in = cur, cur_in
    return np.array(output) if output else np.empty((0, 2))


def ensure_ccw(ring: np.ndarray) -> np.ndarray:
    """Open ring, counter-clockwise orientation."""
    r = _open(np.asarray(ring, float))
    if ring_signed_area(r) < 0:
        return r[::-1]
    return r


def convex_offset(ring: np.ndarray, tol: float) -> np.ndarray:
    """Mitre-join outward offset of a CONVEX CCW ring by ``tol``: each
    edge shifts along its outward normal; new vertices are intersections
    of consecutive shifted edges. Exact for convex polygons (reduces to
    bbox expansion for axis-aligned rectangles); concave inputs are the
    caller's responsibility."""
    r = ensure_ccw(ring)
    if tol == 0.0 or len(r) < 3:
        return r
    n = len(r)
    # shifted edge i: through a_i + d*normal_i toward b_i + d*normal_i
    pts = []
    for i in range(n):
        a_prev, b_prev = r[i - 1], r[i]
        a_cur, b_cur = r[i], r[(i + 1) % n]
        for_edges = []
        for a, b in ((a_prev, b_prev), (a_cur, b_cur)):
            e = b - a
            ln = math.hypot(e[0], e[1])
            nx, ny = e[1] / ln, -e[0] / ln  # outward normal for CCW
            for_edges.append((a + tol * np.array([nx, ny]), e))
        (p1, d1), (p2, d2) = for_edges
        denom = d1[0] * d2[1] - d1[1] * d2[0]
        if abs(denom) < 1e-12:  # collinear edges: shifted point suffices
            pts.append(p2)
            continue
        t = ((p2[0] - p1[0]) * d2[1] - (p2[1] - p1[1]) * d2[0]) / denom
        pts.append(p1 + t * d1)
    return np.array(pts)


def round_buffer_convex(
    ring: np.ndarray, dist: float, quad_segs: int = 8
) -> np.ndarray:
    """Shapely-style ROUND buffer of a convex CCW ring: edges shift
    along their outward normals and vertices grow inscribed circular
    arcs stepped at <= (pi/2)/quad_segs — the reference's
    ``buffer(tol)`` join style (core.py:158), vs the mitre join of
    convex_offset. Exact offset edges; arcs are the same inscribed
    approximation shapely uses. Returns an open CCW ring."""
    r = ensure_ccw(np.asarray(ring, float))
    n = len(r)
    if dist <= 0.0 or n == 0:
        return r
    if n == 1:
        return circle_ring(r[0, 0], r[0, 1], dist, quad_segs)
    step = (math.pi / 2.0) / quad_segs
    out = []
    for i in range(n):
        p = r[i]
        e_prev = p - r[i - 1]
        e_next = r[(i + 1) % n] - p
        # outward normal of a CCW edge e is (e.y, -e.x)
        a0 = math.atan2(-e_prev[0], e_prev[1])
        a1 = math.atan2(-e_next[0], e_next[1])
        sweep = (a1 - a0) % (2.0 * math.pi)
        if sweep >= math.pi - 1e-12:
            raise ValueError(
                "round_buffer_convex: reflex vertex — ring is not convex"
            )
        steps = max(1, math.ceil(sweep / step))
        for k in range(steps + 1):
            ang = a0 + sweep * k / steps
            out.append(
                [p[0] + dist * math.cos(ang), p[1] + dist * math.sin(ang)]
            )
    return np.array(out)


def circle_ring(
    cx: float, cy: float, radius: float, quad_segs: int = 8
) -> np.ndarray:
    """Inscribed-polygon circle (4*quad_segs segments), open CCW ring —
    the round buffer of a point."""
    n = 4 * quad_segs
    ang = np.arange(n) * (2.0 * math.pi / n)
    return np.column_stack(
        [cx + radius * np.cos(ang), cy + radius * np.sin(ang)]
    )


def convex_pair_stats(
    shells_a: list[np.ndarray],
    shells_b: list[np.ndarray],
    tol_a: float,
    tol_b: float,
) -> tuple[bool, float, float]:
    """(intersects, area, boundary length) of the intersection of two
    (multi)polygons after mitre-buffering each side — EXACT for convex
    parts (Sutherland-Hodgman clip per part pair; valid multipolygons
    have disjoint parts so pairwise results are additive). Degenerate
    edge/point contact reports shapely-consistent length (w+h style)."""
    isect = False
    area = 0.0
    length = 0.0
    offs_a = [convex_offset(s, tol_a) for s in shells_a]
    offs_b = [convex_offset(s, tol_b) for s in shells_b]
    for sa in offs_a:
        for sb in offs_b:
            clipped = clip_poly_convex(sa, sb)
            if len(clipped) == 0:
                continue
            isect = True
            if len(clipped) >= 3:
                a = abs(ring_signed_area(clipped))
                area += a
                closed = np.vstack([clipped, clipped[:1]])
                peri = line_length(closed)
                # degenerate sliver: treat as line contact
                length += peri if a > 0 else peri / 2.0
            elif len(clipped) == 2:
                length += line_length(clipped)
    return isect, area, length


# ------------------------------------------------- exact general geometry
#
# Exact pair-intersection statistics for ARBITRARY simple polygons —
# concave shells, holes, multi-part — via boundary tracing + Green's
# theorem, without constructing the intersection polygon's topology
# (the reference delegates this to shapely: core.py:158-171 buffer ∩
# boundary, utils.py:149-157, utils.py:188-205).
#
# Principle: in generic position ∂(A∩B) = (∂A inside B) ∪ (∂B inside
# A), each piece inheriting its own polygon's positive orientation
# (shells CCW, holes CW). So
#     area(A∩B)      = ½ ∮ x dy − y dx   over both piece families,
#     perimeter(A∩B) = len(∂A in B) + len(∂B in A).
# Each boundary edge is split at its crossings with the other
# polygon's edges; every sub-segment is then wholly inside, outside,
# or ON the other boundary, decided by its midpoint. ON sub-segments
# (collinear shared boundary — grid mosaics, identical geometry) are
# traversed by BOTH boundaries, so they contribute HALF their length
# and HALF their Green term from each side: for overlapping interiors
# the two halves add (counted once), for merely touching interiors
# the Green halves cancel (area 0) while the length halves add to the
# true contact length — matching shapely's intersection semantics
# without case analysis.

_GEPS = 1e-9  # absolute, after local-origin shift (pair spans ≤ ~1e5)


def _orient_parts(parts: list[list[np.ndarray]]) -> list[list[np.ndarray]]:
    """Open every ring and normalize orientation: shell CCW, holes CW."""
    out = []
    for rings in parts:
        fixed = []
        for i, r in enumerate(rings):
            r = _open(np.asarray(r, float))
            sa = ring_signed_area(r)
            if (i == 0 and sa < 0) or (i > 0 and sa > 0):
                r = r[::-1]
            fixed.append(r)
        out.append(fixed)
    return out


def _edge_arrays(parts: list[list[np.ndarray]]) -> tuple[np.ndarray, np.ndarray]:
    """All directed edges of all rings: (origins (m,2), deltas (m,2))."""
    ps, ds = [], []
    for rings in parts:
        for r in rings:
            q = np.roll(r, -1, axis=0)
            ps.append(r)
            ds.append(q - r)
    return np.vstack(ps), np.vstack(ds)


def _pts_in_parts(px: np.ndarray, py: np.ndarray, parts) -> np.ndarray:
    res = np.zeros(len(px), dtype=bool)
    for rings in parts:
        res |= points_in_polygon(px, py, rings)
    return res


def _rings_pre(parts) -> list[list[tuple]]:
    """Precomputed per-ring edge coordinate arrays (x0, y0, x1, y1) for
    the batched ray-cast — avoids re-deriving edges on every
    containment call inside the trace loop."""
    pre = []
    for rings in parts:
        ring_pre = []
        for ring in rings:
            r = _open(ring)
            x0, y0 = r[:, 0].copy(), r[:, 1].copy()
            x1 = np.concatenate([x0[1:], x0[:1]])
            y1 = np.concatenate([y0[1:], y0[:1]])
            ring_pre.append((x0, y0, x1, y1))
        pre.append(ring_pre)
    return pre


def _pts_in_pre(px: np.ndarray, py: np.ndarray, pre_parts) -> np.ndarray:
    """Containment against precomputed ring edges (_rings_pre); same
    half-open ray-cast semantics as points_in_polygon."""
    res = np.zeros(len(px), dtype=bool)
    pxc = px[:, None]
    pyc = py[:, None]
    for ring_pre in pre_parts:
        inside = None
        for x0, y0, x1, y1 in ring_pre:
            cond = (y0 > pyc) != (y1 > pyc)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = x0 + (pyc - y0) * (x1 - x0) / (y1 - y0)
            hit = (cond & (pxc < xint)).sum(axis=1) % 2 == 1
            inside = hit if inside is None else (inside & ~hit)
        if inside is not None:
            res |= inside
    return res


def _min_dist2_to_edges(
    pts: np.ndarray, eo: np.ndarray, ed: np.ndarray, el2: np.ndarray
) -> np.ndarray:
    """Squared distance from each point to the nearest edge segment."""
    w = pts[:, None, :] - eo[None, :, :]
    t = np.clip(
        (w * ed[None, :, :]).sum(2) / np.maximum(el2, _GEPS * _GEPS), 0.0, 1.0
    )
    nearest = eo[None, :, :] + t[:, :, None] * ed[None, :, :]
    return ((pts[:, None, :] - nearest) ** 2).sum(2).min(1)


_TRACE_BLOCK = 1 << 20  # cap the (edges_a x edges_b) working-set size


def _trace_boundary(
    eo_a: np.ndarray,
    ed_a: np.ndarray,
    pre_b,
    eo_b: np.ndarray,
    ed_b: np.ndarray,
) -> tuple[float, float, float, float]:
    """Trace ∂A against B. Returns (green_inside, len_inside, green_on,
    len_on): Green-theorem area and length accumulated over the
    sub-segments of ∂A strictly inside B, and over those lying ON ∂B.

    Vectorized end-to-end: the crossing/collinearity matrices are
    computed in one shot (blocked so the working set stays bounded for
    large rings); sub-segment splitting loops only over the edges that
    actually interact with ∂B, and ALL midpoint classifications —
    on-boundary and containment — run as two batched calls per block."""
    green_in = len_in = green_on = len_on = 0.0
    el2_b = (ed_b * ed_b).sum(1)
    m = len(eo_b)
    alen = np.hypot(ed_a[:, 0], ed_a[:, 1])
    live = alen > _GEPS
    eo_a, ed_a, alen = eo_a[live], ed_a[live], alen[live]
    block = max(1, _TRACE_BLOCK // max(m, 1))
    for s in range(0, len(eo_a), block):
        bo, bd, bl = eo_a[s:s + block], ed_a[s:s + block], alen[s:s + block]
        # pairwise crossing parameters: t along the A edge, u along B's
        wx = eo_b[None, :, 0] - bo[:, None, 0]
        wy = eo_b[None, :, 1] - bo[:, None, 1]
        denom = (
            bd[:, None, 0] * ed_b[None, :, 1]
            - bd[:, None, 1] * ed_b[None, :, 0]
        )
        cwdb = wx * ed_b[None, :, 1] - wy * ed_b[None, :, 0]
        cwd = wx * bd[:, None, 1] - wy * bd[:, None, 0]
        nonpar = np.abs(denom) > _GEPS
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.where(nonpar, cwdb / denom, np.nan)
            u = np.where(nonpar, cwd / denom, np.nan)
        valid = nonpar & (t > 0.0) & (t < 1.0) & (u >= 0.0) & (u <= 1.0)
        # collinear edges contribute no crossings: those split at the
        # projections of their endpoints so overlap runs become whole
        # sub-segments
        coll = (~nonpar) & (np.abs(cwd) / bl[:, None] < _GEPS)
        interacting = valid.any(1) | coll.any(1)
        # collect candidate sub-segments (p0, p1) for the whole block;
        # only interacting-edge sub-segments can lie ON ∂B
        p0s, p1s, can_on = [], [], []
        simple = ~interacting
        if simple.any():
            so, sd = bo[simple], bd[simple]
            p0s.append(so)
            p1s.append(so + sd)
            can_on.append(np.zeros(int(simple.sum()), dtype=bool))
        for i in np.where(interacting)[0]:
            p, d, elen = bo[i], bd[i], bl[i]
            ts = [0.0, 1.0] + list(t[i][valid[i]])
            for j in np.where(coll[i])[0]:
                for end in (eo_b[j], eo_b[j] + ed_b[j]):
                    tp = float((end - p) @ d) / (elen * elen)
                    if 0.0 < tp < 1.0:
                        ts.append(tp)
            tsa = np.unique(np.clip(np.asarray(ts), 0.0, 1.0))
            t0s, t1s = tsa[:-1], tsa[1:]
            keep = (t1s - t0s) * elen > _GEPS
            if not keep.any():
                continue
            t0s, t1s = t0s[keep], t1s[keep]
            p0s.append(p[None, :] + d[None, :] * t0s[:, None])
            p1s.append(p[None, :] + d[None, :] * t1s[:, None])
            can_on.append(np.ones(len(t0s), dtype=bool))
        if not p0s:
            continue
        p0 = np.vstack(p0s)
        p1 = np.vstack(p1s)
        maybe_on = np.concatenate(can_on)
        mids = (p0 + p1) / 2.0
        on = np.zeros(len(mids), dtype=bool)
        if maybe_on.any():
            on[maybe_on] = (
                _min_dist2_to_edges(mids[maybe_on], eo_b, ed_b, el2_b)
                < _GEPS * _GEPS
            )
        inside = np.zeros(len(mids), dtype=bool)
        need = ~on
        if need.any():
            inside[need] = _pts_in_pre(mids[need, 0], mids[need, 1], pre_b)
        g = 0.5 * (p0[:, 0] * p1[:, 1] - p1[:, 0] * p0[:, 1])
        ln = np.hypot(p1[:, 0] - p0[:, 0], p1[:, 1] - p0[:, 1])
        green_in += float(g[inside].sum())
        len_in += float(ln[inside].sum())
        green_on += float(g[on].sum())
        len_on += float(ln[on].sum())
    return green_in, len_in, green_on, len_on


def _as_parts(geom) -> list[list[np.ndarray]]:
    """Decoded polygonal geometry -> list of parts (each: rings)."""
    t, payload = geom
    if t == "Polygon":
        return [payload]
    if t == "MultiPolygon":
        return list(payload)
    raise ValueError(f"pair stats expects polygons, got {t}")


def pair_stats_exact(geom_a, geom_b) -> tuple[bool, float, float]:
    """(intersects, area, boundary length) of A∩B — EXACT for arbitrary
    simple polygons with holes and multiple parts (see block comment
    above). Collinear shared boundaries and vertex/corner contact are
    handled; self-intersecting rings are undefined input."""
    pa = _as_parts(geom_a)
    pb = _as_parts(geom_b)
    # local-origin shift: shoelace-style products are ill-conditioned
    # far from the origin (same reason as ring_signed_area)
    ox = min(float(r[:, 0].min()) for rings in pa + pb for r in rings)
    oy = min(float(r[:, 1].min()) for rings in pa + pb for r in rings)
    shift = np.array([ox, oy])
    pa = _orient_parts([[r - shift for r in rings] for rings in pa])
    pb = _orient_parts([[r - shift for r in rings] for rings in pb])
    eo_a, ed_a = _edge_arrays(pa)
    eo_b, ed_b = _edge_arrays(pb)
    pre_a, pre_b = _rings_pre(pa), _rings_pre(pb)
    ga, la, gon_a, lon_a = _trace_boundary(eo_a, ed_a, pre_b, eo_b, ed_b)
    gb, lb, gon_b, lon_b = _trace_boundary(eo_b, ed_b, pre_a, eo_a, ed_a)
    area = ga + gb + 0.5 * (gon_a + gon_b)
    length = la + lb + 0.5 * (lon_a + lon_b)
    area = 0.0 if abs(area) < _GEPS else area
    length = 0.0 if abs(length) < _GEPS else length
    isect = area > 0.0 or length > 0.0
    if not isect:
        # pure corner/point contact leaves no sub-segment on either
        # boundary: detect via vertex-to-boundary distance (both ways)
        el2_b = (ed_b * ed_b).sum(1)
        if (_min_dist2_to_edges(eo_a, eo_b, ed_b, el2_b) < _GEPS * _GEPS).any():
            isect = True
        else:
            el2_a = (ed_a * ed_a).sum(1)
            isect = bool(
                (_min_dist2_to_edges(eo_b, eo_a, ed_a, el2_a)
                 < _GEPS * _GEPS).any()
            )
    return isect, max(area, 0.0), length


# ------------------------------------------------------- lattice dissolve
def dissolve_lattice_cells(cells) -> list[list[tuple[int, int]]]:
    """Boundary rings of a union of unit lattice cells.

    ``cells`` is an iterable of integer (col, row) pairs; cell (c, r)
    occupies lattice corners (c, r)..(c+1, r+1). Returns closed rings
    (first == last vertex) of lattice vertices with collinear runs
    compressed. Interior edges cancel (each appears in both directions
    from the two adjacent cells), so the surviving directed edges ARE
    the union boundary, oriented consistently per-cell; at pinch
    corners (diagonal "checkerboard" contact) the sharpest-turn rule
    keeps each loop a separate SIMPLE ring instead of a figure-eight.

    Exact grid dissolve for cell mosaics — backs the isochrone band
    polygons (reference core.py:839-870 builds band polygons from
    matplotlib contour collections; here bands are cell sets)."""
    eset: set[tuple] = set()
    for c, r in set(map(tuple, cells)):
        corners = ((c, r + 1), (c + 1, r + 1), (c + 1, r), (c, r))
        for i in range(4):
            a, b = corners[i], corners[(i + 1) % 4]
            if (b, a) in eset:
                eset.remove((b, a))
            else:
                eset.add((a, b))
    outgoing: dict[tuple, list] = {}
    for a, b in eset:
        outgoing.setdefault(a, []).append(b)
    rings = []
    while eset:
        a0, b0 = next(iter(eset))
        ring = [a0]
        cur_a, cur_b = a0, b0
        while True:
            eset.remove((cur_a, cur_b))
            outgoing[cur_a].remove(cur_b)
            ring.append(cur_b)
            if cur_b == a0:
                break
            cands = outgoing[cur_b]
            if len(cands) == 1:
                cur_a, cur_b = cur_b, cands[0]
                continue
            din = (cur_b[0] - cur_a[0], cur_b[1] - cur_a[1])

            def turn_rank(nxt, _b=cur_b, _d=din):
                dout = (nxt[0] - _b[0], nxt[1] - _b[1])
                cross = _d[0] * dout[1] - _d[1] * dout[0]
                dot = _d[0] * dout[0] + _d[1] * dout[1]
                # cell traversal is CW in lattice space (CCW in world
                # coords after the y-flip), so the same-cell turn at a
                # pinch vertex is the cross<0 branch
                if cross < 0:
                    return 0
                if cross == 0 and dot > 0:
                    return 1
                if cross > 0:
                    return 2
                return 3
            cur_a, cur_b = cur_b, min(cands, key=turn_rank)
        # compress collinear runs (cyclic)
        open_ring = ring[:-1]
        n = len(open_ring)
        keep = []
        for i in range(n):
            p_prev = open_ring[i - 1]
            p = open_ring[i]
            p_next = open_ring[(i + 1) % n]
            d1 = (p[0] - p_prev[0], p[1] - p_prev[1])
            d2 = (p_next[0] - p[0], p_next[1] - p[1])
            if d1[0] * d2[1] - d1[1] * d2[0] != 0:
                keep.append(p)
        rings.append(keep + keep[:1])
    return rings


def lattice_parts(rings: list[list[tuple[int, int]]]):
    """Group stitched lattice rings (dissolve_lattice_cells output) into
    parts: [(shell, [holes...])], all in lattice coords with the
    stitcher's orientation kept. Covered region lies on the (dy, -dx)
    side of every consistently-oriented boundary edge, so a hole's
    cavity test point is its first-edge midpoint nudged the other way —
    robust even when hole and shell share a pinch vertex.

    A hole belongs to the SMALLEST containing shell: for nested
    components (island inside a lake inside an outer shell) every
    enclosing shell contains the cavity point, and first-match
    assignment would hang the island's hole on the outer shell —
    topologically wrong geometry whose area coincidentally still sums
    correctly (which is why only point-in-polygon probes catch it)."""
    shells, holes = [], []
    shell_areas = []
    for ring in rings:
        arr = np.array(ring[:-1], dtype=float)
        a = ring_signed_area(arr)
        if a < 0:
            shells.append(ring)
            shell_areas.append(abs(a))
        else:
            holes.append(ring)
    parts = [(s, []) for s in shells]
    for hole in holes:
        (x0, y0), (x1, y1) = hole[0], hole[1]
        d = (x1 - x0, y1 - y0)
        ln = math.hypot(d[0], d[1])
        px = (x0 + x1) / 2.0 - d[1] / ln * 0.5
        py = (y0 + y1) / 2.0 + d[0] / ln * 0.5
        best = None
        for i, (s, _hs) in enumerate(parts):
            if point_in_ring(
                np.array([px]), np.array([py]), np.array(s[:-1], dtype=float)
            )[0]:
                if best is None or shell_areas[i] < shell_areas[best]:
                    best = i
        if best is not None:
            parts[best][1].append(hole)
    return parts


def union_rects(rects) -> list[list[np.ndarray]]:
    """EXACT geometric union of axis-aligned rectangles — overlapping,
    nested, or disjoint (the reference's unary_union, core.py:276, for
    the rectangle-decomposable case). Coordinate compression maps the
    rects onto a slab lattice, covered slabs dissolve via the boundary
    stitcher, and rings map back through the slab coordinates.

    ``rects``: iterable of (x0, y0, x1, y1). Returns MultiPolygon-style
    parts [[shell, holes...]] as closed world-coordinate rings, shells
    CCW and holes CW."""
    arr = np.asarray(list(rects), dtype=float).reshape(-1, 4)
    arr = arr[(arr[:, 2] > arr[:, 0]) & (arr[:, 3] > arr[:, 1])]
    if len(arr) == 0:
        return []
    xs = np.unique(np.concatenate([arr[:, 0], arr[:, 2]]))
    ys = np.unique(np.concatenate([arr[:, 1], arr[:, 3]]))
    grid = np.zeros((len(xs) - 1, len(ys) - 1), dtype=bool)
    ix0 = np.searchsorted(xs, arr[:, 0])
    ix1 = np.searchsorted(xs, arr[:, 2])
    iy0 = np.searchsorted(ys, arr[:, 1])
    iy1 = np.searchsorted(ys, arr[:, 3])
    for a, b, c, d in zip(ix0, ix1, iy0, iy1):
        grid[a:b, c:d] = True
    cells = [tuple(t) for t in np.argwhere(grid)]
    parts = []
    for shell, holes in lattice_parts(dissolve_lattice_cells(cells)):
        def to_world(ring, reverse):
            seq = ring[::-1] if reverse else ring
            return np.array([[xs[c], ys[r]] for c, r in seq], dtype="<f8")

        # lattice outer rings are negative-signed; the slab mapping is
        # orientation-preserving, so reverse shells to world-CCW and
        # holes to world-CW
        parts.append(
            [to_world(shell, True)] + [to_world(h, True) for h in holes]
        )
    return parts


# ------------------------------------------------------------- rectangles
def rect_buffer(rings: list[np.ndarray], tol: float) -> list[np.ndarray]:
    """Mitre-style buffer exact for axis-aligned rectangles: expand the
    bbox by tol. (General round buffers are approximated in functions.py.)
    """
    shell = rings[0]
    x0, y0 = shell[:, 0].min() - tol, shell[:, 1].min() - tol
    x1, y1 = shell[:, 0].max() + tol, shell[:, 1].max() + tol
    return [
        np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype="<f8")
    ]


def rect_intersection(a4: tuple, b4: tuple):
    """Intersection of two bboxes -> (x0, y0, x1, y1) or None."""
    x0 = max(a4[0], b4[0])
    y0 = max(a4[1], b4[1])
    x1 = min(a4[2], b4[2])
    y1 = min(a4[3], b4[3])
    if x0 > x1 or y0 > y1:
        return None
    return (x0, y0, x1, y1)
