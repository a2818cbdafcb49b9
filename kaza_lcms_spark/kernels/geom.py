"""Vectorized numpy geometry kernel: PIP, areas, distances, STR R-tree.

Re-grounds the reference's ``ee.Geometry`` surface (sig-gis/kaza-lcms):
``.coordinates()`` (src/00sample_pts.py:33), ``.bounds()``
(src/00sample_pts.py:185), ``.buffer(±d)`` (src/01composite_s2.py:98,
src/misc/sentinel1.py:37,150), ``.area()`` (src/misc/pt_calc_disprop.py:24),
and the implicit point-in-polygon semantics of ``sampleRegions`` /
``stratifiedSample(region=...)`` / ``clip`` (src/utils/sampling.py:148-182,
src/misc/sentinel1.py:59).

No shapely/geos in this environment — everything is from-scratch numpy,
designed to run inside Arrow-batched pandas UDFs (vectorized over points)
or driver-side (R-tree build, polygon cell cover).
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_M = 6_371_008.8


def polygon_area(xs: np.ndarray, ys: np.ndarray) -> float:
    """Shoelace area in squared degrees (planar). Reference analog:
    ee.Geometry.area() used for proportional point allocation
    (src/misc/pt_calc_disprop.py:24)."""
    x = np.asarray(xs, dtype=np.float64)
    y = np.asarray(ys, dtype=np.float64)
    return 0.5 * abs(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y))


def haversine_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Great-circle distance in meters, vectorized."""
    p1, p2 = np.deg2rad(lat1), np.deg2rad(lat2)
    dp = p2 - p1
    dl = np.deg2rad(np.asarray(lon2) - np.asarray(lon1))
    a = np.sin(dp / 2.0) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def points_in_polygon(px: np.ndarray, py: np.ndarray, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Ray-casting PIP, vectorized over points, looped over polygon edges.

    Boundary convention: even-odd rule with half-open edges — points exactly
    on a horizontal-crossing boundary resolve deterministically (a point
    shared by two adjacent tiling polygons lands in exactly one), which the
    spatial join's row-for-row determinism requires.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    n = len(xs)
    inside = np.zeros(px.shape, dtype=bool)
    j = n - 1
    for i in range(n):
        xi, yi, xj, yj = xs[i], ys[i], xs[j], ys[j]
        crosses = (yi > py) != (yj > py)
        if yi != yj:
            t = (py - yi) / (yj - yi)
            xcross = xi + t * (xj - xi)
            inside ^= crosses & (px < xcross)
        j = i
    return inside


def segments_intersect(ax, ay, bx, by, cx, cy, dx, dy) -> bool:
    """Proper/improper segment intersection test (scalar)."""

    def orient(ox, oy, px, py, qx, qy):
        v = (px - ox) * (qy - oy) - (py - oy) * (qx - ox)
        return 0 if v == 0 else (1 if v > 0 else -1)

    o1 = orient(ax, ay, bx, by, cx, cy)
    o2 = orient(ax, ay, bx, by, dx, dy)
    o3 = orient(cx, cy, dx, dy, ax, ay)
    o4 = orient(cx, cy, dx, dy, bx, by)
    if o1 != o2 and o3 != o4:
        return True

    def on_seg(ox, oy, px, py, qx, qy):
        return min(ox, px) <= qx <= max(ox, px) and min(oy, py) <= qy <= max(oy, py)

    if o1 == 0 and on_seg(ax, ay, bx, by, cx, cy):
        return True
    if o2 == 0 and on_seg(ax, ay, bx, by, dx, dy):
        return True
    if o3 == 0 and on_seg(cx, cy, dx, dy, ax, ay):
        return True
    if o4 == 0 and on_seg(cx, cy, dx, dy, bx, by):
        return True
    return False


def rects_intersect_polygon(
    x0: np.ndarray, y0: np.ndarray, x1: np.ndarray, y1: np.ndarray,
    xs: np.ndarray, ys: np.ndarray,
) -> np.ndarray:
    """For each rect [x0,x1]x[y0,y1]: does it intersect the polygon?

    True if (a) any rect corner is inside, (b) any polygon vertex is inside
    the rect, or (c) any polygon edge crosses any rect edge. Used for
    polygon -> cell-cover refinement (driver-side; cell counts are small).
    """
    x0 = np.atleast_1d(np.asarray(x0, dtype=np.float64))
    y0 = np.atleast_1d(np.asarray(y0, dtype=np.float64))
    x1 = np.atleast_1d(np.asarray(x1, dtype=np.float64))
    y1 = np.atleast_1d(np.asarray(y1, dtype=np.float64))
    m = len(x0)
    out = np.zeros(m, dtype=bool)
    # (b) polygon vertex inside rect — fully vectorized over rects.
    for vx, vy in zip(xs, ys):
        out |= (x0 <= vx) & (vx <= x1) & (y0 <= vy) & (vy <= y1)
    # (a) rect corners inside polygon.
    for cx, cy in ((x0, y0), (x1, y0), (x0, y1), (x1, y1)):
        out |= points_in_polygon(cx, cy, xs, ys)
    # (c) edge crossings — only for rects not yet matched.
    todo = np.flatnonzero(~out)
    if len(todo):
        n = len(xs)
        for k in todo:
            rx0, ry0, rx1, ry1 = x0[k], y0[k], x1[k], y1[k]
            rect_edges = (
                (rx0, ry0, rx1, ry0), (rx1, ry0, rx1, ry1),
                (rx1, ry1, rx0, ry1), (rx0, ry1, rx0, ry0),
            )
            j = n - 1
            hit = False
            for i in range(n):
                if max(xs[i], xs[j]) < rx0 or min(xs[i], xs[j]) > rx1 \
                        or max(ys[i], ys[j]) < ry0 or min(ys[i], ys[j]) > ry1:
                    j = i
                    continue
                for e in rect_edges:
                    if segments_intersect(xs[j], ys[j], xs[i], ys[i], *e):
                        hit = True
                        break
                if hit:
                    break
                j = i
            out[k] = hit
    return out


class STRtree:
    """Sort-Tile-Recursive packed R-tree over rectangles.

    Built once driver-side over polygon bboxes, pickled into a Spark
    broadcast, probed with vectorized point batches inside mapInPandas —
    the physical strategy of the engine's spatial join (the reference's
    sampleRegions / paint / filterBounds raster<->vector joins,
    src/utils/sampling.py:148-153, src/utils/s2process.py:18,172).

    Pure numpy arrays -> cheap to pickle/broadcast, no per-node objects.
    """

    def __init__(self, boxes: np.ndarray, node_capacity: int = 8):
        boxes = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)
        self.nleaves = len(boxes)
        cap = node_capacity
        levels = [boxes]          # level 0 = item boxes (in STR order)
        orders = []
        cur = boxes
        idx = np.arange(len(boxes))
        # STR pack: sort by cx into vertical slices, then by cy within slice.
        cx = (boxes[:, 0] + boxes[:, 2]) / 2.0
        cy = (boxes[:, 1] + boxes[:, 3]) / 2.0
        nslices = max(1, int(np.ceil(np.sqrt(len(boxes) / cap))))
        order = np.lexsort((cy, np.floor(np.argsort(np.argsort(cx)) / max(1, int(np.ceil(len(boxes) / nslices)))),))
        self.item_order = idx[order]
        cur = boxes[order]
        levels[0] = cur
        # Build parent levels by grouping consecutive `cap` boxes.
        while len(cur) > cap:
            ng = int(np.ceil(len(cur) / cap))
            pad = ng * cap - len(cur)
            if pad:
                padded = np.vstack([cur, np.repeat(cur[-1:], pad, axis=0)])
            else:
                padded = cur
            g = padded.reshape(ng, cap, 4)
            parent = np.empty((ng, 4))
            parent[:, 0] = g[:, :, 0].min(axis=1)
            parent[:, 1] = g[:, :, 1].min(axis=1)
            parent[:, 2] = g[:, :, 2].max(axis=1)
            parent[:, 3] = g[:, :, 3].max(axis=1)
            levels.append(parent)
            cur = parent
        self.levels = levels
        self.cap = cap
        del orders

    def query_point(self, px: float, py: float) -> np.ndarray:
        """Item indices whose boxes contain the point (original indexing)."""
        return self.query_box(px, py, px, py)

    def query_box(self, qx0: float, qy0: float, qx1: float, qy1: float) -> np.ndarray:
        """Item indices whose boxes intersect the query box."""
        top = len(self.levels) - 1
        nodes = np.arange(len(self.levels[top]))
        for lvl in range(top, 0, -1):
            b = self.levels[lvl][nodes]
            hit = (b[:, 0] <= qx1) & (b[:, 2] >= qx0) & (b[:, 1] <= qy1) & (b[:, 3] >= qy0)
            nodes = nodes[hit]
            # expand to children at lvl-1
            nchild = len(self.levels[lvl - 1])
            kids = (nodes[:, None] * self.cap + np.arange(self.cap)[None, :]).ravel()
            nodes = kids[kids < nchild]
            if len(nodes) == 0:
                return np.empty(0, dtype=np.int64)
        b = self.levels[0][nodes]
        hit = (b[:, 0] <= qx1) & (b[:, 2] >= qx0) & (b[:, 1] <= qy1) & (b[:, 3] >= qy0)
        return self.item_order[nodes[hit]]


class PolygonIndex:
    """Broadcast-able bundle: polygon rings + bboxes + STR R-tree.

    `probe(px, py)` returns, for a batch of points, (point_idx, poly_idx)
    pairs after exact PIP — the inner kernel of the engine's spatial join.
    """

    def __init__(self, unit_ids, rings_x, rings_y):
        self.unit_ids = np.asarray(unit_ids, dtype=np.int64)
        self.rings_x = [np.asarray(r, dtype=np.float64) for r in rings_x]
        self.rings_y = [np.asarray(r, dtype=np.float64) for r in rings_y]
        self.boxes = np.array(
            [[rx.min(), ry.min(), rx.max(), ry.max()] for rx, ry in zip(self.rings_x, self.rings_y)]
        ).reshape(-1, 4)
        self.tree = STRtree(self.boxes)

    def probe(self, px: np.ndarray, py: np.ndarray):
        """Vectorized per-polygon: candidates by bbox, exact by ray cast.

        Each point belongs to at most one unit (GEE's tiling semantics,
        where each pixel belongs to one stratum): the lowest unit_id wins
        ties on shared borders — a fixed, documented tie-break so join
        output is row-for-row deterministic.
        Returns (point_indices, unit_ids).
        """
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        assigned = np.full(len(px), -1, dtype=np.int64)
        for k in np.argsort(self.unit_ids, kind="stable"):
            b = self.boxes[k]
            cand = (assigned < 0) & (px >= b[0]) & (px <= b[2]) & (py >= b[1]) & (py <= b[3])
            ci = np.flatnonzero(cand)
            if len(ci) == 0:
                continue
            hit = points_in_polygon(px[ci], py[ci], self.rings_x[k], self.rings_y[k])
            assigned[ci[hit]] = self.unit_ids[k]
        pi = np.flatnonzero(assigned >= 0)
        return pi, assigned[pi]
