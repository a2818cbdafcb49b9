"""Vectorized numpy geometry kernel: PIP, areas, distances and the
cell-keyed polygon index.

Re-grounds the reference's ``ee.Geometry`` surface (sig-gis/kaza-lcms):
``.coordinates()`` (src/00sample_pts.py:33), ``.bounds()``
(src/00sample_pts.py:185), ``.buffer(±d)`` (src/01composite_s2.py:98,
src/misc/sentinel1.py:37,150), ``.area()`` (src/misc/pt_calc_disprop.py:24),
and the implicit point-in-polygon semantics of ``sampleRegions`` /
``stratifiedSample(region=...)`` / ``clip`` (src/utils/sampling.py:148-182,
src/misc/sentinel1.py:59).

No shapely/geos in this environment — everything is from-scratch numpy,
designed to run inside Arrow-batched kernels (vectorized over points)
or driver-side (index build, polygon cell cover).
"""

from __future__ import annotations

import numpy as np

from . import grid

EARTH_RADIUS_M = 6_371_008.8
#: grid level of the polygon index's cells. Level 10 cells are ~0.35° —
#: small enough to prune, big enough that polygon covers stay tiny.
COARSE_LEVEL = 10
#: classes of a rect against a polygon (:func:`classify_rects`)
OUTSIDE, BOUNDARY, INSIDE = 0, 1, 2


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


def _closed_run(xs: np.ndarray) -> np.ndarray:
    """A ring's vertices with its last vertex repeated in front, so edge
    e of the ring runs from run[e] to run[e + 1]."""
    return np.concatenate([xs[-1:], xs])


def _even_odd(px, py, vx, vy, first, nedges) -> np.ndarray:
    """Ray-casting PIP of each point k against its own ring: the closed
    run (:func:`_closed_run`) of ``nedges[k]`` edges that starts at
    ``vx/vy[first[k]]``. Points come sorted by ``nedges`` descending, so
    the points whose ring still has an edge e are a prefix; a
    ``first``/``nedges`` of length 1 is one ring for every point.

    Boundary convention: even-odd rule with half-open edges — points exactly
    on a horizontal-crossing boundary resolve deterministically (a point
    shared by two adjacent tiling polygons lands in exactly one), which the
    spatial join's row-for-row determinism requires.
    """
    inside = np.zeros(len(px), dtype=bool)
    desc = -nedges
    xj, yj = vx[first], vy[first]
    # a horizontal edge divides by zero, but never crosses the ray
    with np.errstate(divide="ignore", invalid="ignore"):
        for e in range(int(nedges[0]) if len(nedges) else 0):
            m = len(px) if len(nedges) == 1 else np.searchsorted(desc, -e)
            j = first[:m] + e + 1
            xi, yi, xj, yj = vx[j], vy[j], xj[:m], yj[:m]
            y = py[:m]
            t = (y - yi) / (yj - yi)
            inside[:m] ^= ((yi > y) != (yj > y)) & (px[:m] < xi + t * (xj - xi))
            xj, yj = xi, yi
    return inside


def points_in_polygon(px: np.ndarray, py: np.ndarray, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Ray-casting PIP of many points against one polygon: the one-ring
    case of the index's (point, polygon) PIP (:func:`_even_odd`)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    return _even_odd(px.ravel(), py.ravel(),
                     _closed_run(np.asarray(xs, dtype=np.float64)),
                     _closed_run(np.asarray(ys, dtype=np.float64)),
                     np.zeros(1, dtype=np.intp), np.array([len(xs)])).reshape(px.shape)


def classify_rects(
    x0: np.ndarray, y0: np.ndarray, x1: np.ndarray, y1: np.ndarray,
    xs: np.ndarray, ys: np.ndarray,
) -> np.ndarray:
    """OUTSIDE, BOUNDARY or INSIDE for each closed rect [x0,x1]x[y0,y1]
    against a polygon ring (driver-side: polygon -> cell cover).

    BOUNDARY when some ring edge meets the rect: their bboxes overlap
    and the rect's corners are not all strictly on one side of the
    edge's line (the separating axes of two convex sets). Otherwise the
    rect is wholly inside or wholly outside the ring, and one corner's
    PIP tells which. Vectorized over (edge, rect) pairs, in edge blocks
    of at most ~2^20 pairs.
    """
    x0, y0, x1, y1 = (np.atleast_1d(np.asarray(a, dtype=np.float64))
                      for a in (x0, y0, x1, y1))
    xs = np.asarray(xs, dtype=np.float64)[:, None]
    ys = np.asarray(ys, dtype=np.float64)[:, None]
    ex, ey = np.roll(xs, -1, axis=0), np.roll(ys, -1, axis=0)
    meets = np.zeros(len(x0), dtype=bool)
    step = max(1, (1 << 20) // max(len(x0), 1))
    for s in range(0, len(xs), step):
        ax, ay, bx, by = xs[s:s + step], ys[s:s + step], ex[s:s + step], ey[s:s + step]
        # the edge's line side of corner (cx, cy) is ty(cy) - tx(cx)
        ty0, ty1 = (bx - ax) * (y0 - ay), (bx - ax) * (y1 - ay)
        tx0, tx1 = (by - ay) * (x0 - ax), (by - ay) * (x1 - ax)
        apart = ((np.minimum(ty0, ty1) > np.maximum(tx0, tx1))
                 | (np.maximum(ty0, ty1) < np.minimum(tx0, tx1)))
        meets |= ((np.minimum(ax, bx) <= x1) & (np.maximum(ax, bx) >= x0)
                  & (np.minimum(ay, by) <= y1) & (np.maximum(ay, by) >= y0)
                  & ~apart).any(axis=0)
    xs, ys = xs[:, 0], ys[:, 0]
    out = np.where(meets, BOUNDARY, OUTSIDE).astype(np.int8)
    free = np.flatnonzero(~meets)
    out[free[points_in_polygon(x0[free], y0[free], xs, ys)]] = INSIDE
    return out


class PolygonIndex:
    """Broadcast-able polygon set keyed on ``COARSE_LEVEL`` grid cells:
    the coarse cover, the candidate lookup and the exact PIP of the
    engine's spatial join in one structure (the physical strategy of the
    reference's sampleRegions / paint / filterBounds raster<->vector
    joins, src/utils/sampling.py:148-153, src/utils/s2process.py:18,172).

    Built once on the driver from the per-polygon covers
    (grid.cover_polygon): a CSR map from each cell of the covers'
    bounding box of cells (row-major, so the lookup is arithmetic; at
    most 2^20 cells at level 10) to its candidate polygons, lowest
    unit_id first, and per cell a flag set when that first candidate
    holds the whole cell. Pure numpy arrays -> cheap to pickle/broadcast.
    """

    def __init__(self, unit_ids, rings_x, rings_y):
        self.unit_ids = np.asarray(unit_ids, dtype=np.int64)
        self.rings_x = [np.asarray(r, dtype=np.float64) for r in rings_x]
        self.rings_y = [np.asarray(r, dtype=np.float64) for r in rings_y]
        none = [np.empty(0)]
        self._nedges = np.array([len(r) for r in self.rings_x], dtype=np.int64)
        self._first = np.cumsum(self._nedges + 1) - (self._nedges + 1)
        self._vx = np.concatenate(none + [_closed_run(r) for r in self.rings_x])
        self._vy = np.concatenate(none + [_closed_run(r) for r in self.rings_y])

        covers = [grid.cover_polygon(rx, ry, COARSE_LEVEL)
                  for rx, ry in zip(self.rings_x, self.rings_y)]
        poly = np.repeat(np.arange(len(covers)), [len(c) for c, _ in covers])
        ix, iy, _ = grid.decode_ixiy(np.concatenate(
            [np.empty(0, np.int64)] + [c for c, _ in covers]))
        inside = np.concatenate([np.empty(0, bool)] + [w for _, w in covers])
        self._ix0, self._iy0 = (int(ix.min()), int(iy.min())) if len(ix) else (0, 0)
        self._w = int(ix.max()) - self._ix0 + 1 if len(ix) else 0
        self._h = int(iy.max()) - self._iy0 + 1 if len(iy) else 0
        cell = (iy - self._iy0) * self._w + (ix - self._ix0)
        order = np.lexsort((poly, self.unit_ids[poly], cell))
        # row w*h is empty: the cell of every point outside the box
        self._offsets = np.searchsorted(cell[order], np.arange(self._w * self._h + 2))
        self._cands = poly[order]
        start = self._offsets[:-1]
        self._whole = np.zeros(len(start), dtype=bool)
        nonempty = self._offsets[1:] > start
        self._whole[nonempty] = inside[order][start[nonempty]]

    def probe(self, px: np.ndarray, py: np.ndarray):
        """Each point's unit: its coarse cell's candidates, then exact PIP.

        Each point belongs to at most one unit (GEE's tiling semantics,
        where each pixel belongs to one stratum): the lowest unit_id wins
        ties on shared borders — a fixed, documented tie-break so join
        output is row-for-row deterministic. Points outside every cover
        find no candidate; points of whole cells take the cell's first
        candidate; the rest run the even-odd PIP against their cell's
        candidates only.
        Returns (point_indices ascending, unit_ids).
        """
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        ix, iy = grid.lonlat_to_ixiy(px, py, COARSE_LEVEL)
        col, row = ix - np.uint64(self._ix0), iy - np.uint64(self._iy0)   # wrap below the box
        cell = np.where((col < self._w) & (row < self._h), row * np.uint64(self._w) + col,
                        self._w * self._h)
        assigned = self._whole[cell]
        unit = np.empty(len(px), dtype=np.int64)
        wp = np.flatnonzero(assigned)
        unit[wp] = self.unit_ids[self._cands[self._offsets[cell[wp]]]]

        # one (point, candidate) pair per candidate of a boundary cell,
        # grouped by point and in unit_id order within a point
        bp = np.flatnonzero(~assigned)
        lo = self._offsets[cell[bp]]
        cnt = self._offsets[cell[bp] + 1] - lo
        pt = np.repeat(bp, cnt)
        poly = self._cands[np.arange(len(pt)) + np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)]
        by_edges = np.argsort(-self._nedges[poly], kind="stable")
        hit = np.empty(len(pt), dtype=bool)
        p = poly[by_edges]
        hit[by_edges] = _even_odd(px[pt[by_edges]], py[pt[by_edges]], self._vx, self._vy,
                                  self._first[p], self._nedges[p])
        pt, poly = pt[hit], poly[hit]
        first = np.flatnonzero(np.diff(pt, prepend=-1))
        assigned[pt[first]] = True
        unit[pt[first]] = self.unit_ids[poly[first]]
        pi = np.flatnonzero(assigned)
        return pi, unit[pi]
