"""Hierarchical cell grid: H3/S2-style int64 cell ids, from scratch.

The reference (sig-gis/kaza-lcms) never exposes its pixel grid — Google
Earth Engine hides it behind ``scale=10, crs='EPSG:32734'`` request
parameters (reference: src/utils/exports.py:15, src/02train_test.py:132-133)
and ``tileScale`` parallelism hints (src/utils/sampling.py:152,179).
Our engine makes the grid explicit: every point/footprint/polygon is keyed
by a Morton-interleaved quadtree cell id, which serves as

* the shuffle/join key of the two-phase spatial join (coarse prefilter),
* the partition key of persisted tables (partition pruning from AOI),
* the salting unit for skewed border/river cells,
* the ``reproject``-style re-gridding primitive (parent() is an int shift,
  re-grounding GEE reproject at coarser scale, src/utils/s2process.py:62,87).

Layout of a cell id (int64, always positive):
    bits [63..60]  zero (sign safety + headroom)
    bits [59..5]   Morton code: interleaved (y,x) quantized bits,
                   x = lon mapped [-180,180) -> [0, 2^level),
                   y = lat mapped [-90,90)   -> [0, 2^level)
    bits [4..0]    level (0..27)

At level L the Morton code occupies 2*L bits; higher levels = finer cells.
Level 27 gives ~2.4 m lon resolution at the equator — finer than the
reference's 10 m working scale (src/00sample_pts.py:26).

All functions are vectorized over numpy arrays and allocation-conscious:
they are called per Arrow batch inside pandas UDFs.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 27
_LEVEL_BITS = 5
_LEVEL_MASK = np.uint64((1 << _LEVEL_BITS) - 1)

# Bit-spreading magic constants (public-domain "interleave by magic numbers"
# technique, Stanford bit-twiddling hacks), widened to 64-bit.
_B = [
    np.uint64(0x0000FFFF0000FFFF),
    np.uint64(0x00FF00FF00FF00FF),
    np.uint64(0x0F0F0F0F0F0F0F0F),
    np.uint64(0x3333333333333333),
    np.uint64(0x5555555555555555),
]
_S = [np.uint64(16), np.uint64(8), np.uint64(4), np.uint64(2), np.uint64(1)]


def _spread_bits(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of each uint64 so bit i moves to bit 2*i."""
    v = v.astype(np.uint64, copy=True)
    v &= np.uint64(0xFFFFFFFF)
    v = (v | (v << _S[0])) & _B[0]
    v = (v | (v << _S[1])) & _B[1]
    v = (v | (v << _S[2])) & _B[2]
    v = (v | (v << _S[3])) & _B[3]
    v = (v | (v << _S[4])) & _B[4]
    return v


def _squash_bits(v: np.ndarray) -> np.ndarray:
    """Inverse of _spread_bits: keep even bits, pack them down."""
    v = v.astype(np.uint64, copy=True)
    v &= _B[4]
    v = (v | (v >> _S[4])) & _B[3]
    v = (v | (v >> _S[3])) & _B[2]
    v = (v | (v >> _S[2])) & _B[1]
    v = (v | (v >> _S[1])) & _B[0]
    v = (v | (v >> _S[0])) & np.uint64(0xFFFFFFFF)
    return v


def lonlat_to_ixiy(lon, lat, level: int):
    """Quantize lon/lat to integer grid coords at `level` (vectorized)."""
    n = np.uint64(1) << np.uint64(level)
    nf = float(1 << level)
    ix = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * nf)
    iy = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * nf)
    ix = np.clip(ix, 0, nf - 1).astype(np.uint64)
    iy = np.clip(iy, 0, nf - 1).astype(np.uint64)
    del n
    return ix, iy


def encode_ixiy(ix, iy, level: int) -> np.ndarray:
    """(ix, iy, level) -> int64 cell id."""
    morton = _spread_bits(np.asarray(ix, dtype=np.uint64)) | (
        _spread_bits(np.asarray(iy, dtype=np.uint64)) << np.uint64(1)
    )
    cid = (morton << np.uint64(_LEVEL_BITS)) | np.uint64(level)
    return cid.astype(np.int64)


def encode(lon, lat, level: int) -> np.ndarray:
    """lon/lat arrays -> int64 cell ids at `level`."""
    if not (0 <= level <= MAX_LEVEL):
        raise ValueError(f"level must be in [0, {MAX_LEVEL}], got {level}")
    ix, iy = lonlat_to_ixiy(lon, lat, level)
    return encode_ixiy(ix, iy, level)


def decode_ixiy(cell_id) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell ids -> (ix, iy, level) arrays."""
    c = np.asarray(cell_id, dtype=np.int64).astype(np.uint64)
    level = (c & _LEVEL_MASK).astype(np.int64)
    morton = c >> np.uint64(_LEVEL_BITS)
    ix = _squash_bits(morton).astype(np.int64)
    iy = _squash_bits(morton >> np.uint64(1)).astype(np.int64)
    return ix, iy, level


def cell_bounds(cell_id) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """cell ids -> (min_lon, min_lat, max_lon, max_lat) arrays."""
    ix, iy, level = decode_ixiy(cell_id)
    w = 360.0 / (np.power(2.0, level))
    h = 180.0 / (np.power(2.0, level))
    min_lon = -180.0 + ix * w
    min_lat = -90.0 + iy * h
    return min_lon, min_lat, min_lon + w, min_lat + h


def cell_center(cell_id) -> tuple[np.ndarray, np.ndarray]:
    x0, y0, x1, y1 = cell_bounds(cell_id)
    return (x0 + x1) / 2.0, (y0 + y1) / 2.0


def parent(cell_id, parent_level: int) -> np.ndarray:
    """Re-key cells to a coarser level — a pure integer shift.

    This is the engine's `reproject(crs, coarser_scale)` analog
    (reference: src/utils/s2process.py:62,87 forces a 100 m / 20 m grid).
    """
    c = np.asarray(cell_id, dtype=np.int64).astype(np.uint64)
    level = (c & _LEVEL_MASK).astype(np.int64)
    if np.any(level < parent_level):
        raise ValueError("parent_level must be <= cell level")
    morton = c >> np.uint64(_LEVEL_BITS)
    shift = (2 * (level - parent_level)).astype(np.uint64)
    pm = morton >> shift
    return ((pm << np.uint64(_LEVEL_BITS)) | np.uint64(parent_level)).astype(np.int64)


def children(cell_id: int) -> np.ndarray:
    """The 4 children of a single cell id (scalar in, array out)."""
    c = np.uint64(np.int64(cell_id))
    level = int(c & _LEVEL_MASK)
    morton = c >> np.uint64(_LEVEL_BITS)
    base = morton << np.uint64(2)
    kids = (base + np.arange(4, dtype=np.uint64)) << np.uint64(_LEVEL_BITS)
    return (kids | np.uint64(level + 1)).astype(np.int64)


def neighbors(cell_id, include_self: bool = True) -> np.ndarray:
    """3x3 neighborhood (disk radius 1) of each cell, same level.

    Returns shape (n, 9) (or (n, 8) without self). Edge cells clamp —
    out-of-range neighbors are duplicated onto the edge cell, callers
    dedupe. Used for halo construction in the distance join / thinning
    (reference analog: ee.Join.saveAll withinDistance,
    src/utils/sampling.py:12-28) and focal ops.
    """
    ix, iy, level = decode_ixiy(cell_id)
    n = (np.int64(1) << level.astype(np.int64)) - 1
    offs = [(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1) if include_self or (dx, dy) != (0, 0)]
    cols = []
    for dx, dy in offs:
        nx = np.clip(ix + dx, 0, n).astype(np.uint64)
        ny = np.clip(iy + dy, 0, n).astype(np.uint64)
        cols.append(encode_ixiy(nx, ny, 0) | np.asarray(level, np.int64))
    # encode_ixiy stamped level 0; OR the true per-row level in (levels <32).
    return np.stack(cols, axis=1)


def cover_bbox(minx: float, miny: float, maxx: float, maxy: float, level: int) -> np.ndarray:
    """All cell ids at `level` whose bounds intersect the bbox.

    Driver-side plan construction: AOI bbox -> partition-pruning IN-list
    (reference analog: filterBounds pre-scan, src/utils/s2process.py:18).
    """
    ix0, iy0 = lonlat_to_ixiy(minx, miny, level)
    ix1, iy1 = lonlat_to_ixiy(np.nextafter(maxx, -np.inf), np.nextafter(maxy, -np.inf), level)
    ix0, iy0, ix1, iy1 = int(ix0), int(iy0), int(ix1), int(iy1)
    xs = np.arange(ix0, ix1 + 1, dtype=np.uint64)
    ys = np.arange(iy0, iy1 + 1, dtype=np.uint64)
    gx, gy = np.meshgrid(xs, ys)
    return encode_ixiy(gx.ravel(), gy.ravel(), level)


#: a coordinate within a few ulps of a cell edge may quantize to either
#: side of it (lonlat_to_ixiy and cell_bounds round differently), so a
#: cover classifies each cell's rect grown by this margin (degrees): then
#: every point the quantizer puts in a cell that the polygon holds is in
#: the cover, and no point on or outside the ring is in an INSIDE cell
_EDGE_SLACK = 1e-9


def cover_polygon(xs: np.ndarray, ys: np.ndarray, level: int):
    """(cell ids, inside) at `level`: the cells a polygon reaches, and
    whether the polygon holds each one whole.

    Two-stage: bbox cover, then each cell's rect (grown by _EDGE_SLACK)
    is classified against the ring (geom.classify_rects); cells that
    provably miss the polygon are dropped. Over-approximation is safe —
    the exact PIP stage of the spatial join filters the rest.
    """
    from . import geom

    e = _EDGE_SLACK
    cand = cover_bbox(float(xs.min()) - e, float(ys.min()) - e,
                      float(xs.max()) + e, float(ys.max()) + e, level)
    x0, y0, x1, y1 = cell_bounds(cand)
    cls = geom.classify_rects(x0 - e, y0 - e, x1 + e, y1 + e, xs, ys)
    keep = cls != geom.OUTSIDE
    return cand[keep], cls[keep] == geom.INSIDE
