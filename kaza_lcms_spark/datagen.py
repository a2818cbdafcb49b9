"""Deterministic synthetic KAZA fixtures (FIXTURES.md).

Generates, with no external data and a fixed seed, the tables the engine's
tests and bench run against:

* ``images``  — the north-rule input table, exact shape from
  BASELINE.json::input_hint: (image_id:string, bytes:binary, w:int32,
  h:int32, fmt:string, caption:string, phash:int64). The footprint is NOT
  a column — per FIXTURES.md it derives deterministically from
  hash(image_id), re-derived inside the engine's cell-encode UDF
  (operators/spatial_join.py) so the table stays contract-shaped.
* ``aoi_polygons`` — KAZA AOI/stratification units (reference analog:
  ee.FeatureCollection AOIs, /root/reference/src/01composite_s2.py:78):
  adjacent convex polygons tiling the KAZA bbox with shared borders.
* ``ref_polygons`` — small labeled polygons for stratified sampling
  (/root/reference/src/02train_test.py:128).
* ``landcover_cells`` — categorical raster as a cell table with covariate
  bands (/root/reference/src/00sample_pts.py:184), spatially autocorrelated
  8-class strata per /root/reference/src/misc/strata.py:12-21.

Skew injection: ~30% of image centers concentrate along two synthetic
"river"/"border" polylines → hot cells, exercising the salting/AQE path
(BASELINE.json::north_rule).

Everything is pyarrow-written parquet; generation is vectorized numpy and
cached on disk keyed by (version, n).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .kernels import codec, rand

DATAGEN_VERSION = 5
SEED = 90210  # the reference's sampling seed, src/utils/sampling.py:175

# KAZA bbox (FIXTURES.md): lon in [18, 27], lat in [-20.5, -13.5]
LON0, LON1 = 18.0, 27.0
LAT0, LAT1 = -20.5, -13.5

COUNTRIES = ["Angola", "Botswana", "Namibia", "Zambia", "Zimbabwe"]
UNIT_NAMES = [
    "Zambezi", "Mufunta", "Binga", "Hwange", "Chobe", "Kwando",
    "Luengue", "Mavinga", "Sioma", "Kafue", "Matetsi", "Simalaha",
]
LC_WORDS = ["bare", "built", "crop", "forest", "grass", "shrub", "water", "wetland"]
FEAT_WORDS = ["river", "border", "floodplain", "ridge", "pan", "woodland", "delta", "escarpment"]

# Two skew polylines: a "river" and a "border" (lon, lat vertices).
RIVER = np.array([[18.5, -17.8], [20.5, -17.5], [23.0, -17.9], [25.5, -17.7], [26.8, -18.1]])
BORDER = np.array([[21.0, -13.8], [21.2, -16.0], [23.5, -18.2], [24.0, -20.3]])


# ---------------------------------------------------------------- footprints

def footprint_from_ids(idx: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic image-center (lon, lat) from integer image index.

    ~70% uniform over the KAZA bbox; ~30% clustered along RIVER/BORDER
    polylines (hot cells). Pure function of the index — callable both at
    datagen time and inside the engine's footprint UDF.
    """
    idx = np.asarray(idx, dtype=np.int64)
    # two hash calls, four 26-bit uniforms (halves memory passes — this
    # kernel runs per image row on the flagship hot path)
    inv26 = 1.0 / float(1 << 26)
    mask26 = np.uint64((1 << 26) - 1)
    h1 = rand.hash_u64(idx, SEED + 1)
    h2 = rand.hash_u64(idx, SEED + 2)
    u_sel = (h1 >> np.uint64(38)).astype(np.float64) * inv26
    u1 = (h1 & mask26).astype(np.float64) * inv26
    u2 = (h2 >> np.uint64(38)).astype(np.float64) * inv26
    u3 = (h2 & mask26).astype(np.float64) * inv26

    lon = LON0 + u1 * (LON1 - LON0)
    lat = LAT0 + u2 * (LAT1 - LAT0)

    for sel_lo, sel_hi, line in ((0.70, 0.85, RIVER), (0.85, 1.00, BORDER)):
        m = (u_sel >= sel_lo) & (u_sel < sel_hi)
        if not m.any():
            continue
        # position along polyline by arc-length parameter u1, jitter by u2/u3
        seg = np.diff(line, axis=0)
        seglen = np.hypot(seg[:, 0], seg[:, 1])
        cum = np.concatenate([[0.0], np.cumsum(seglen)])
        t = u1[m] * cum[-1]
        si = np.clip(np.searchsorted(cum, t, side="right") - 1, 0, len(seg) - 1)
        frac = (t - cum[si]) / seglen[si]
        px = line[si, 0] + frac * seg[si, 0]
        py = line[si, 1] + frac * seg[si, 1]
        # tight gaussian-ish perpendicular jitter (Box-Muller from uniforms)
        r = np.sqrt(-2.0 * np.log(np.clip(u2[m], 1e-12, 1.0))) * 0.03
        th = 2.0 * np.pi * u3[m]
        lon[m] = np.clip(px + r * np.cos(th), LON0, LON1)
        lat[m] = np.clip(py + r * np.sin(th), LAT0, LAT1)
    return lon, lat


# ------------------------------------------------------------------- images

_SIZES = np.array([16, 32, 64])


def _gen_pixel_batch(idx: np.ndarray, size: int) -> np.ndarray:
    """(n, size, size) uint8: smooth gradient + blocky texture, per image."""
    n = len(idx)
    a = (rand.uniform(idx, SEED + 10) * 4.0 - 2.0)[:, None, None]
    b = (rand.uniform(idx, SEED + 11) * 4.0 - 2.0)[:, None, None]
    c = (rand.uniform(idx, SEED + 12) * 255.0)[:, None, None]
    yy, xx = np.mgrid[0:size, 0:size].astype(np.float64)
    img = a * xx[None] + b * yy[None] + c
    # blocky 4x4 texture keyed by image id (keeps RLE runs long)
    blk = (rand.hash_u64(idx[:, None, None] * 64 + (yy[None] // 4) * 8 + xx[None] // 4, SEED + 13)
           % np.uint64(32)).astype(np.float64)
    img = np.clip(img + blk * 2.0, 0, 255)
    return img.astype(np.uint8)


def generate_images(n: int, chunk: int = 100_000) -> pa.Table:
    """Chunked to bound peak memory: pixel stacks for 100k 64×64 images
    are ~2.5 GB; generating 10⁶+ images in one batch would hold tens of
    GB of float64 intermediates."""
    if n > chunk:
        parts = [_generate_images_chunk(np.arange(s, min(n, s + chunk), dtype=np.int64))
                 for s in range(0, n, chunk)]
        return pa.concat_tables(parts)
    return _generate_images_chunk(np.arange(n, dtype=np.int64))


def _generate_images_chunk(idx: np.ndarray) -> pa.Table:
    n = len(idx)
    image_id = np.array([f"img_{i:012d}" for i in idx])
    u_size = rand.uniform(idx, SEED + 20)
    size = _SIZES[np.minimum((u_size * 3).astype(int), 2)]
    u_fmt = rand.uniform(idx, SEED + 21)
    fmt = np.where(u_fmt < 0.70, "raw", np.where(u_fmt < 0.90, "rle", "quant"))

    lc = (rand.hash_u64(idx, SEED + 22) % np.uint64(8)).astype(int)
    fw = (rand.hash_u64(idx, SEED + 23) % np.uint64(8)).astype(int)
    caption = np.array([
        f"{LC_WORDS[lc[j]]} near {FEAT_WORDS[fw[j]]} tile {i}"
        for j, i in enumerate(idx)
    ])

    blobs: list[bytes | None] = [None] * n
    phash = np.zeros(n, dtype=np.int64)
    for s in _SIZES:
        sel = np.flatnonzero(size == s)
        if len(sel) == 0:
            continue
        px = _gen_pixel_batch(idx[sel], int(s))
        phash[sel] = codec.phash64_batch(px)
        for j, k in enumerate(sel):
            blobs[k] = codec.encode(px[j], str(fmt[k]))

    return pa.table({
        "image_id": pa.array(image_id, pa.string()),
        "bytes": pa.array(blobs, pa.binary()),
        "w": pa.array(size.astype(np.int32), pa.int32()),
        "h": pa.array(size.astype(np.int32), pa.int32()),
        "fmt": pa.array(fmt, pa.string()),
        "caption": pa.array(caption, pa.string()),
        "phash": pa.array(phash, pa.int64()),
    })


# ----------------------------------------------------------------- polygons

def _jitter_lattice(nx: int, ny: int, seed_off: int) -> tuple[np.ndarray, np.ndarray]:
    """(nx+1, ny+1) lattice of corner points over the bbox, interior corners
    jittered — cells share corners, so adjacent polygons share borders."""
    gx = np.linspace(LON0, LON1, nx + 1)
    gy = np.linspace(LAT0, LAT1, ny + 1)
    X, Y = np.meshgrid(gx, gy, indexing="ij")
    key = (np.arange((nx + 1) * (ny + 1), dtype=np.int64)).reshape(nx + 1, ny + 1)
    jx = (rand.uniform(key, SEED + seed_off) - 0.5) * 0.25 * (gx[1] - gx[0])
    jy = (rand.uniform(key, SEED + seed_off + 1) - 0.5) * 0.25 * (gy[1] - gy[0])
    jx[0, :] = jx[-1, :] = 0.0
    jy[:, 0] = jy[:, -1] = 0.0
    return X + jx, Y + jy


def generate_aoi_polygons(nx: int = 4, ny: int = 3) -> pa.Table:
    """12 adjacent convex quads (edge midpoints added → 8 vertices each)."""
    X, Y = _jitter_lattice(nx, ny, 30)
    rows = []
    uid = 0
    for i in range(nx):
        for j in range(ny):
            uid += 1
            cx = [X[i, j], X[i + 1, j], X[i + 1, j + 1], X[i, j + 1]]
            cy = [Y[i, j], Y[i + 1, j], Y[i + 1, j + 1], Y[i, j + 1]]
            xs, ys = [], []
            for k in range(4):
                k2 = (k + 1) % 4
                xs += [cx[k], (cx[k] + cx[k2]) / 2.0]
                ys += [cy[k], (cy[k] + cy[k2]) / 2.0]
            rows.append({
                "unit_id": uid,
                "country": COUNTRIES[(uid - 1) % len(COUNTRIES)],
                "name": UNIT_NAMES[(uid - 1) % len(UNIT_NAMES)],
                "ring_xs": xs,
                "ring_ys": ys,
                "bbox": [min(xs), min(ys), max(xs), max(ys)],
            })
    return pa.table({
        "unit_id": pa.array([r["unit_id"] for r in rows], pa.int32()),
        "country": pa.array([r["country"] for r in rows], pa.string()),
        "name": pa.array([r["name"] for r in rows], pa.string()),
        "ring_xs": pa.array([r["ring_xs"] for r in rows], pa.list_(pa.float64())),
        "ring_ys": pa.array([r["ring_ys"] for r in rows], pa.list_(pa.float64())),
        "bbox": pa.array([r["bbox"] for r in rows], pa.list_(pa.float64())),
    })


def generate_ref_polygons(n: int = 200) -> pa.Table:
    """Small labeled hexagons: stratified-sampling fixtures with LANDCOVER."""
    idx = np.arange(n, dtype=np.int64)
    cx = LON0 + rand.uniform(idx, SEED + 40) * (LON1 - LON0)
    cy = LAT0 + rand.uniform(idx, SEED + 41) * (LAT1 - LAT0)
    r = 0.02 + rand.uniform(idx, SEED + 42) * 0.08
    lc = (rand.hash_u64(idx, SEED + 43) % np.uint64(8)).astype(np.int32) + 1
    ang = np.arange(6) * (np.pi / 3.0)
    xs = cx[:, None] + r[:, None] * np.cos(ang)[None, :]
    ys = cy[:, None] + r[:, None] * np.sin(ang)[None, :]
    return pa.table({
        "unit_id": pa.array(idx.astype(np.int32) + 1, pa.int32()),
        "LANDCOVER": pa.array(lc, pa.int32()),
        "ring_xs": pa.array(xs.tolist(), pa.list_(pa.float64())),
        "ring_ys": pa.array(ys.tolist(), pa.list_(pa.float64())),
        "bbox": pa.array(np.stack([xs.min(1), ys.min(1), xs.max(1), ys.max(1)], 1).tolist(),
                         pa.list_(pa.float64())),
    })


# ------------------------------------------------------------ landcover grid

def generate_landcover_cells(level: int = 12) -> pa.Table:
    """Cell table over the KAZA bbox at `level`: blocky LANDCOVER strata
    (class = hash of the level-8 parent → spatial autocorrelation, imbalanced
    frequencies) + 6 covariate bands (smooth fields + class offsets)."""
    from .kernels import grid

    cells = grid.cover_bbox(LON0, LAT0, LON1, LAT1, level)
    lon, lat = grid.cell_center(cells)
    parent8 = grid.parent(cells, 8)
    # imbalanced classes: squared uniform skews mass toward low classes
    u = rand.uniform(parent8, SEED + 50)
    lc = np.minimum((u * u * 8).astype(np.int32) + 1, 8)
    t = {}
    for k, band in enumerate(["blue", "green", "red", "nir", "swir1", "swir2"]):
        field = (
            0.4 * np.sin(lon * (0.7 + 0.13 * k)) + 0.4 * np.cos(lat * (0.9 + 0.11 * k))
            + 0.05 * rand.uniform(cells, SEED + 60 + k)
        )
        t[band] = field + 0.08 * (lc * (1 + (k % 3)))
    return pa.table({
        "cell_id": pa.array(cells, pa.int64()),
        "lon": pa.array(lon, pa.float64()),
        "lat": pa.array(lat, pa.float64()),
        "LANDCOVER": pa.array(lc, pa.int32()),
        **{k: pa.array(v, pa.float64()) for k, v in t.items()},
    })


# --------------------------------------------------------- S2-like timeseries

def generate_s2_timeseries(level: int = 13, n_dates: int = 24,
                           bbox: tuple[float, float, float, float] =
                           (20.0, -19.0, 22.0, -17.0)) -> pa.Table:
    """Sentinel-2-like per-cell time series (reference scan analog:
    COPERNICUS/S2_SR collection, /root/reference/src/utils/s2process.py:17-25):
    (cell_id, ix, iy, ts, doy, blue..swir2, cloud_prob).

    Ground truth per cell = smooth base field + seasonal harmonic
    (amplitude/phase vary per band); cloudy observations (cloud_prob>60,
    spatially blobby per date) are *corrupted* (+brightening) so the
    engine's mask pipeline must remove them to recover clean composites —
    the semantic test of 01composite_s2.
    """
    from .kernels import grid

    cells = grid.cover_bbox(*bbox, level)
    lon, lat = grid.cell_center(cells)
    ix, iy, _ = grid.decode_ixiy(cells)
    n = len(cells)

    dates = np.array([np.datetime64("2023-01-05") + np.timedelta64(int(round(i * 365 / 12)), "D")
                      for i in range(n_dates)])
    doy = ((dates - dates.astype("datetime64[Y]").astype("datetime64[D]"))
           .astype(int) + 1)

    rows = {k: [] for k in ["cell_id", "ix", "iy", "ts", "doy", "cloud_prob",
                            "blue", "green", "red", "nir", "swir1", "swir2"]}
    for d_i, (d, dy) in enumerate(zip(dates, doy)):
        # blobby cloud field per date: coarse-parent hash + date
        parent = grid.parent(cells, level - 3)
        cp = rand.uniform(parent ^ np.int64(d_i * 1315423911), SEED + 70) * 100.0
        cloudy = cp > 60.0
        t = dy / 365.0
        rows["cell_id"].append(cells)
        rows["ix"].append(ix); rows["iy"].append(iy)
        rows["ts"].append(np.full(n, d))
        rows["doy"].append(np.full(n, dy, dtype=np.int32))
        rows["cloud_prob"].append(cp)
        for k, band in enumerate(["blue", "green", "red", "nir", "swir1", "swir2"]):
            base = 0.3 + 0.2 * np.sin(lon * (0.9 + 0.1 * k)) * np.cos(lat * 1.1)
            amp = 0.05 + 0.02 * k
            phase = 0.1 * k
            v = base + amp * np.cos(2 * np.pi * (t - phase)) \
                + 0.01 * (rand.uniform(cells ^ np.int64(d_i * 2654435761 + k), SEED + 80) - 0.5)
            v = v + cloudy * (1.0 + 0.05 * k)          # cloud brightening
            rows[band].append(v)
    out = {}
    for k, parts in rows.items():
        arr = np.concatenate(parts)
        if k == "ts":
            out[k] = pa.array(arr.astype("datetime64[us]"))
        elif k in ("cell_id", "ix", "iy"):
            out[k] = pa.array(arr.astype(np.int64), pa.int64())
        elif k == "doy":
            out[k] = pa.array(arr.astype(np.int32), pa.int32())
        else:
            out[k] = pa.array(arr.astype(np.float64), pa.float64())
    return pa.table(out)


# ---------------------------------------------------------------- ensure/IO

def ensure_fixtures(n_images: int, root: str | None = None, lc_level: int = 12) -> str:
    """Write all fixture tables under root/ (cached by version+params)."""
    root = root or os.environ.get("KAZA_FIXTURE_DIR", "/root/repo/.fixtures")
    out = os.path.join(root, f"v{DATAGEN_VERSION}_n{n_images}_l{lc_level}")
    stamp = os.path.join(out, "_DONE.json")
    if os.path.exists(stamp):
        # backfill tables added after the cache was built (same version)
        s2 = os.path.join(out, "s2_timeseries.parquet")
        if not os.path.exists(s2):
            pq.write_table(generate_s2_timeseries(), s2)
        return out
    os.makedirs(out, exist_ok=True)
    pq.write_table(generate_images(n_images), os.path.join(out, "images.parquet"),
                   row_group_size=max(4096, n_images // 64))
    pq.write_table(generate_aoi_polygons(), os.path.join(out, "aoi_polygons.parquet"))
    pq.write_table(generate_ref_polygons(), os.path.join(out, "ref_polygons.parquet"))
    pq.write_table(generate_landcover_cells(lc_level), os.path.join(out, "landcover_cells.parquet"))
    pq.write_table(generate_s2_timeseries(), os.path.join(out, "s2_timeseries.parquet"))
    with open(stamp, "w") as f:
        json.dump({"version": DATAGEN_VERSION, "n_images": n_images, "lc_level": lc_level}, f)
    return out
