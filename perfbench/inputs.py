"""Seeded benchmark inputs, generated with the engine's ``datagen`` module
and cached on disk by (seed, size).

The seed picks:

* the image-id range of the corpus (footprints, phashes and captions are
  pure functions of the id, so a new range moves the footprints and the
  hot river/border cells while keeping their statistics);
* the S2 time-series bbox of the land-cover probes. The bbox is drawn until
  its label set has exactly ``LC_CLASSES`` classes with at least
  ``LC_MIN_CELLS`` cells each, so every seed trains the same number of
  per-class forests on the same number of sampled points.

Generation and the numpy oracles are the benchmark's own work; the run
keeps them out of ``setup_s``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from kaza_lcms_spark import datagen
from kaza_lcms_spark.kernels import geom, grid

CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")

#: images per corpus (tile_ingest and cell_neighbors share the corpus)
N_IMAGES = 5_000
#: AOI units: a 3 x 2 lattice (6 units, two catalog commits of <= 4)
AOI_NX, AOI_NY = 3, 2
#: S2 bbox side in degrees and the label-set shape every seed must meet
LC_SIDE_DEG = 1.5
LC_CLASSES = 4
LC_MIN_CELLS = 150
LC_LEVEL = 13
LC_DATES = 24
#: ids stay inside the 12-digit ``img_%012d`` contract
ID_STRIDE = 1_000_000


def _write(table: pa.Table, path: str, **kw) -> str:
    tmp = f"{path}.{os.getpid()}.tmp"
    pq.write_table(table, tmp, **kw)
    os.replace(tmp, path)
    return path


def id_offset(seed: int) -> int:
    return (seed % 100_000) * ID_STRIDE


def images(seed: int, n: int = N_IMAGES) -> str:
    """Contract-shaped images table (with ``bytes``) for ids
    ``[id_offset(seed), id_offset(seed) + n)``."""
    path = os.path.join(CACHE, f"images_s{seed}_n{n}.parquet")
    if not os.path.exists(path):
        os.makedirs(CACHE, exist_ok=True)
        off = id_offset(seed)
        # the chunk generator takes explicit ids; generate_images(n)
        # only covers [0, n)
        t = datagen._generate_images_chunk(np.arange(off, off + n, dtype=np.int64))
        _write(t, path, row_group_size=max(4096, n // 64))
    return path


def aoi_polygons() -> str:
    path = os.path.join(CACHE, f"aoi_polygons_{AOI_NX}x{AOI_NY}.parquet")
    if not os.path.exists(path):
        os.makedirs(CACHE, exist_ok=True)
        _write(datagen.generate_aoi_polygons(AOI_NX, AOI_NY), path)
    return path


def aoi_index() -> geom.PolygonIndex:
    """The AOI units' R-tree, built on the driver from the cached table."""
    t = pq.read_table(aoi_polygons())
    return geom.PolygonIndex(t["unit_id"].to_numpy(),
                             [np.asarray(r) for r in t["ring_xs"].to_pylist()],
                             [np.asarray(r) for r in t["ring_ys"].to_pylist()])


def landcover_cells() -> str:
    path = os.path.join(CACHE, "landcover_cells_l12.parquet")
    if not os.path.exists(path):
        os.makedirs(CACHE, exist_ok=True)
        _write(datagen.generate_landcover_cells(12), path)
    return path


def label_counts(bbox, lc: pa.Table) -> dict[int, int]:
    """Cells per LANDCOVER class the land-cover probes label inside ``bbox``
    (level-13 cells joined to their level-12 parent's class)."""
    ids = lc["cell_id"].to_numpy()
    order = np.argsort(ids)
    cells = grid.cover_bbox(*bbox, LC_LEVEL)
    p12 = grid.parent(cells, 12)
    pos = np.clip(np.searchsorted(ids, p12, sorter=order), 0, len(ids) - 1)
    hit = ids[order[pos]] == p12
    cls = lc["LANDCOVER"].to_numpy()[order[pos[hit]]]
    u, c = np.unique(cls, return_counts=True)
    return {int(a): int(b) for a, b in zip(u, c)}


def landcover_bbox(seed: int) -> tuple[float, float, float, float]:
    lc = pq.read_table(landcover_cells())
    rng = np.random.default_rng(seed)
    for _ in range(10_000):
        x0 = float(rng.uniform(datagen.LON0, datagen.LON1 - LC_SIDE_DEG))
        y0 = float(rng.uniform(datagen.LAT0, datagen.LAT1 - LC_SIDE_DEG))
        bbox = (round(x0, 3), round(y0, 3),
                round(x0 + LC_SIDE_DEG, 3), round(y0 + LC_SIDE_DEG, 3))
        counts = label_counts(bbox, lc)
        if len(counts) == LC_CLASSES and min(counts.values()) >= LC_MIN_CELLS:
            return bbox
    raise RuntimeError(f"no bbox with {LC_CLASSES} classes for seed {seed}")


def landcover(seed: int) -> dict:
    """The land-cover probes' input paths and S2 bbox."""
    ts = os.path.join(CACHE, f"s2_timeseries_s{seed}.parquet")
    meta_path = os.path.join(CACHE, f"landcover_s{seed}.json")
    if not os.path.exists(meta_path):
        bbox = landcover_bbox(seed)
        _write(datagen.generate_s2_timeseries(LC_LEVEL, LC_DATES, bbox), ts)
        meta = {"bbox": list(bbox)}
        tmp = f"{meta_path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, meta_path)
    with open(meta_path) as f:
        meta = json.load(f)
    return {**meta, "s2_timeseries": ts, "landcover_cells": landcover_cells()}
