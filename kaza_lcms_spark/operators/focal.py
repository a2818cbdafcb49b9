"""Focal / neighborhood / morphology operators (SURVEY.md §2.7 W1-W6).

Re-grounds sig-gis/kaza-lcms neighborhood ops:
* W1 ``focal_min(2).focal_max(k)`` cloud-mask despeckle+grow
  (src/utils/s2process.py:84-88) → binary erosion/dilation.
* A11/W4 ``reduceNeighborhood(mean/variance)`` + Lee speckle filter
  (src/misc/sentinel1.py:165-205) → focal stats + piecewise blend.
* W2 ``directionalDistanceTransform`` shadow projection
  (src/utils/s2process.py:58-65) → k-step shifted-cell union.
* W5/W6 slope/aspect from DEM (src/utils/covariates.py:209-223,
  src/misc/sentinel1.py:79-143) → central differences over neighbors.

Focal statistics, erosion and dilation are relational offset joins: a
(2r+1)²-offset union on integer grid coords, then one hash-agg keyed by
the home cell. JVM-only, it scales as an equi-join on the cell key;
erosion/dilation reduce to counting set neighbors (sum == window ↔ all;
sum > 0 ↔ any), so they are SQL-replayable for the oracle gate.

The cloud-mask open+grow runs as one halo-tile numpy kernel instead
(:func:`open_grow_tiled`): cells group by a coarse tile, each tile ships
with its halo to applyInPandas for dense sliding-window min/max, and
only home cells are emitted — one shuffle in place of the relational
erode-then-dilate's four, which stays as its tested reference
(:func:`open_grow_mask`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


def _offsets(radius: int) -> list[tuple[int, int]]:
    return [(dx, dy) for dx in range(-radius, radius + 1)
            for dy in range(-radius, radius + 1)]


def focal_agg(cells: DataFrame, value_col: str, radius: int = 1,
              ix_col: str = "ix", iy_col: str = "iy",
              stats: tuple[str, ...] = ("mean", "var"),
              group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Focal mean/variance/sum/count over the (2r+1)² window, relational.
    Cells absent from the table simply don't contribute (GEE masked-pixel
    semantics). ``group_cols`` (e.g. a timestamp) restricts the window to
    the same group — per-image focal ops on a time-series stack."""
    gcols = list(group_cols)
    out = None
    for dx, dy in _offsets(radius):
        nb = cells.select(*gcols,
                          (F.col(ix_col) + dx).alias(ix_col),
                          (F.col(iy_col) + dy).alias(iy_col),
                          F.col(value_col).alias("_v"))
        out = nb if out is None else out.unionByName(nb)
    aggs = []
    if "mean" in stats:
        aggs.append(F.avg("_v").alias(f"focal_mean_{value_col}"))
    if "var" in stats:
        aggs.append(F.var_samp("_v").alias(f"focal_var_{value_col}"))
    if "sum" in stats:
        aggs.append(F.sum("_v").alias(f"focal_sum_{value_col}"))
    if "count" in stats:
        aggs.append(F.count("_v").alias(f"focal_n_{value_col}"))
    nbr = out.groupBy(*gcols, ix_col, iy_col).agg(*aggs)
    return cells.join(nbr, gcols + [ix_col, iy_col], "inner")


def erode(cells: DataFrame, mask_col: str, radius: int = 1,
          ix_col: str = "ix", iy_col: str = "iy",
          group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Binary erosion: mask stays 1 iff ALL (2r+1)² neighbors are set
    (missing cells count as unset). focal_min analog."""
    w = (2 * radius + 1) ** 2
    f = focal_agg(cells.withColumn("_m", F.col(mask_col).cast("double")),
                  "_m", radius, ix_col, iy_col, stats=("sum", "count"),
                  group_cols=group_cols)
    keep = (F.col("focal_sum__m") >= F.lit(float(w))) & (F.col("focal_n__m") == w)
    return f.withColumn(mask_col, keep.cast("int")) \
            .drop("_m", "focal_sum__m", "focal_n__m")


def dilate(cells: DataFrame, mask_col: str, radius: int = 1,
           ix_col: str = "ix", iy_col: str = "iy",
           group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Binary dilation: 1 iff ANY neighbor set. focal_max analog."""
    f = focal_agg(cells.withColumn("_m", F.col(mask_col).cast("double")),
                  "_m", radius, ix_col, iy_col, stats=("sum",),
                  group_cols=group_cols)
    return f.withColumn(mask_col, (F.col("focal_sum__m") > 0).cast("int")) \
            .drop("_m", "focal_sum__m")


def open_grow_mask(cells: DataFrame, mask_col: str,
                   erode_r: int = 1, grow_r: int = 2,
                   group_cols: tuple[str, ...] = ()) -> DataFrame:
    """W1 cloud-mask pipeline: erosion (despeckle) then dilation (grow
    100 m buffer) — reference focal_min(2).focal_max(BUFFER*2/20),
    src/utils/s2process.py:84-88.

    Relational form: 2 × ((2r+1)²-union → hash-agg → join) = 4
    shuffles carrying up to 18× the rows, built from the oracle-gated
    erode/dilate. It is the reference that open_grow_tiled, the plan the
    composite pipeline runs (ONE shuffle), is tested against."""
    return dilate(erode(cells, mask_col, erode_r, group_cols=group_cols),
                  mask_col, grow_r, group_cols=group_cols)


def open_grow_tiled(cells: DataFrame, mask_col: str,
                    erode_r: int = 1, grow_r: int = 2,
                    tile_bits: int = 6,
                    ix_col: str = "ix", iy_col: str = "iy",
                    group_cols: tuple[str, ...] = ()) -> DataFrame:
    """open_grow_mask on the halo-tile strategy: cells tile by
    (ix>>bits, iy>>bits), each row replicates to neighbor tiles within
    halo = erode_r + grow_r (≈1.1× row inflation at tile 64), and one
    applyInPandas per (group, tile) runs dense separable min/max filters
    — erosion then dilation in a single pass, emitting home rows with all
    their original columns. ONE shuffle total versus the relational
    4-shuffle/18×-row plan; identical output (tested).

    Dense semantics match the relational operator exactly: positions
    absent from the table are unset (erosion fails near data edges;
    dilation only propagates from set present cells — an absent position
    can never hold an eroded 1 because its own center value is 0)."""
    halo = erode_r + grow_r
    ts = 1 << tile_bits
    gcols = list(group_cols)

    rep_schema = StructType(
        list(cells.schema.fields)
        + [StructField("tx", LongType()), StructField("ty", LongType())])

    def replicate(it):
        # Emit each row's DISTINCT halo tiles arithmetically instead of 9
        # full copies + drop_duplicates over 9n rows: the distinct tile
        # set of the 3×3 offsets is {X(dx)}×{Y(dy)} with X(±1) ≠ tx only
        # within `halo` of a tile edge — so it's one full home copy plus
        # tiny edge/corner slices (~1.1× rows at tile 64, halo 2), with
        # no dedup pass. Identical (row, tile) pairs as the old emit.
        for b in it:
            if not len(b):
                continue
            ix = b[ix_col].to_numpy()
            iy = b[iy_col].to_numpy()
            tx0, ty0 = ix >> tile_bits, iy >> tile_bits
            home = b.copy()
            home["tx"], home["ty"] = tx0, ty0
            outs = [home]
            xs = {dx: (ix + dx * halo) >> tile_bits for dx in (-1, 1)}
            ys = {dy: (iy + dy * halo) >> tile_bits for dy in (-1, 1)}
            xm = {dx: xs[dx] != tx0 for dx in (-1, 1)}
            ym = {dy: ys[dy] != ty0 for dy in (-1, 1)}
            for dx in (-1, 1):                       # left/right edges
                sel = np.flatnonzero(xm[dx])
                if len(sel):
                    rep = b.iloc[sel].copy()
                    rep["tx"], rep["ty"] = xs[dx][sel], ty0[sel]
                    outs.append(rep)
            for dy in (-1, 1):                       # top/bottom edges
                sel = np.flatnonzero(ym[dy])
                if len(sel):
                    rep = b.iloc[sel].copy()
                    rep["tx"], rep["ty"] = tx0[sel], ys[dy][sel]
                    outs.append(rep)
            for dx in (-1, 1):                       # corners
                for dy in (-1, 1):
                    sel = np.flatnonzero(xm[dx] & ym[dy])
                    if len(sel):
                        rep = b.iloc[sel].copy()
                        rep["tx"], rep["ty"] = xs[dx][sel], ys[dy][sel]
                        outs.append(rep)
            yield pd.concat(outs) if len(outs) > 1 else home

    def _minmax(a: np.ndarray, r: int, op) -> np.ndarray:
        """Separable square min/max filter, zero-padded ('absent = 0')."""
        from numpy.lib.stride_tricks import sliding_window_view
        if r == 0:
            return a
        p = np.pad(a, r, constant_values=0)
        m = op(sliding_window_view(p, 2 * r + 1, axis=0), -1)
        return op(sliding_window_view(m, 2 * r + 1, axis=1), -1)

    out_cols = [f.name for f in cells.schema.fields]

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = key[-2], key[-1]
        x0, y0 = tx * ts - halo, ty * ts - halo
        w = ts + 2 * halo
        ix = pdf[ix_col].to_numpy()
        iy = pdf[iy_col].to_numpy()
        gx, gy = ix - x0, iy - y0
        grid = np.zeros((w, w), dtype=np.uint8)
        grid[gx, gy] = pdf[mask_col].to_numpy().astype(np.uint8)
        opened = _minmax(_minmax(grid, erode_r, np.min), grow_r, np.max)
        home = ((ix >> tile_bits) == tx) & ((iy >> tile_bits) == ty)
        out = pdf.loc[home, [c for c in out_cols if c != mask_col]].copy()
        out[mask_col] = opened[gx[home], gy[home]].astype(np.int32)
        return out[out_cols]

    from ..plans.salting import pin_kernel_partitions
    rep = cells.mapInPandas(replicate, rep_schema)
    return (pin_kernel_partitions(rep, *gcols, "tx", "ty")
            .groupBy(*gcols, "tx", "ty")
            .applyInPandas(kernel, cells.schema))


def directional_transform(cells: DataFrame, mask_col: str,
                          step_x: int, step_y: int, k_steps: int,
                          out_col: str = "shadow",
                          ix_col: str = "ix", iy_col: str = "iy") -> DataFrame:
    """W2 directionalDistanceTransform: project set cells k steps along a
    direction; a cell is flagged iff ANY of the k upstream cells is set.
    Bounded union of k shifted copies + semi-join — no Catalyst analog,
    but still pure relational (src/utils/s2process.py:58-65)."""
    src = cells.where(F.col(mask_col) == 1)
    out = None
    for s in range(1, k_steps + 1):
        sh = src.select((F.col(ix_col) + s * step_x).alias(ix_col),
                        (F.col(iy_col) + s * step_y).alias(iy_col))
        out = sh if out is None else out.unionByName(sh)
    flagged = out.distinct().withColumn(out_col, F.lit(1))
    return (cells.join(flagged, [ix_col, iy_col], "left")
            .fillna(0, [out_col]))


def slope_aspect(cells: DataFrame, z_col: str, cell_size: float = 1.0,
                 ix_col: str = "ix", iy_col: str = "iy") -> DataFrame:
    """W5/W6 terrain: central-difference gradient → slope (radians),
    aspect (radians), eastness/northness (reference
    src/utils/covariates.py:209-223)."""
    base = cells.select(ix_col, iy_col, z_col)
    j = base
    # to hand home cell k its neighbor at k+d, shift the neighbor copy by
    # -d before the equi-join (cell k+d emits join key k)
    for dx, dy, nm in ((-1, 0, "_e"), (1, 0, "_w"), (0, -1, "_n"), (0, 1, "_s")):
        nb = base.select((F.col(ix_col) + dx).alias(ix_col),
                         (F.col(iy_col) + dy).alias(iy_col),
                         F.col(z_col).alias(nm))
        j = j.join(nb, [ix_col, iy_col], "left")
    dzdx = (F.coalesce("_e", F.col(z_col)) - F.coalesce("_w", F.col(z_col))) / (2 * cell_size)
    dzdy = (F.coalesce("_n", F.col(z_col)) - F.coalesce("_s", F.col(z_col))) / (2 * cell_size)
    slope = F.atan(F.sqrt(dzdx * dzdx + dzdy * dzdy))
    aspect = F.atan2(dzdy, -dzdx)
    # flat cells: atan2(±0, −0) sign-of-zero behavior is not portable —
    # pin aspect to 0 (GIS convention for undefined aspect)
    flat = (dzdx == 0.0) & (dzdy == 0.0)
    aspect = F.when(flat, F.lit(0.0)).otherwise(aspect)
    return j.select(
        ix_col, iy_col, z_col, slope.alias("slope"), aspect.alias("aspect"),
        F.sin(aspect).alias("eastness"), F.cos(aspect).alias("northness"))


def terrain_correction(cells: DataFrame, db_col: str, theta_deg_col: str,
                       phi_i_deg: float = 190.0, cell_size: float = 1.0,
                       z_col: str = "z",
                       ix_col: str = "ix", iy_col: str = "iy") -> DataFrame:
    """W5 full Sentinel-1 radiometric terrain correction (volumetric
    model): re-grounds /root/reference/src/misc/sentinel1.py:96-143
    (Vollrath et al. angle algebra) as pure column expressions over the
    slope/aspect grid — JVM-side, SQL-replayable, no Python in the path.

    Per cell with backscatter ``db_col`` (sigma0, dB), incidence angle
    ``theta_deg_col`` (degrees) and DEM ``z_col``:
      phi_r      = phi_i − aspect                   (model geometry)
      alpha_r    = atan(tan(slope)·cos(phi_r))      (range steepness, eq 2)
      alpha_az   = atan(tan(slope)·sin(phi_r))      (azimuth steepness, eq 3)
      theta_lia  = acos(cos(alpha_az)·cos(theta−alpha_r))  (local incidence, eq 4)
      gamma0     = 10^(db/10) / cos(theta)          (flat-earth gamma0)
      volModel   = |tan(90°−theta+alpha_r) / tan(90°−theta)|
      gamma0_vol = gamma0 / volModel                (volumetric correction)
    plus the reference's layover (alpha_r < theta) and shadow
    (theta_lia < 85°) masks."""
    import math
    sa = slope_aspect(cells, z_col, cell_size, ix_col, iy_col) \
        .select(ix_col, iy_col, "slope", "aspect")
    j = cells.join(sa, [ix_col, iy_col])
    d2r = math.pi / 180.0
    theta = F.col(theta_deg_col) * F.lit(d2r)
    phi_r = F.lit(phi_i_deg * d2r) - F.col("aspect")
    alpha_r = F.atan(F.tan(F.col("slope")) * F.cos(phi_r))
    alpha_az = F.atan(F.tan(F.col("slope")) * F.sin(phi_r))
    theta_lia = F.acos(F.cos(alpha_az) * F.cos(theta - alpha_r))
    gamma0 = F.pow(F.lit(10.0), F.col(db_col) / F.lit(10.0)) / F.cos(theta)
    gamma0_db = F.lit(10.0) * F.log10(gamma0)
    ninety = F.lit(math.pi / 2.0)
    vol = F.abs(F.tan(ninety - theta + alpha_r) / F.tan(ninety - theta))
    gamma0_vol_db = F.lit(10.0) * F.log10(gamma0 / vol)
    return j.select(
        ix_col, iy_col,
        gamma0_db.alias("gamma0_db"),
        gamma0_vol_db.alias("gamma0_vol_db"),
        theta_lia.alias("theta_lia"),
        (alpha_r < theta).cast("int").alias("layover"),
        (theta_lia < F.lit(85.0 * d2r)).cast("int").alias("shadow"),
    )


def lee_speckle(cells: DataFrame, band: str, radius: int = 1,
                ix_col: str = "ix", iy_col: str = "iy") -> DataFrame:
    """W4 Lee-style filter: x̂ = mean + k·(x − mean), k = var/(var + mean²·cu²)
    with cu the speckle coefficient of variation (reference blend
    src/misc/sentinel1.py:165-205)."""
    cu2 = 0.523 ** 2
    f = focal_agg(cells, band, radius, ix_col, iy_col, stats=("mean", "var"))
    m, v = F.col(f"focal_mean_{band}"), F.coalesce(F.col(f"focal_var_{band}"), F.lit(0.0))
    k = v / (v + m * m * F.lit(cu2) + F.lit(1e-12))
    return f.withColumn(f"{band}_lee", m + k * (F.col(band) - m)) \
            .drop(f"focal_mean_{band}", f"focal_var_{band}")
