"""Focal operator tests vs brute-force numpy on dense grids."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from kaza_lcms_spark.operators import focal as FO


@pytest.fixture(scope="module")
def grid_df(spark):
    rng = np.random.default_rng(11)
    n = 40
    mask = (rng.random((n, n)) < 0.35).astype(int)
    val = rng.random((n, n)).round(4)
    rows = [(int(x), int(y), int(mask[x, y]), float(val[x, y]))
            for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "ix long, iy long, m int, v double").cache()
    return df, mask, val, n


def _win(arr, x, y, r, n):
    return arr[max(0, x - r):min(n, x + r + 1), max(0, y - r):min(n, y + r + 1)]


def test_focal_mean_var(spark, grid_df):
    df, mask, val, n = grid_df
    out = {(r["ix"], r["iy"]): (r["focal_mean_v"], r["focal_var_v"])
           for r in FO.focal_agg(df, "v").collect()}
    for x, y in [(0, 0), (5, 7), (39, 39), (20, 0)]:
        w = _win(val, x, y, 1, n).ravel()
        assert out[(x, y)][0] == pytest.approx(w.mean())
        assert out[(x, y)][1] == pytest.approx(w.var(ddof=1))


def test_erode_dilate_vs_numpy(spark, grid_df):
    df, mask, val, n = grid_df
    er = {(r["ix"], r["iy"]): r["m"] for r in FO.erode(df, "m").collect()}
    di = {(r["ix"], r["iy"]): r["m"] for r in FO.dilate(df, "m").collect()}
    for x in range(n):
        for y in range(n):
            w = _win(mask, x, y, 1, n)
            # border windows have <9 cells -> erosion fails there (missing = unset)
            truth_er = int(w.size == 9 and w.all())
            truth_di = int(w.any())
            assert er[(x, y)] == truth_er, (x, y)
            assert di[(x, y)] == truth_di, (x, y)


def test_open_grow_tiled_equals_relational(spark, grid_df):
    """The one-shuffle halo-tile morphology must reproduce the relational
    erode→dilate exactly — including data-edge behavior (absent = unset)
    and sparse/irregular coverage — across tile sizes and radii."""
    df, mask, val, n = grid_df
    sparse = df.where((F.col("ix") * 7 + F.col("iy") * 3) % 5 != 0)  # holes
    for cells in (df, sparse):
        for er, gr, bits in ((1, 1, 3), (1, 2, 4), (2, 1, 5)):
            a = {(r["ix"], r["iy"]): r["m"] for r in
                 FO.open_grow_mask(cells, "m", er, gr).collect()}
            b = {(r["ix"], r["iy"]): r["m"] for r in
                 FO.open_grow_tiled(cells, "m", er, gr, tile_bits=bits).collect()}
            assert a == b, (er, gr, bits)


def test_open_grow_tiled_grouped(spark, grid_df):
    """group_cols isolation: two stacked 'dates' must not bleed into each
    other's windows (per-image morphology)."""
    df, mask, val, n = grid_df
    two = df.withColumn("ts", F.lit(1)).unionByName(
        df.withColumn("m", 1 - F.col("m")).withColumn("ts", F.lit(2)))
    a = {(r["ts"], r["ix"], r["iy"]): r["m"] for r in
         FO.open_grow_mask(two, "m", 1, 1, group_cols=("ts",)).collect()}
    b = {(r["ts"], r["ix"], r["iy"]): r["m"] for r in
         FO.open_grow_tiled(two, "m", 1, 1, group_cols=("ts",)).collect()}
    assert a == b


def test_fused_composite_equals_unfused(spark):
    """percentile_harmonic_composite (one shuffle) == separate
    percentile_composite + harmonic_fit + join, column for column."""
    from kaza_lcms_spark.operators import composite as C
    rng = np.random.default_rng(9)
    rows = []
    for g in range(6):
        for i in range(rng.integers(2, 120)):
            t = float(rng.random() * 2)
            y = float(np.cos(2 * np.pi * t) + rng.normal(0, .1))
            rows.append((g, t, y, float(rng.random())))
    df = spark.createDataFrame(rows, "cell long, t double, y double, b double")
    fused = {r["cell"]: r for r in C.percentile_harmonic_composite(
        df, "cell", ["b", "y"], "t", "y").collect()}
    pct = C.percentile_composite(df, "cell", ["b", "y"])
    harm = C.harmonic_fit(df.where(F.col("y").isNotNull()), "cell", "t", "y")
    want = {r["cell"]: r for r in pct.join(harm, "cell", "left").collect()}
    assert set(fused) == set(want)
    for c, w in want.items():
        f = fused[c]
        for k in w.asDict():
            wv, fv = w[k], f[k]
            if wv is None or (isinstance(wv, float) and np.isnan(wv)):
                assert fv is None or np.isnan(fv), (c, k)
            else:
                assert fv == pytest.approx(wv, rel=1e-9), (c, k)


def test_directional_transform(spark, grid_df):
    df, mask, val, n = grid_df
    out = {(r["ix"], r["iy"]): r["shadow"]
           for r in FO.directional_transform(df, "m", 1, 0, 3).collect()}
    for x, y in [(5, 5), (10, 20), (3, 0), (39, 10)]:
        truth = int(any(0 <= x - s < n and mask[x - s, y] for s in (1, 2, 3)))
        assert out[(x, y)] == truth


def test_slope_aspect_on_plane(spark):
    """On a plane z = 2x + 3y the gradient is exact: slope=atan(|∇z|),
    eastness/northness from aspect."""
    rows = [(x, y, float(2 * x + 3 * y)) for x in range(20) for y in range(20)]
    df = spark.createDataFrame(rows, "ix long, iy long, z double")
    out = {(r["ix"], r["iy"]): r for r in FO.slope_aspect(df, "z").collect()}
    r = out[(10, 10)]
    assert r["slope"] == pytest.approx(np.arctan(np.hypot(2, 3)))


def test_lee_speckle_smooths(spark, grid_df):
    df, mask, val, n = grid_df
    out = FO.lee_speckle(df, "v")
    stats = out.agg(F.var_samp("v").alias("v0"), F.var_samp("v_lee").alias("v1")).collect()[0]
    assert stats["v1"] < stats["v0"], "filtered variance must shrink"
