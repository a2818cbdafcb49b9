"""Composite / time-series aggregation operators (SURVEY.md §2.4).

Re-grounds sig-gis/kaza-lcms composite building (src/utils/s2process.py):
* Percentile composite — ``reduce(ee.Reducer.percentile([10,25,50,75,90]))``
  per band (src/utils/s2process.py:137-139) → exact `percentile` hash-agg
  (partial+final combine free from Catalyst; one shuffle on the group key).
* Harmonic OLS — ``ee.Reducer.linearRegression`` over
  [constant, t, cos, sin] (src/utils/harmonics.py:14-46) → closed-form
  normal equations from sufficient statistics: one groupBy computing
  sums of cross-products, then a tiny 4×4 solve vectorized in numpy via
  applyInPandas over the (small) per-group result. No per-row Python.
* Mean composite (src/misc/sentinel1.py:59) → avg.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType


def _pct_array(pcts: tuple[float, ...]) -> F.Column:
    return F.array(*[F.lit(p) for p in pcts])


def percentile_composite(df: DataFrame, group_col: str, band_cols: list[str],
                         pcts: tuple[float, ...] = (0.1, 0.25, 0.5, 0.75, 0.9)
                         ) -> DataFrame:
    """Exact interpolated percentiles per group per band; output columns
    p{pct}_{band} (reference band naming 'p20_blue' style,
    src/utils/covariates.py:261-274).

    One array-form `percentile(col, array(p...))` agg per band, unpacked
    after the agg: the scalar form buffers and sorts each band's values
    once PER PERCENTILE (5× the agg state and 5 sorts per group per
    band); the array form buffers and sorts once and reads all
    percentiles off the same sorted buffer — identical values."""
    aggs = [F.percentile(F.col(b), _pct_array(pcts)).alias(f"_ps_{b}")
            for b in band_cols]
    g = df.groupBy(group_col).agg(*aggs)
    outs = [F.col(f"_ps_{b}")[i].alias(f"p{int(p * 100)}_{b}")
            for b in band_cols for i, p in enumerate(pcts)]
    return g.select(group_col, *outs)


def percentile_composite_approx(df: DataFrame, group_col: str,
                                band_cols: list[str],
                                pcts: tuple[float, ...] = (0.1, 0.25, 0.5, 0.75, 0.9),
                                accuracy: int = 10000) -> DataFrame:
    """A1 scale path: approximate percentiles (Greenwald-Khanna sketch via
    percentile_approx). Same output columns as percentile_composite; the
    sketch merges map-side, so memory per group is O(accuracy) instead of
    O(rows) — at 100 TB the exact `percentile` buffers every value of a
    group on one reducer, the sketch does not. Error ≤ 1/accuracy of rank
    (tested against the exact composite).

    Array-form sketch: ONE Greenwald-Khanna summary per band queried at
    every percentile, instead of building `len(pcts)` identical sketches
    over the same values — identical results, ~1/len(pcts) the agg work."""
    aggs = [F.percentile_approx(F.col(b), _pct_array(pcts), F.lit(accuracy))
            .alias(f"_ps_{b}") for b in band_cols]
    g = df.groupBy(group_col).agg(*aggs)
    outs = [F.col(f"_ps_{b}")[i].alias(f"p{int(p * 100)}_{b}")
            for b in band_cols for i, p in enumerate(pcts)]
    return g.select(group_col, *outs)


def mean_composite(df: DataFrame, group_col: str, band_cols: list[str]) -> DataFrame:
    return df.groupBy(group_col).agg(
        *[F.avg(b).alias(f"mean_{b}") for b in band_cols])


def ols_simple(df: DataFrame, group_col: str, x_col: str, y_col: str) -> DataFrame:
    """Single-regressor OLS per group via sufficient statistics — the
    degenerate (k=1) case of the harmonic solver, fully JVM-side:
    slope = (n·Σxy − Σx·Σy)/(n·Σxx − (Σx)²), intercept = ȳ − slope·x̄."""
    g = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x_col).alias("sx"), F.sum(y_col).alias("sy"),
        F.sum(F.col(x_col) * F.col(x_col)).alias("sxx"),
        F.sum(F.col(x_col) * F.col(y_col)).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / \
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    icept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return g.select(group_col, slope.alias("slope"), icept.alias("intercept"))


def harmonic_fit(df: DataFrame, group_col: str, t_col: str, y_col: str,
                 period: float = 1.0) -> DataFrame:
    """Per-group harmonic regression y ~ b0 + b1·t + b2·cos(2πt/P) + b3·sin(2πt/P)
    (reference: src/utils/harmonics.py:14-46; 4×1 coefficient image, then
    phase=atan2(cos,sin), amplitude=hypot — src/utils/harmonics.py:35-46).

    Two stages: (1) a single hash-agg computing the 4×4 Gram matrix and
    4-vector of cross sums (16+4 scalars, JVM-side); (2) per-group 4×4
    `np.linalg.solve` in applyInPandas over the tiny aggregated frame.

    Same validity contract as percentile_harmonic_composite: a row
    contributes only when BOTH y and t are non-null (otherwise a null-t
    row counts in G[0,0] but drops from every t-dependent sum —
    inconsistent normal equations), and under-determined / singular
    groups emit NULL coefficients instead of raising.
    """
    w = 2.0 * np.pi / period
    t = F.col(t_col)
    xs = [F.lit(1.0), t, F.cos(F.lit(w) * t), F.sin(F.lit(w) * t)]
    names = ["c", "t", "cos", "sin"]
    valid = F.col(y_col).isNotNull() & t.isNotNull()
    aggs = []
    for i in range(4):
        for j in range(i, 4):
            aggs.append(F.sum(F.when(valid, xs[i] * xs[j])).alias(f"g_{i}{j}"))
        aggs.append(F.sum(F.when(valid, xs[i] * F.col(y_col))).alias(f"b_{i}"))
    g = df.groupBy(group_col).agg(*aggs)

    out_schema = StructType(
        [g.schema[group_col]]
        + [StructField(f"coef_{n}", DoubleType()) for n in names]
        + [StructField("phase", DoubleType()), StructField("amplitude", DoubleType())]
    )

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        G = np.zeros((m, 4, 4))
        B = np.zeros((m, 4))
        for i in range(4):
            for j in range(i, 4):
                G[:, i, j] = G[:, j, i] = pdf[f"g_{i}{j}"].fillna(0.0)
            B[:, i] = pdf[f"b_{i}"].fillna(0.0)
        coef = np.full((m, 4), np.nan)
        ok = G[:, 0, 0] >= 4
        ok[ok] = np.abs(np.linalg.det(G[ok])) > 1e-12
        if ok.any():
            coef[ok] = np.linalg.solve(G[ok], B[ok])
        out = pd.DataFrame({group_col: pdf[group_col]})
        for k, n in enumerate(names):
            out[f"coef_{n}"] = pd.array(coef[:, k], dtype="Float64")
        out["phase"] = pd.array(np.arctan2(coef[:, 2], coef[:, 3]),
                                dtype="Float64")
        out["amplitude"] = pd.array(np.hypot(coef[:, 2], coef[:, 3]),
                                    dtype="Float64")
        return out

    return g.mapInPandas(lambda it: (solve(pdf) for pdf in it if len(pdf)), out_schema)


def percentile_harmonic_composite(df: DataFrame, group_col: str,
                                  band_cols: list[str], t_col: str,
                                  y_col: str | list[str], period: float = 1.0,
                                  pcts: tuple[float, ...] = (0.1, 0.25, 0.5, 0.75, 0.9),
                                  approx: bool = False,
                                  accuracy: int = 10000) -> DataFrame:
    """A1 + A2 fused: percentiles AND the harmonic Gram sufficient
    statistics in ONE groupBy on the cell key — a single shuffle and a
    single pass over the observations, versus computing the two
    composites separately (which re-evaluates the masked/derived input
    twice and joins the results).

    ``y_col`` may be a list: the reference fits harmonics per configured
    band (nir + swir1 — /root/reference/src/utils/harmonics.py:79-124,
    model_inputs), and the fused agg extends naturally — each band adds
    its own 14 sufficient-statistic scalars to the SAME hash-agg, still
    one shuffle. Single-band output keeps the unsuffixed names
    (coef_*, phase, amplitude); multi-band suffixes _{band}.

    ``approx=True`` swaps the exact `percentile` for the Greenwald-Khanna
    `percentile_approx` sketch (rank error ≤ 1/accuracy, tested): the
    exact agg buffers every group value on one reducer, the sketch is
    O(accuracy) per group — the multi-decade 100 TB archive path.

    A row contributes to a band's normal equations only when BOTH that
    band's y and t are non-null (a null-t row would otherwise count in
    G[0,0] but drop from every t-dependent sum — inconsistent equations).
    Under-determined or singular groups (< 4 valid rows) emit NULL
    harmonic columns, matching the unfused left join."""
    w = 2.0 * np.pi / period
    t = F.col(t_col)
    # project the trig terms ONCE per row (codegen'd, below the agg):
    # inlining cos/sin into every sufficient-statistic agg expression
    # re-evaluates them up to 7× per row inside the non-codegen
    # ObjectHashAggregate the percentile agg forces
    df = df.withColumn("_hcos", F.cos(F.lit(w) * t)) \
           .withColumn("_hsin", F.sin(F.lit(w) * t))
    xs = [F.lit(1.0), t, F.col("_hcos"), F.col("_hsin")]
    names = ["c", "t", "cos", "sin"]
    y_cols = [y_col] if isinstance(y_col, str) else list(y_col)
    sfx = {y: "" if isinstance(y_col, str) else f"_{y}" for y in y_cols}
    pct_f = F.percentile_approx if approx else F.percentile
    pct_args = (F.lit(accuracy),) if approx else ()
    # array-form percentiles: one buffer/sketch per band (see
    # percentile_composite), unpacked right after the agg
    aggs = [pct_f(F.col(b), _pct_array(pcts), *pct_args).alias(f"_ps_{b}")
            for b in band_cols]
    for y in y_cols:
        valid = F.col(y).isNotNull() & t.isNotNull()
        for i in range(4):
            for j in range(i, 4):
                aggs.append(F.sum(F.when(valid, xs[i] * xs[j]))
                            .alias(f"_g{sfx[y]}_{i}{j}"))
            aggs.append(F.sum(F.when(valid, xs[i] * F.col(y)))
                        .alias(f"_b{sfx[y]}_{i}"))
    g = df.groupBy(group_col).agg(*aggs)
    g = g.select(
        group_col,
        *[F.col(f"_ps_{b}")[i].alias(f"p{int(p*100)}_{b}")
          for b in band_cols for i, p in enumerate(pcts)],
        *[c for c in g.columns if c.startswith(("_g", "_b"))])

    pct_cols = [f"p{int(p*100)}_{b}" for b in band_cols for p in pcts]
    harm_cols = [c for y in y_cols
                 for c in ([f"coef_{n}{sfx[y]}" for n in names]
                           + [f"phase{sfx[y]}", f"amplitude{sfx[y]}"])]
    out_schema = StructType(
        [g.schema[group_col]]
        + [StructField(c, DoubleType()) for c in pct_cols]
        + [StructField(c, DoubleType()) for c in harm_cols]
    )

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        out = pd.DataFrame({group_col: pdf[group_col]})
        for c in pct_cols:
            out[c] = pdf[c]
        for y in y_cols:
            s = sfx[y]
            G = np.zeros((m, 4, 4))
            B = np.zeros((m, 4))
            for i in range(4):
                for j in range(i, 4):
                    G[:, i, j] = G[:, j, i] = pdf[f"_g{s}_{i}{j}"].fillna(0.0)
                B[:, i] = pdf[f"_b{s}_{i}"].fillna(0.0)
            coef = np.full((m, 4), np.nan)
            ok = G[:, 0, 0] >= 4
            ok[ok] = np.abs(np.linalg.det(G[ok])) > 1e-12
            if ok.any():
                coef[ok] = np.linalg.solve(G[ok], B[ok])
            # pd.array(Float64) masks NaN -> Spark NULL: NaN is not NULL in
            # Spark (isNull misses it, it sorts greatest), and the unfused
            # path's left join emits NULL for these groups
            for k, n in enumerate(names):
                out[f"coef_{n}{s}"] = pd.array(coef[:, k], dtype="Float64")
            out[f"phase{s}"] = pd.array(
                np.arctan2(coef[:, 2], coef[:, 3]), dtype="Float64")
            out[f"amplitude{s}"] = pd.array(
                np.hypot(coef[:, 2], coef[:, 3]), dtype="Float64")
        return out

    return g.mapInPandas(lambda it: (solve(p) for p in it if len(p)), out_schema)
