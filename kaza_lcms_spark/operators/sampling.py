"""Sampling operators — the reference's signature family (SURVEY.md §2.5).

Re-grounds sig-gis/kaza-lcms stratified sampling:
* ``ee.Image.stratifiedSample`` (src/utils/sampling.py:163-182) — exact
  per-class counts with a fixed seed, independent of execution tiling.
* ``randomColumn(seed)`` + ``limit(n,'random')`` per-class top-k
  (src/utils/sampling.py:104,153).
* 80/20 ``split_train_test`` (src/utils/sampling.py:184-193).
* ``randomPoints`` polygon interior point synthesis (src/utils/sampling.py:101,144).

Physical notes for scale: per-class top-k is a single window shuffle on
the class key (classes ≤ 8 → at most 8 reducers). Its ``_rn <= n`` filter
against a literal lets Catalyst plan a ``WindowGroupLimit`` partial before
the shuffle: each task sends only its best n rows per class (a mergeable
bottom-k summary), and the final window sorts at most tasks × n rows per
class, not the whole class.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from .. import functions as KF
from ..kernels import geom, rand


def stratified_topk(df: DataFrame, class_col: str, key_col: str,
                    n_per_class: int | dict, seed_mult: int = 48271,
                    rand_col: str = "_r") -> DataFrame:
    """Exact per-class deterministic sample: rank rows inside each class by
    a key-hashed random and keep the first n. `df.sampleBy` is inexact
    (binomial); the reference requires exact counts (classPoints,
    src/utils/sampling.py:175)."""
    r = KF.detrand_int(F.col(key_col), seed_mult)
    w = Window.partitionBy(class_col).orderBy(r.asc(), F.col(key_col).asc())
    out = df.withColumn("_rn", F.row_number().over(w))
    if isinstance(n_per_class, dict):
        limits = F.create_map(*[F.lit(x) for kv in n_per_class.items() for x in kv])
        # the literal bound plans the WindowGroupLimit; the map lookup alone does not
        out = out.where(F.col("_rn") <= F.lit(max(n_per_class.values(), default=0)))
        out = out.where(F.col("_rn") <= limits[F.col(class_col)])
    else:
        out = out.where(F.col("_rn") <= F.lit(n_per_class))
    return out.drop("_rn")


def train_test_split(df: DataFrame, key_col: str, frac: float = 0.8,
                     seed_mult: int = 69621) -> tuple[DataFrame, DataFrame]:
    """Deterministic split (reference: randomColumn + lt 0.8,
    src/utils/sampling.py:184-193)."""
    r = KF.detrand(F.col(key_col), seed_mult)
    return df.where(r < F.lit(frac)), df.where(r >= F.lit(frac))


def with_split_tag(df: DataFrame, key_col: str, frac: float = 0.8,
                   seed_mult: int = 69621, out_col: str = "split") -> DataFrame:
    r = KF.detrand(F.col(key_col), seed_mult)
    return df.withColumn(out_col, F.when(r < F.lit(frac), F.lit("train")).otherwise(F.lit("test")))


def random_points_in_polygons(polys_df: DataFrame, n_per_poly: int,
                              seed: int = 90210,
                              id_col: str = "unit_id") -> DataFrame:
    """Seeded uniform points inside each polygon (reference: randomPoints
    ×2 oversample, src/utils/sampling.py:101,144): bbox rejection sampling
    with a counter-based RNG keyed on (unit_id, trial) — deterministic per
    polygon regardless of partitioning, vectorized numpy inside
    applyInPandas."""
    out_schema = StructType([
        StructField("unit_id", LongType()),
        StructField("pt_seq", LongType()),
        StructField("lon", DoubleType()),
        StructField("lat", DoubleType()),
    ])
    n = n_per_poly

    def gen(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for _, row in pdf.iterrows():
            uid = int(row[id_col])
            xs = np.asarray(row["ring_xs"]); ys = np.asarray(row["ring_ys"])
            x0, y0, x1, y1 = xs.min(), ys.min(), xs.max(), ys.max()
            got_x, got_y = [], []
            trial = 0
            while len(got_x) < n and trial < 100 * n + 1000:
                m = n * 4
                keys = (np.int64(uid) << np.int64(32)) + np.arange(trial, trial + m)
                px = x0 + rand.uniform(keys, seed) * (x1 - x0)
                py = y0 + rand.uniform(keys, seed + 1) * (y1 - y0)
                hit = geom.points_in_polygon(px, py, xs, ys)
                got_x.extend(px[hit]); got_y.extend(py[hit])
                trial += m
            rows.append(pd.DataFrame({
                "unit_id": uid, "pt_seq": np.arange(min(n, len(got_x))),
                "lon": np.asarray(got_x[:n]), "lat": np.asarray(got_y[:n]),
            }))
        return pd.concat(rows) if rows else pd.DataFrame(
            {"unit_id": [], "pt_seq": [], "lon": [], "lat": []})

    from ..plans.salting import pin_kernel_partitions
    return (pin_kernel_partitions(polys_df, id_col)
            .groupBy(id_col).applyInPandas(lambda k, pdf: gen(pdf), out_schema))


def proportional_allocation(polys_df: DataFrame, total_points: int,
                            label_col: str = "LANDCOVER",
                            min_per_class: int = 2) -> dict[int, int]:
    """R8: points per class proportional to total class polygon area
    (reference src/utils/sampling.py:51-72, src/misc/pt_calc_disprop.py:23-55):
    per-class area sums via one hash-agg, allocation arithmetic on the
    driver, largest-remainder rounding so counts sum exactly."""
    import math

    pdf = polys_df.select(label_col, "ring_xs", "ring_ys").toPandas()
    areas: dict[int, float] = {}
    for _, r in pdf.iterrows():
        areas[int(r[label_col])] = areas.get(int(r[label_col]), 0.0) + \
            geom.polygon_area(np.asarray(r["ring_xs"]), np.asarray(r["ring_ys"]))
    total_area = sum(areas.values())
    raw = {c: max(min_per_class, total_points * a / total_area)
           for c, a in areas.items()}
    alloc = {c: int(math.floor(v)) for c, v in raw.items()}
    rem = sorted(((raw[c] - alloc[c], c) for c in alloc), reverse=True)
    short = total_points - sum(alloc.values())
    for i in range(max(0, short)):
        alloc[rem[i % len(rem)][1]] += 1
    return alloc


def ceo_format(points_df: DataFrame, aoi_tag: str,
               lon_col: str = "lon", lat_col: str = "lat",
               id_col: str = "pt_id") -> DataFrame:
    """Collect-Earth-Online export formatting (reference:
    src/00sample_pts.py:30-46): LON/LAT/PLOTID/SAMPLEID with globally
    unique '{aoi}_{id}' prefixes."""
    pid = F.concat_ws("_", F.lit(aoi_tag), F.col(id_col).cast("string"))
    return points_df.select(
        F.col(lon_col).alias("LON"), F.col(lat_col).alias("LAT"),
        pid.alias("PLOTID"), pid.alias("SAMPLEID"),
    )
