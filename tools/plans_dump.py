"""Dump formatted physical plans of the headline operators → PLANS.md.

Evidence artifact for plan-quality review: shows the shuffle-free fused
flagship, pruned scans with pushed filters, partial aggregation, and the
cell-keyed distance join, annotated.
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from pyspark.sql import functions as F
    from kaza_lcms_spark import datagen
    from kaza_lcms_spark.session import get_spark
    from kaza_lcms_spark.operators import spatial_join as SJ
    import __spark_entry__ as E

    d = datagen.ensure_fixtures(2000)
    spark = get_spark(master="local[8]")
    imgs = spark.read.parquet(d + "/images.parquet")
    idx = SJ.load_polygon_index_from_fixture()
    sf = "/root/testdata/sf0.01"

    sections = [
        ("Flagship: fused tile assignment (footprint → cell lookup → "
         "cell-keyed index PIP, one mapInPandas, ZERO shuffles; scan prunes "
         "to image_id only)",
         SJ.assign_images_fused(spark, imgs, idx)),
        ("Flagship + zonal (manual map-side combine: per-batch partials, "
         "then partial_sum/sum hash-agg over ≤|units| rows per batch)",
         SJ.zonal_counts_fused(spark, imgs, idx)),
        ("Distance self-join (cell+halo replicate → equi-join on cell, "
         "AQE-managed shuffle)",
         E.q_distance_pairs(spark, sf)),
        ("Stratified sample (hash-rand window top-k per class: single "
         "shuffle keyed by class)",
         E.q_stratified_sample(spark, sf)),
        ("Percentile composite (partial+final hash-agg from Catalyst)",
         E.q_pct_composite(spark, sf)),
        ("MinHash signatures (explode → shuffle-free hash token ids → "
         "one hash-agg; no dictionary, no global sort)",
         E.q_minhash_signatures(spark, sf)),
        ("LSH candidate pairs (per-band bucket-cap semi-join + equi-join "
         "on band tuple; AQE coalesces the same-key shuffles)",
         E.q_lsh_pairs(spark, sf)),
        ("Blocked cosine top-k (executor-side pack → broadcast item "
         "blocks → per-block-pair BLAS → window merge; no driver collect)",
         E.q_cosine_topk_blocked(spark, sf)),
        ("S1 terrain correction (neighbor-cell joins for slope/aspect, "
         "then pure column algebra — whole-stage codegen)",
         E.q_terrain_correction(spark, sf)),
        ("Tasseled-cap 6×6 matmul (pure column algebra, one codegen span "
         "over the scan — no array image, no UDF)",
         E.q_tasseled_cap(spark, sf)),
        ("Banded Hamming near-dup (8 band equi-joins, bit_count verify "
         "INSIDE each band before the union+distinct: the dedup exchange "
         "carries only verified (a,b,hamming) triples)",
         E.q_hamming_near_dup(spark, sf)),
        ("Mega-cell block-grid kNN (broadcast-free third tier: item "
         "hash-chunks × query salts meet in one pinned applyInPandas "
         "group per pair, window merge keeps global top-k — one pinned "
         "shuffle on (cell, chunk, salt) + the merge window exchange)",
         E.q_knn_per_cell_mega(spark, sf)),
    ]
    from kaza_lcms_spark.operators import composite_pipeline as CP
    ts_df = spark.read.parquet(d + "/s2_timeseries.parquet")
    sections.append(
        ("Annual composite build (tiled one-shuffle mask morphology → "
         "FUSED percentile+harmonic single hash-agg on cell_id: two "
         "shuffles end-to-end, no diamond recompute, no stack join)",
         CP.build_composite(ts_df)))
    # wide per-class inference + argmax assemblage: chained MLlib
    # transforms (broadcast models) + array argmax — ZERO shuffles,
    # vs the tall union's window exchange over 8×|cells| rows
    import numpy as np

    from kaza_lcms_spark.ml import primitives as P
    rng = np.random.default_rng(90210)
    feats = rng.normal(0, 1, (200, 4))
    labels = np.repeat([1, 2, 3, 4], 50)
    feats[:, 0] += labels * 0.7
    rf_df = spark.createDataFrame(
        [(int(i), *[float(x) for x in feats[i]], int(labels[i]))
         for i in range(200)],
        "cell_id long, f0 double, f1 double, f2 double, f3 double, "
        "LANDCOVER long").cache()
    wide_df, cls = P.primitives_wide(rf_df, rf_df, ["f0", "f1", "f2", "f3"],
                                     classes=[1, 2, 3, 4], n_trees=8)
    sections.append(
        ("Per-class RF inference + argmax assemblage, WIDE path (chained "
         "broadcast-model transforms + array argmax: ZERO Exchange — the "
         "tall union path shuffles 8×|cells| rows for its assemblage "
         "window)",
         P.assemble_max_prob_wide(wide_df, cls)))
    out = ["# PLANS — formatted physical plans of the headline operators",
           "", "Generated by `python tools/plans_dump.py`.", ""]
    for title, df in sections:
        out += [f"## {title}", "", "```", fmt(df).rstrip(), "```", ""]
    with open("/root/repo/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
