"""Skew-proof probe (r3 verdict item #5): the north rule's stated skew
case — one border/river cell holding ~20% of all points.

Synthesizes a deterministic skewed fixture (1 hot cell with 20% of the
corpus + 2,000 cold cells), runs per-cell kNN with the salting planner
ON (default threshold → the hot cell takes the block-grid join: its
items in one chunk, its queries in 16 salt groups) and OFF (threshold =
∞ → one groupBy task owns the whole hot cell), asserts both produce the
identical result multiset, and records the wall-clock delta. A zonal
hash-agg over the same skewed input is timed alongside to document why
THAT shape needs no salting (map-side partial aggregation bounds hot-key
state).

Runs on ``local[os.cpu_count()]``. Appends a markdown section to
BENCH/BASELINE.md of the checkout this file lives in. Run AFTER
tools/scaling.py (it overwrites the file).

Usage: python tools/skew_probe.py [n_points]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

HOT_CELL = 123_456_789
N_COLD_CELLS = 2_000


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 150_000
    from pyspark.sql import functions as F

    from kaza_lcms_spark.operators import knn as KNN
    from kaza_lcms_spark.session import get_spark

    cpus = os.cpu_count() or 1
    spark = get_spark(app_name="skew-probe", master=f"local[{cpus}]",
                      shuffle_partitions=4 * cpus)
    pts = (spark.range(n).select(
        F.col("id").alias("image_id"),
        F.when(F.col("id") % 5 == 0, F.lit(HOT_CELL))
         .otherwise(F.pmod(F.xxhash64("id"), F.lit(N_COLD_CELLS)))
         .alias("cell_id"),
        F.xxhash64((F.col("id") * 7919).cast("long")).alias("phash"),
    ).cache())
    pts.count()
    hist = pts.groupBy("cell_id").count().orderBy(F.desc("count")).limit(1).collect()
    hot_rows = hist[0]["count"]

    def run(salted: bool):
        out = KNN.knn_per_cell(pts, k=5, salt_buckets=16,
                               salt_threshold=20_000 if salted else 2**40)
        return out.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(image_id, neighbor_id, hamming))")
             .alias("checksum")).collect()[0]

    # output parity at probe scale, then timings (warm second arm first)
    r_on, r_off = run(True), run(False)
    assert tuple(r_on) == tuple(r_off), f"salting changed results: {r_on} vs {r_off}"

    def best(fn, reps):
        b = float("inf")
        for _ in range(reps):
            t0 = time.time(); fn(); b = min(b, time.time() - t0)
        return b

    # same best-of arms for both modes — an extra rep for one side would
    # bias the published speedup (cf. bench.py's rf fairness rule)
    t_on = best(lambda: run(True), 2)
    t_off = best(lambda: run(False), 2)

    def zonal():
        return pts.groupBy("cell_id").agg(
            F.count(F.lit(1)), F.avg("phash"), F.min("phash"),
            F.max("phash")).count()

    zonal()
    t_zonal = best(zonal, 3)

    lines = [
        "",
        f"## Skew proof: hot-cell kNN, salting on vs off ({n:,} points, local[{cpus}])",
        "",
        f"North-rule skew case: one river/border cell holds {hot_rows:,}",
        f"points ({100 * hot_rows / n:.0f}% of the corpus); {N_COLD_CELLS:,} cold cells share",
        "the rest. Identical output multiset asserted (count + value",
        "checksum) before timing (`python tools/skew_probe.py`):",
        "",
        "| plan | wall sec | hot-cell shape |",
        "|---|---|---|",
        f"| salted (threshold 20k, 16 salts) | {t_on:.2f} | "
        "block-grid join: 16 query salts × 1 item chunk, no merge |",
        f"| unsalted (groupBy path) | {t_off:.2f} | "
        "1 task owns the whole hot cell |",
        f"| zonal hash-agg, same skewed input | {t_zonal:.2f} | "
        "partial agg (map-side combine) — salting unnecessary |",
        "",
        f"Salting bounds the straggler: {t_off / t_on:.1f}× wall-clock at one",
        "hot cell; the gap widens with hot-cell share and core count, since",
        "the unsalted arm serializes the O(n²) cell kernel on one core while",
        "the salted arm splits its query dimension across the cluster.",
        "The zonal row documents the complementary case: aggregation",
        "shapes with algebraic combiners need no salting — partial",
        "aggregation caps per-task hot-key state before the shuffle.",
    ]
    with open(os.path.join(ROOT, "BENCH", "BASELINE.md"), "a") as f:
        f.write("\n".join(lines) + "\n")
    print(f"salted {t_on:.2f}s, unsalted {t_off:.2f}s "
          f"({t_off / t_on:.1f}x), zonal {t_zonal:.2f}s, hot rows {hot_rows}")
    spark.stop()


if __name__ == "__main__":
    main()
