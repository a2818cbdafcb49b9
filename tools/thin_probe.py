"""Thinning-at-scale probe (r4 verdict item #7): round count and
throughput of the exact parallel-greedy MIS fixpoint
(operators/spatial_join.thin_points_exact) on a 1M-point corpus whose
worst-case geometry the north rule names — long dense chains along a
river — plus the adversarial monotone-id arm at small n.

Exactness at probe scale is asserted WITHOUT a sequential replay, via
the two join-checkable properties that uniquely determine the
sequential greedy result:

* independence — no two kept points within radius;
* greedy coverage — every dropped point has a kept LOWER-id neighbor
  (so no point was dropped speculatively).

Rounds scale O(log n) under hash/random id assignment; ids assigned
monotonically along the river are the documented adversarial case — the
sequential greedy itself then has linear decision depth (each decision
needs the previous kept one), so the monotone arm reports rounds ≈ kept
count by design, not by defect.

Appends a markdown section to BENCH/BASELINE.md. Run AFTER
tools/scaling.py (it overwrites the file).

Usage: python tools/thin_probe.py [n_points]
"""

from __future__ import annotations

import logging
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

RADIUS = 0.01


class _Rounds(logging.Handler):
    """Keeps the round count of the last fixpoint run (plans.fixpoint
    logs one record per run)."""

    rounds = None

    def emit(self, record: logging.LogRecord) -> None:
        self.rounds = getattr(record, "rounds", self.rounds)


def _corpus(spark, n: int):
    """70% river (dense squiggle, chains every direction), 30% uniform
    background; hash-permuted ids (the adversarial monotone-id case is
    a separate explicit dense chain in main())."""
    import numpy as np

    rng = np.random.default_rng(90210)
    n_riv = int(n * 0.7)
    t = rng.random(n_riv)
    lon = 20.0 + 2.0 * t + rng.normal(0, RADIUS, n_riv)
    lat = (-18.0 + 0.8 * np.sin(200 * np.pi * t)
           + rng.normal(0, RADIUS, n_riv))
    blon = rng.uniform(20.0, 22.0, n - n_riv)
    blat = rng.uniform(-19.0, -17.0, n - n_riv)
    alon = np.concatenate([lon, blon])
    alat = np.concatenate([lat, blat])
    ids = rng.permutation(np.arange(n, dtype=np.int64))
    import pandas as pd
    return spark.createDataFrame(
        pd.DataFrame({"pt_id": ids, "lon": alon, "lat": alat}))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    from pyspark.sql import functions as F

    from kaza_lcms_spark.operators import spatial_join as SJ
    from kaza_lcms_spark.session import get_spark

    cores = os.cpu_count()
    spark = get_spark(app_name="thin-probe", master=f"local[{cores}]",
                      shuffle_partitions=64)
    rounds = _Rounds()
    fp_log = logging.getLogger("kaza_lcms_spark.plans.fixpoint")
    fp_log.addHandler(rounds)
    fp_log.setLevel(logging.INFO)

    pts = _corpus(spark, n).cache()
    pts.count()
    pairs = SJ.distance_join(pts, RADIUS).cache()
    n_pairs = pairs.count()

    t0 = time.time()
    kept = SJ.thin_points_exact(pts, RADIUS, max_rounds=256).cache()
    n_kept = kept.count()
    wall = time.time() - t0
    n_rounds = rounds.rounds

    # exactness invariants at full scale (see module docstring)
    kept_a = kept.withColumnRenamed("pid", "a")
    kept_b = kept.withColumnRenamed("pid", "b")
    viol_ind = pairs.join(kept_a, "a", "left_semi") \
                    .join(kept_b, "b", "left_semi").count()
    assert viol_ind == 0, f"{viol_ind} kept pairs within radius"
    dropped = pts.select(F.col("pt_id").alias("pid")) \
                 .join(kept, "pid", "left_anti")
    has_kept_lower = (pairs.join(kept_a, "a", "left_semi")
                      .select(F.col("b").alias("pid")).distinct())
    viol_cov = dropped.join(has_kept_lower, "pid", "left_anti").count()
    assert viol_cov == 0, f"{viol_cov} dropped points lack a kept lower nbr"

    # adversarial arm: monotone ids along one DENSE chain — spacing
    # radius/2, so each greedy keep decision waits on the previous one
    # (sequential depth ≈ kept count = n/3)
    import pandas as pd
    n_adv = 150
    adv = spark.createDataFrame(pd.DataFrame({
        "pt_id": range(n_adv),
        "lon": [20.0 + i * RADIUS / 2 for i in range(n_adv)],
        "lat": [-18.0] * n_adv})).coalesce(2).cache()
    adv.count()
    # ~n/3 latency-bound tiny rounds: shrink the per-round task count
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    t0 = time.time()
    akept = SJ.thin_points_exact(adv, RADIUS, max_rounds=4096)
    n_akept = akept.count()
    awall = time.time() - t0
    a_rounds = rounds.rounds

    lines = [
        "",
        f"## Thinning at probe scale: exact greedy MIS fixpoint ({n:,} points, local[{cores}])",
        "",
        f"River-skewed corpus (70% on a dense squiggle, {n_pairs:,}",
        f"radius-{RADIUS}° neighbor pairs), hash-permuted ids",
        "(`python tools/thin_probe.py`). Exactness asserted at full scale",
        "by the two properties that uniquely determine the sequential",
        "greedy: kept-set independence and every-dropped-has-kept-lower.",
        "",
        "| arm | points | rounds | kept | wall sec | points/sec |",
        "|---|---|---|---|---|---|",
        f"| hash ids (production) | {n:,} | {n_rounds} | {n_kept:,} "
        f"| {wall:.1f} | {n / wall:,.0f} |",
        f"| monotone ids (adversarial) | {n_adv:,} | {a_rounds} "
        f"| {n_akept:,} | {awall:.1f} | {n_adv / awall:,.0f} |",
        "",
        f"Hash-id rounds stay logarithmic ({n_rounds} at {n:,} points; the",
        "round count is the longest kept/undecided dependency chain).",
        "Monotone chain ids are the documented adversarial case: the",
        "SEQUENTIAL greedy itself has linear decision depth there",
        f"(measured rounds = 2 per kept point: {a_rounds} rounds",
        f"for {n_akept} kept — one drop round + one keep round per",
        "decision), so no exact parallelization can beat the chain —",
        "assign hash/random ids when thinning priority is free to choose.",
    ]
    with open(os.path.join(ROOT, "BENCH", "BASELINE.md"), "a") as f:
        f.write("\n".join(lines) + "\n")
    print(f"{n:,}-point arm: rounds {n_rounds}, kept {n_kept}, {wall:.1f}s; "
          f"adversarial: rounds {a_rounds}, kept {n_akept}, {awall:.1f}s")
    spark.stop()


if __name__ == "__main__":
    main()
