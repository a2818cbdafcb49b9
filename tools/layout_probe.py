"""Clustered-layout AOI-scan probe (r3 verdict item #3).

Ingests the n-image corpus into the catalog twice — once plain
(corpus order), once through ``write_partitioned(layout=cell_clustered)``
— then benches the same AOI-bounded scan (one KAZA unit's Morton cell
ranges at level 10) on both layouts, verifying identical outputs and
reporting the three pruning levels the clustered path enables:

1. manifest partition pruning (parent-cell partitions never listed),
2. file pruning (footer min/max disjoint from every AOI range),
3. row-group pruning (same stats, finer grain).

Appends a markdown section to BENCH/BASELINE.md. Run AFTER
tools/scaling.py (it overwrites the file).

Usage: python tools/layout_probe.py [n_images]
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORK = os.path.join(ROOT, ".fixtures", "layout_probe")


def merge_ranges(cells):
    """Sorted cell ids -> inclusive (lo, hi) ranges, consecutive merged."""
    out = []
    for c in cells:
        if out and c == out[-1][1] + 1:
            out[-1][1] = c
        else:
            out.append([int(c), int(c)])
    return [(lo, hi) for lo, hi in out]


def footer_stats(files, ranges):
    """(n_files, n_live_files, n_rgs, n_live_rgs) by parquet footer
    min/max of cell_id vs the AOI ranges — what a stats-pruning reader
    must decode vs may skip."""
    import pyarrow.parquet as papq

    n_files = n_live_files = n_rgs = n_live_rgs = 0
    for f in files:
        md = papq.ParquetFile(f).metadata
        ci = md.schema.to_arrow_schema().names.index("cell_id")
        file_live = False
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(ci).statistics
            n_rgs += 1
            live = any(st.min <= hi and st.max >= lo for lo, hi in ranges)
            n_live_rgs += live
            file_live = file_live or live
        n_files += 1
        n_live_files += file_live
    return n_files, n_live_files, n_rgs, n_live_rgs


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    import numpy as np
    from pyspark.sql import functions as F

    from kaza_lcms_spark import datagen
    from kaza_lcms_spark.kernels import grid
    from kaza_lcms_spark.operators import spatial_join as SJ
    from kaza_lcms_spark.session import get_spark
    from kaza_lcms_spark.sources import layout as L
    from kaza_lcms_spark.sources.catalog import Catalog

    CELL_LEVEL, PART_LEVEL, N_FILES_PER_PART, PARTS_PER_COMMIT = 10, 6, 8, 4

    d = datagen.ensure_fixtures(n)
    spark = get_spark(app_name="layout-probe", master="local[32]",
                      shuffle_partitions=64)
    imgs = spark.read.parquet(d + "/images.parquet") \
        .select("image_id", "caption", "phash")
    pts = SJ.with_cell(SJ.with_footprint(imgs), level=CELL_LEVEL)

    @F.pandas_udf("long")
    def parent6(cell):
        import pandas as pd
        return pd.Series(grid.parent(cell.to_numpy(), PART_LEVEL))

    tbl = pts.select("image_id", "caption", "phash", "cell_id",
                     parent6(F.col("cell_id")).alias("part")).cache()
    tbl.count()

    if os.path.exists(WORK):
        shutil.rmtree(WORK)
    os.makedirs(WORK)

    # --- ingest both layouts (clustered via the catalog, plain direct)
    cat = Catalog(WORK + "/catalog")
    t0 = time.time()
    # the layout sees a whole commit group, so its file count is per group
    cat.write_partitioned(spark, tbl, "images_clustered", "part",
                          partitions_per_commit=PARTS_PER_COMMIT,
                          layout=lambda p: L.cell_clustered(
                              p, n_files=N_FILES_PER_PART * PARTS_PER_COMMIT))
    t_ingest_c = time.time() - t0
    flat = WORK + "/images_flat"
    t0 = time.time()
    tbl.drop("part").write.parquet(flat)
    t_ingest_p = time.time() - t0

    # --- AOI predicate: unit 0's level-10 Morton cover, merged ranges
    idx = SJ.load_polygon_index_from_fixture()
    cover = np.sort(grid.cover_polygon(idx.rings_x[0], idx.rings_y[0],
                                       CELL_LEVEL)[0])
    ranges = merge_ranges(cover)
    pred = None
    for lo, hi in ranges:
        c = F.col("cell_id").between(lo, hi)
        pred = c if pred is None else pred | c
    aoi_parts = sorted({str(int(p)) for p in
                        np.unique(grid.parent(cover, PART_LEVEL))})
    all_parts = sorted(cat.committed_partitions("images_clustered"))
    sel_parts = [p for p in aoi_parts if p in all_parts]

    agg = [F.count(F.lit(1)).alias("n"),
           F.expr("bit_xor(xxhash64(image_id))").alias("checksum")]

    def q_clustered():
        return cat.read_table(spark, "images_clustered",
                              partitions=sel_parts).where(pred).agg(*agg).collect()

    def q_flat():
        return spark.read.parquet(flat).where(pred).agg(*agg).collect()

    r_c, r_p = q_clustered(), q_flat()
    assert [tuple(r) for r in r_c] == [tuple(r) for r in r_p], \
        f"layouts disagree: {r_c} vs {r_p}"

    def best3(fn):
        b = float("inf")
        for _ in range(3):
            t0 = time.time(); fn(); b = min(b, time.time() - t0)
        return b

    t_c, t_p = best3(q_clustered), best3(q_flat)

    # --- pruning accounting
    man = cat._read_manifest("images_clustered")["partitions"]
    c_files_all = [f for p in man.values() for f in p["files"]]
    c_files_sel = [f for k, p in man.items() if k in set(sel_parts)
                   for f in p["files"]]
    cf, cfl, crg, crgl = footer_stats(c_files_sel, ranges)
    p_files = glob.glob(flat + "/part-*.parquet")
    pf, pfl, prg, prgl = footer_stats(p_files, ranges)
    n_rows = r_c[0]["n"]

    lines = [
        "",
        f"## Clustered-layout AOI scan: {n:,}-image catalog ingest (local[32])",
        "",
        "Same corpus ingested twice — plain parquet (corpus order) vs",
        "`catalog.write_partitioned(layout=cell_clustered)` (parent-cell",
        "manifest partitions, Morton-range files) — then one AOI-bounded",
        f"scan (unit 0, {len(ranges)} merged level-{CELL_LEVEL} cell ranges,",
        f"{n_rows:,} matching rows), identical outputs asserted, best of 3",
        "(`python tools/layout_probe.py`):",
        "",
        "| layout | scan sec | manifest partitions listed | files stats-live | row groups stats-live |",
        "|---|---|---|---|---|",
        f"| plain | {t_p:.2f} | — (all {len(p_files)} files) | {pfl}/{pf} | {prgl}/{prg} |",
        f"| clustered | {t_c:.2f} | {len(sel_parts)}/{len(all_parts)} "
        f"({len(c_files_sel)}/{len(c_files_all)} files) | {cfl}/{cf} | {crgl}/{crg} |",
        "",
        f"Ingest cost: clustered {t_ingest_c:.1f}s vs plain {t_ingest_p:.1f}s",
        "(one range-shuffle per commit group, paid once). The clustered scan",
        f"decodes {crgl}/{prg} of the row groups the plain scan must",
        "consider; at 10¹² rows the manifest level alone keeps the reader",
        "from opening footers outside the AOI's parent cells.",
    ]
    with open(os.path.join(ROOT, "BENCH", "BASELINE.md"), "a") as f:
        f.write("\n".join(lines) + "\n")
    print(f"plain {t_p:.2f}s live_rg {prgl}/{prg}; "
          f"clustered {t_c:.2f}s parts {len(sel_parts)}/{len(all_parts)} "
          f"live_rg {crgl}/{crg}; rows {n_rows}")
    spark.stop()


if __name__ == "__main__":
    main()
