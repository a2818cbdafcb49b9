"""Physical-plan audits: the optimizations SURVEY.md §4 promises must be
visible in `.explain` output — column pruning to the scan, a shuffle-free
flagship, broadcast extraction joins, partial aggregation.
"""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from kaza_lcms_spark.operators import spatial_join as SJ


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_flagship_has_no_shuffle(spark, fixture_dir):
    """Tile assignment is a narrow map: broadcast polygon index probe, no
    Exchange anywhere in the per-row plan."""
    imgs = spark.read.parquet(fixture_dir + "/images.parquet")
    idx = SJ.load_polygon_index_from_fixture()
    plan = plan_of(SJ.assign_images_fused(spark, imgs, idx))
    assert "Exchange" not in plan, plan


_PYTHON_NODE = re.compile(
    r"^[\s+\-:]*(?:\*\(\d+\) )?(\w*(?:Python|InPandas|InArrow)\w*)")


def python_nodes(df) -> list[str]:
    """Names of the Python-evaluation nodes in the (pre-AQE) physical
    plan: pandas/Arrow UDF projections and map/group kernels."""
    return [m.group(1) for ln in plan_of(df).splitlines()
            if (m := _PYTHON_NODE.match(ln))]


def test_tile_assignment_is_one_arrow_kernel(spark):
    """Every containment join crosses into Python exactly once: the
    shared mapInArrow kernel, with no pandas-UDF prefilter before it."""
    import __spark_entry__ as E
    from kaza_lcms_spark import datagen
    from tests.test_oracle_parity import SF_DIR

    idx = SJ.load_polygon_index_from_fixture()
    lon, lat = datagen.footprint_from_ids(np.arange(64, dtype=np.int64))
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))],
        "pt_id long, lon double, lat double")
    assert python_nodes(SJ.assign_tiles(spark, pts, idx,
                                        keep_cols=("pt_id",))) == ["MapInArrow"]
    zonal = E.queries()["tile_zonal"](spark, SF_DIR)
    assert python_nodes(zonal) == ["MapInArrow"]


def test_flagship_scan_prunes_columns(spark, fixture_dir):
    """The join needs only image_id — the parquet ReadSchema must not
    include the binary payload."""
    imgs = spark.read.parquet(fixture_dir + "/images.parquet")
    idx = SJ.load_polygon_index_from_fixture()
    plan = plan_of(SJ.assign_images_fused(spark, imgs, idx))
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan and "bytes" not in scan[0], scan


def test_zonal_has_partial_aggregation(spark, fixture_dir):
    """zonal_stats goes partial -> exchange -> final (map-side combine)."""
    imgs = spark.read.parquet(fixture_dir + "/images.parquet")
    idx = SJ.load_polygon_index_from_fixture()
    plan = plan_of(SJ.zonal_stats(SJ.assign_images_fused(spark, imgs, idx)))
    assert "partial_count" in plan, plan


def test_filter_pushdown_reaches_scan(spark, fixture_dir):
    imgs = spark.read.parquet(fixture_dir + "/images.parquet")
    df = imgs.where(F.col("fmt") == "raw").select("image_id")
    scan = [ln for ln in plan_of(df).splitlines() if "FileScan" in ln][0]
    assert "PushedFilters" in scan and "fmt" in scan, scan


def test_stratified_topk_plans_a_group_limit(spark):
    """Both forms of stratified_topk bound row_number by a literal, so
    each task keeps only its best n rows per class before the shuffle
    (WindowGroupLimit Partial); the dict form's per-class map lookup
    alone plans none."""
    from kaza_lcms_spark.operators import sampling as S

    df = spark.range(400).select("id", (F.col("id") % 4).alias("cls"))
    for n in (50, {0: 10, 1: 50, 2: 5, 3: 0}):
        plan = plan_of(S.stratified_topk(df, "cls", "id", n))
        assert re.search(r"WindowGroupLimit .*, 50, Partial", plan), plan


def test_extraction_join_broadcasts_small_side(spark, fixture_dir):
    """02train_test extraction: sampled points (small) joined to the cell
    table — AQE/Catalyst must pick a broadcast hash join, not SMJ."""
    lc = spark.read.parquet(fixture_dir + "/landcover_cells.parquet")
    pts = lc.limit(500).select("cell_id", "LANDCOVER")
    j = pts.join(lc.select("cell_id", "blue", "nir"), "cell_id")
    j.collect()  # let AQE finalize
    plan = plan_of(j)
    assert "BroadcastHashJoin" in plan, plan


def test_composite_build_is_two_shuffles(spark, fixture_dir):
    """The fused composite pipeline's physical plan: exactly one Exchange
    for the halo-tile morphology groupBy and one for the fused
    percentile+harmonic hash-agg — and no SinglePartition anywhere."""
    from kaza_lcms_spark.operators import composite_pipeline as CP
    # the no-op filter makes the logical plan distinct from other tests'
    # CACHED build_composite call — otherwise the cache manager swaps in
    # an InMemoryTableScan and hides the real plan
    ts = (spark.read.parquet(fixture_dir + "/s2_timeseries.parquet")
          .where(F.col("cell_id") >= -1))
    plan = plan_of(CP.build_composite(ts))
    assert plan.count("Exchange") == 2, plan
    assert "SinglePartition" not in plan, plan


def test_cloud_mask_is_one_shuffle(spark, fixture_dir):
    """The cloud mask has one plan, the halo-tile morphology: one
    Exchange, where the relational erode-then-dilate needs four."""
    from kaza_lcms_spark.operators import composite_pipeline as CP
    ts = (spark.read.parquet(fixture_dir + "/s2_timeseries.parquet")
          .where(F.col("cell_id") >= -1))
    plan = plan_of(CP.add_cloud_mask(ts))
    assert plan.count("Exchange") == 1, plan


def test_session_defaults(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"


def test_allocation_file_staging_ignores_planted_symlink(tmp_path, monkeypatch):
    """The fair-scheduler file is staged under an O_EXCL temp name: a
    symlink planted at the old predictable ``<path>.<pid>.tmp`` name is
    neither followed nor written through, and the final path holds the
    packaged XML as a regular file."""
    import os
    import tempfile

    from kaza_lcms_spark import session

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(session, "_ALLOC_FILE", [])
    path = str(tmp_path / f"kaza-fairscheduler-{os.getuid()}.xml")
    victim = tmp_path / "victim.txt"
    victim.write_text("keep me")
    planted = f"{path}.{os.getpid()}.tmp"
    os.symlink(victim, planted)

    got = session._allocation_file()
    assert got == path
    assert victim.read_text() == "keep me"
    assert os.path.islink(planted)
    assert not os.path.islink(path)
    with open(path) as f:
        assert "rf-slot-0" in f.read()
    # no staging file is left behind next to the final path
    assert sorted(os.listdir(tmp_path)) == sorted(
        [os.path.basename(path), "victim.txt", os.path.basename(planted)])


def test_bucketed_join_is_shuffle_free(spark, fixture_dir, tmp_path):
    """Co-located join via bucketing (SURVEY.md §4 partitioning row): two
    tables bucketed+sorted on cell_id join with ZERO Exchange — the
    pre-shuffled layout a 100 TB deployment would maintain for repeated
    cell-keyed joins."""
    import shutil
    lc = spark.read.parquet(fixture_dir + "/landcover_cells.parquet")
    spark.sql("DROP TABLE IF EXISTS bt_cells")
    spark.sql("DROP TABLE IF EXISTS bt_bands")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("bt_cells", "bt_bands"):  # orphaned dirs from aborted runs
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    (lc.select("cell_id", "LANDCOVER").write.bucketBy(8, "cell_id")
       .sortBy("cell_id").mode("overwrite").saveAsTable("bt_cells"))
    (lc.select("cell_id", "blue", "nir").write.bucketBy(8, "cell_id")
       .sortBy("cell_id").mode("overwrite").saveAsTable("bt_bands"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path (small fixtures would broadcast) so the
        # bucketed layout's shuffle-freeness is what the plan shows
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bt_cells").join(spark.table("bt_bands"), "cell_id")
        plan = plan_of(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning(cell_id" not in plan, plan
    spark.sql("DROP TABLE bt_cells"); spark.sql("DROP TABLE bt_bands")


def test_python_kernel_stages_pin_partition_counts(spark, fixture_dir):
    """Every compute-heavy Python-kernel stage must hash-distribute via
    an explicit-N repartition (REPARTITION_BY_NUM): AQE's coalescing
    sizes partitions by shuffled bytes and cannot see per-row kernel
    cost, so without the pin a few MB feeding an O(n²) kernel collapse
    to 1-2 tasks (measured 10× on a 30k-row hot cell)."""
    from kaza_lcms_spark.operators import knn as KNN

    imgs = spark.read.parquet(fixture_dir + "/images.parquet") \
        .select("image_id", "phash")
    pts = SJ.with_cell(SJ.with_footprint(imgs), level=8)
    knn_plan = plan_of(KNN.knn_per_cell(pts, k=3))
    assert "REPARTITION_BY_NUM" in knn_plan, knn_plan

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    blk_plan = plan_of(KNN.cosine_topk_blocked(spark, emb, k=3))
    assert "REPARTITION_BY_NUM" in blk_plan, blk_plan
    ivf_plan = plan_of(KNN.cosine_topk_ivf(spark, emb, k=3, n_centroids=4,
                                           nprobe=2))
    assert "REPARTITION_BY_NUM" in ivf_plan, ivf_plan
