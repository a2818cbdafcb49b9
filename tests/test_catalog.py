"""Checkpoint/lineage layer tests: atomic snapshots, mid-tiling resume
(north rule), resume-equals-single-run (SURVEY.md §5.4)."""

import pytest
from pyspark.sql import functions as F

from kaza_lcms_spark.operators import spatial_join as SJ
from kaza_lcms_spark.sources.catalog import Catalog


@pytest.fixture()
def assigned(spark, fixture_dir):
    imgs = spark.read.parquet(fixture_dir + "/images.parquet")
    idx = SJ.load_polygon_index_from_fixture()
    return SJ.assign_images_fused(spark, imgs, idx).cache()


def test_exists_and_ddl(tmp_path):
    cat = Catalog(str(tmp_path))
    assert not cat.table_exists("t")
    cat.create_table("t")
    assert not cat.table_exists("t")  # no committed snapshot yet


def test_write_read_roundtrip(spark, assigned, tmp_path):
    cat = Catalog(str(tmp_path))
    res = cat.write_partitioned(spark, assigned, "tiles", "unit_id")
    assert res["written"] == 12 and res["skipped"] == 0
    back = cat.read_table(spark, "tiles")
    assert back.count() == assigned.count()
    a = sorted((r["image_id"], r["unit_id"]) for r in back.collect())
    b = sorted((r["image_id"], r["unit_id"]) for r in assigned.collect())
    assert a == b


def test_resume_mid_tiling(spark, assigned, tmp_path):
    """Crash after 1 commit group -> rerun -> identical to single run,
    committed partitions not rewritten."""
    cat = Catalog(str(tmp_path))
    with pytest.raises(RuntimeError, match="injected failure"):
        cat.write_partitioned(spark, assigned, "tiles", "unit_id",
                              partitions_per_commit=3, fail_after=1)
    committed1 = cat.committed_partitions("tiles")
    assert len(committed1) == 3
    lineage1 = {l.partition: l.ts for l in cat.lineage("tiles")}

    res = cat.write_partitioned(spark, assigned, "tiles", "unit_id",
                                partitions_per_commit=3)
    assert res["skipped"] == 3 and res["written"] == 9
    # committed partitions were not rewritten (timestamps unchanged)
    lineage2 = {l.partition: l.ts for l in cat.lineage("tiles")}
    for p in committed1:
        assert lineage2[p] == lineage1[p]

    back = cat.read_table(spark, "tiles")
    assert back.count() == assigned.count()
    # per-partition metrics recorded
    for l in cat.lineage("tiles"):
        assert l.n_rows > 0 and l.wall_s >= 0 and l.files


def test_idempotent_rerun(spark, assigned, tmp_path):
    cat = Catalog(str(tmp_path))
    cat.write_partitioned(spark, assigned, "tiles", "unit_id")
    res = cat.write_partitioned(spark, assigned, "tiles", "unit_id")
    assert res["written"] == 0 and res["skipped"] == 12
    assert cat.read_table(spark, "tiles").count() == assigned.count()


def test_manifest_partition_pruning(spark, assigned, tmp_path):
    """Catalog-side partition pruning: reading 2 of 12 partitions touches
    only their files and returns exactly their rows."""
    cat = Catalog(str(tmp_path))
    cat.write_partitioned(spark, assigned, "tiles", "unit_id")
    sub = cat.read_table(spark, "tiles", partitions=["3", "7"])
    want = assigned.where(F.col("unit_id").isin(3, 7)).count()
    assert sub.count() == want
    assert set(r["unit_id"] for r in sub.select("unit_id").distinct().collect()) == {3, 7}
    # pruned read scans strictly fewer files than the full read
    full_files = sum(len(l.files) for l in cat.lineage("tiles"))
    sub_files = sum(len(l.files) for l in cat.lineage("tiles") if l.partition in ("3", "7"))
    assert 0 < sub_files < full_files


def test_snapshot_time_travel(spark, assigned, tmp_path):
    """Time travel: reads pinned to a historical snapshot reproduce the
    table exactly as of that commit; snapshots() lists the history."""
    cat = Catalog(str(tmp_path))
    cat.write_partitioned(spark, assigned, "tiles", "unit_id",
                          partitions_per_commit=4)  # 12 units -> 3 snapshots
    snaps = cat.snapshots("tiles")
    assert [s["snapshot"] for s in snaps] == [1, 2, 3]
    assert snaps[0]["n_partitions"] == 4 and snaps[2]["n_partitions"] == 12
    assert snaps[0]["n_rows"] < snaps[2]["n_rows"]
    # snapshot-1 sees only the first 4 units' rows
    old = cat.read_table(spark, "tiles", snapshot=1)
    units = {r["unit_id"] for r in old.select("unit_id").distinct().collect()}
    assert len(units) == 4
    assert old.count() == snaps[0]["n_rows"]
    # CURRENT == latest snapshot
    cur = cat.read_table(spark, "tiles")
    latest = cat.read_table(spark, "tiles", snapshot=3)
    assert cur.count() == latest.count() == snaps[2]["n_rows"]
    with pytest.raises(ValueError, match="no snapshot 9"):
        cat.read_table(spark, "tiles", snapshot=9)


def test_cell_clustered_layout_prunes_files(spark, tmp_path):
    """Footer-level proof of the layout contract: after cell_clustered,
    every parquet file covers a cell range disjoint (up to shared
    boundary values) from every other file, and a single-cell probe
    touches at most 2 of the 8 files by min/max stats alone."""
    import glob

    import pyarrow.parquet as papq

    from kaza_lcms_spark.operators import spatial_join as SJ
    from kaza_lcms_spark.sources import layout as L

    from kaza_lcms_spark import datagen
    d = datagen.ensure_fixtures(2000)
    pts = SJ.with_cell(SJ.with_footprint(
        spark.read.parquet(d + "/images.parquet").select("image_id")), level=8)
    out = str(tmp_path / "clustered")
    L.cell_clustered(pts.select("image_id", "cell_id"), n_files=8) \
        .write.parquet(out)

    ranges = []
    for f in sorted(glob.glob(out + "/part-*.parquet")):
        md = papq.ParquetFile(f).metadata
        idx = next(i for i in range(md.num_columns)
                   if md.row_group(0).column(i).path_in_schema == "cell_id")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 4  # really multi-file
    ranges.sort()
    for (_, hi), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi <= lo2, "file cell ranges must not interleave"
    # single-cell probe: stats alone must confine it to <=2 files
    probe = sorted(r["cell_id"] for r in
                   pts.select("cell_id").distinct().collect())
    mid = probe[len(probe) // 2]
    touched = [r for r in ranges if r[0] <= mid <= r[1]]
    assert 1 <= len(touched) <= 2, (mid, ranges)
    # and the AOI-range predicate reaches the parquet scan (PushedFilters),
    # so the footer stats above actually get consulted at read time
    from pyspark.sql import functions as F
    rd = (spark.read.parquet(out)
          .where((F.col("cell_id") >= mid) & (F.col("cell_id") <= mid + 4)))
    plan = rd._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters:", 1)
    assert len(pushed) == 2 and "cell_id" in pushed[1][:200], plan


def test_write_partitioned_with_clustered_layout(spark, tmp_path):
    """Catalog ingest honors the layout hook: every partition's files
    cover pairwise-disjoint cell ranges (footer stats), and the catalog
    read returns exactly the source rows (layout reorders, never
    drops/duplicates)."""
    import pyarrow.parquet as papq

    from kaza_lcms_spark import datagen
    from kaza_lcms_spark.operators import spatial_join as SJ
    from kaza_lcms_spark.sources import layout as L
    from kaza_lcms_spark.sources.catalog import Catalog

    d = datagen.ensure_fixtures(2000)
    pts = SJ.with_cell(SJ.with_footprint(
        spark.read.parquet(d + "/images.parquet").select("image_id")), level=8)
    # level-8 Morton ids carry trailing level bits, so a plain %4 would
    # collapse to one partition — hash-part instead (grouping doesn't
    # matter here; the layout contract is per-partition)
    tbl = pts.select("image_id", "cell_id",
                     F.pmod(F.xxhash64("cell_id"), F.lit(4)).alias("part"))
    cat = Catalog(str(tmp_path / "cat"))
    cat.write_partitioned(spark, tbl, "imgs", "part",
                          layout=lambda p: L.cell_clustered(p, n_files=4))

    man = cat._read_manifest("imgs")["partitions"]
    assert len(man) == 4
    for p in man.values():
        ranges = []
        for f in p["files"]:
            md = papq.ParquetFile(f).metadata
            idx = next(i for i in range(md.num_columns)
                       if md.row_group(0).column(i).path_in_schema == "cell_id")
            sts = [md.row_group(g).column(idx).statistics
                   for g in range(md.num_row_groups)]
            ranges.append((min(s.min for s in sts), max(s.max for s in sts)))
        ranges.sort()
        for (_, hi), (lo2, _) in zip(ranges, ranges[1:]):
            assert hi <= lo2, "clustered partition files must not interleave"
    got = sorted(r["image_id"] for r in
                 cat.read_table(spark, "imgs").collect())
    want = sorted(r["image_id"] for r in tbl.collect())
    assert got == want


def test_partition_values_survive_stringification(spark, tmp_path):
    """Boolean and NULL partition values must not be lost to the
    str(python) vs CAST AS STRING mismatch ('True' vs 'true', 'None' vs
    NULL): every row lands in its partition, and a NULL-vs-'None' key
    collision is refused instead of silently merging manifests."""
    from pyspark.sql import functions as F

    from kaza_lcms_spark.sources.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat_types"))
    bools = spark.range(10).select(
        F.col("id"), (F.col("id") % 2 == 0).alias("flag"))
    res = cat.write_partitioned(spark, bools, "t_bool", "flag")
    assert res["written"] == 2
    rows = {l.partition: l.n_rows for l in cat.lineage("t_bool")}
    assert rows == {"True": 5, "False": 5}
    assert cat.read_table(spark, "t_bool").count() == 10

    nulls = spark.range(10).select(
        F.col("id"),
        F.when(F.col("id") < 3, F.lit(None)).otherwise(F.col("id") % 2)
         .cast("long").alias("pt"))
    r = cat.append_batch(spark, nulls, "t_null", "pt", batch_id=0)
    assert r["n_rows"] == 10
    rows = {l.partition: l.n_rows for l in cat.lineage("t_null")}
    assert rows == {"None": 3, "0": 3, "1": 4}
    assert cat.read_table(spark, "t_null").count() == 10

    clash = spark.range(4).select(
        F.col("id"),
        F.when(F.col("id") < 2, F.lit("None")).otherwise(F.lit(None))
         .alias("pt"))
    with pytest.raises(ValueError, match="collide"):
        cat.write_partitioned(spark, clash, "t_clash", "pt")


def test_vacuum_removes_only_unreferenced_files(spark, tmp_path):
    """vacuum deletes files no snapshot references (a write that died
    before its manifest commit) and keeps every snapshot-referenced
    file — time travel to the pre-append snapshot still reproduces it."""
    from pyspark.sql import functions as F

    from kaza_lcms_spark.sources.catalog import Catalog

    cat = Catalog(str(tmp_path / "cat_vac"))
    df = spark.range(20).select(F.col("id"), (F.col("id") % 2).alias("pt"))
    cat.write_partitioned(spark, df, "t", "pt")
    cat.append_batch(spark, df, "t", "pt", batch_id=0)
    snap1_rows = cat.read_table(spark, "t", snapshot=1).count()

    # a crashed write: files on disk, no manifest commit
    (orphan_files, n), = cat._write_group(
        df.where(F.col("pt") == 0), "t", "pt", [(0, "0")])[0].values()
    assert n == 10 and all(__import__("os").path.exists(f) for f in orphan_files)

    dry = cat.vacuum("t", dry_run=True)
    assert dry["removed"] >= len(orphan_files)
    assert all(__import__("os").path.exists(f) for f in orphan_files)

    res = cat.vacuum("t")
    assert res["removed"] == dry["removed"]
    assert res["bytes_reclaimed"] > 0
    assert not any(__import__("os").path.exists(f) for f in orphan_files)

    # committed data intact at CURRENT and at the historical snapshot
    assert cat.read_table(spark, "t").count() == 40
    assert cat.read_table(spark, "t", snapshot=1).count() == snap1_rows
    # idempotent: second vacuum finds nothing (sidecars already gone)
    assert cat.vacuum("t")["removed"] == 0


def test_vacuum_root_spelling_independent(spark, tmp_path):
    """r6 advice fix: manifests store file paths as the WRITER spelled
    them; a vacuum through a differently-spelled root (symlink, other
    CWD, trailing segments) must not classify every committed file as
    orphaned. The fix compares the data/<part>=<key>/<uuid>/<file>
    suffix instead of CWD-resolved absolute paths."""
    import os

    from kaza_lcms_spark.sources.catalog import Catalog

    real_root = tmp_path / "cat_spell"
    cat = Catalog(str(real_root))
    df = spark.range(20).select(F.col("id"), (F.col("id") % 2).alias("pt"))
    cat.write_partitioned(spark, df, "t", "pt")

    link = tmp_path / "cat_link"
    os.symlink(real_root, link)
    cat2 = Catalog(str(link))            # same table, different spelling
    dry = cat2.vacuum("t", dry_run=True)
    assert dry["kept"] > 0               # committed parquet recognized
    res = cat2.vacuum("t")
    assert res["kept"] == dry["kept"]    # only sidecars (_SUCCESS/.crc) go
    assert cat.read_table(spark, "t").count() == 20


def _by_partition(cat, spark, name, col):
    """{partition key: sorted rows} read through the catalog."""
    out = {}
    for r in cat.read_table(spark, name).collect():
        out.setdefault(str(r[col]), []).append(tuple(r))
    return {k: sorted(v) for k, v in out.items()}


def test_group_write_null_and_bool_keys_in_one_commit(spark, tmp_path):
    """One commit group holding a NULL key next to boolean keys: every
    row lands in its own key (lineage, footer counts and read-back all
    agree with a groupBy of the input), in one snapshot."""
    cat = Catalog(str(tmp_path / "cat_group_types"))
    df = spark.range(20).select(
        F.col("id"),
        F.when(F.col("id") < 3, F.lit(None))
         .otherwise(F.col("id") % 3 == 0).alias("flag"))
    res = cat.write_partitioned(spark, df, "t", "flag",
                                partitions_per_commit=4)
    assert res == {"written": 3, "skipped": 0, "snapshots": 1}
    want = {str(r["flag"]): r["count"]
            for r in df.groupBy("flag").count().collect()}
    assert want == {"None": 3, "True": 6, "False": 11}
    assert {l.partition: l.n_rows for l in cat.lineage("t")} == want
    back = _by_partition(cat, spark, "t", "flag")
    assert {k: len(v) for k, v in back.items()} == want
    # one write job: every partition of the group shares its wall
    assert len({l.wall_s for l in cat.lineage("t")}) == 1


def test_crash_then_vacuum_then_resume(spark, assigned, tmp_path,
                                       monkeypatch):
    """A run that commits one group (fail_after=1), then a run that dies
    between its group's Spark write and the manifest commit: vacuum
    removes the leftover staged files and keeps every committed file,
    and the resumed table equals a single run partition by partition."""
    import glob
    import os

    import pyarrow.parquet as papq

    cat = Catalog(str(tmp_path / "cat_crash"))
    with pytest.raises(RuntimeError, match="injected failure"):
        cat.write_partitioned(spark, assigned, "tiles", "unit_id",
                              partitions_per_commit=4, fail_after=1)
    committed = [f for l in cat.lineage("tiles") for f in l.files]
    assert len(cat.committed_partitions("tiles")) == 4

    def died(*_a, **_k):
        raise RuntimeError("driver died before commit")

    with monkeypatch.context() as m:
        m.setattr(papq, "read_metadata", died)
        with pytest.raises(RuntimeError, match="driver died"):
            cat.write_partitioned(spark, assigned, "tiles", "unit_id",
                                  partitions_per_commit=4)
    ddir = os.path.join(str(tmp_path / "cat_crash"), "tiles", "data")
    staged = glob.glob(os.path.join(ddir, "_stage-*", "*", "*.parquet"))
    assert staged
    assert len(cat.committed_partitions("tiles")) == 4

    res = cat.vacuum("tiles")
    assert res["removed"] >= len(staged)
    assert not glob.glob(os.path.join(ddir, "_stage-*"))
    assert all(os.path.exists(f) for f in committed)

    resumed = cat.write_partitioned(spark, assigned, "tiles", "unit_id",
                                    partitions_per_commit=4)
    assert resumed["skipped"] == 4 and resumed["written"] == 8
    single = Catalog(str(tmp_path / "cat_single"))
    single.write_partitioned(spark, assigned, "tiles", "unit_id",
                             partitions_per_commit=4)
    assert ({l.partition: l.n_rows for l in cat.lineage("tiles")}
            == {l.partition: l.n_rows for l in single.lineage("tiles")})
    assert (_by_partition(cat, spark, "tiles", "unit_id")
            == _by_partition(single, spark, "tiles", "unit_id"))
    assert (cat.vacuum("tiles")["kept"]
            == sum(len(l.files) for l in cat.lineage("tiles")))


def test_append_batch_jobs_do_not_grow_with_partitions(spark, tmp_path):
    """A micro-batch is one write job and one snapshot whatever its
    partition count: appending 64 partition values runs no more Spark
    jobs than appending 2, and every lineage count equals a groupBy of
    the input."""
    import uuid

    sc = spark.sparkContext
    cat = Catalog(str(tmp_path / "cat_linear"))

    def append_jobs(n_values: int):
        df = spark.range(640).select(
            F.col("id"), (F.col("id") % n_values).alias("pt"))
        group = f"catalog-linear-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            cat.append_batch(spark, df, f"t{n_values}", "pt", batch_id=0)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        want = {str(r["pt"]): r["count"]
                for r in df.groupBy("pt").count().collect()}
        got = {l.partition: l.n_rows for l in cat.lineage(f"t{n_values}")}
        assert got == want and len(got) == n_values
        assert len(cat.snapshots(f"t{n_values}")) == 1
        return len(sc.statusTracker().getJobIdsForGroup(group))

    jobs2 = append_jobs(2)
    jobs64 = append_jobs(64)
    assert 0 < jobs64 <= jobs2, (jobs2, jobs64)
