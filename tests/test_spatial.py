"""Spatial-join operator tests: engine output vs brute-force numpy truth.

Reference parity targets: sampleRegions / paint tile membership
(/root/reference/src/utils/sampling.py:148-153,
/root/reference/src/utils/s2process.py:172) — every image→unit assignment
must match brute-force PIP row-for-row (SURVEY.md §5.3).
"""

import collections

import numpy as np
import pytest
from pyspark.sql import functions as F

from kaza_lcms_spark import datagen
from kaza_lcms_spark.kernels import geom
from kaza_lcms_spark.operators import spatial_join as sj
from tests.conftest import N_IMAGES


@pytest.fixture(scope="module")
def poly_index(spark, fixture_dir):
    return sj.load_polygon_index(spark.read.parquet(fixture_dir + "/aoi_polygons.parquet"))


@pytest.fixture(scope="module")
def assigned(spark, fixture_dir, poly_index):
    imgs = spark.read.parquet(fixture_dir + "/images.parquet")
    return sj.assign_tiles(spark, sj.with_footprint(imgs), poly_index).cache()


def test_tile_assignment_row_for_row(assigned, poly_index, truth_lonlat):
    lon, lat = truth_lonlat
    pi, units = poly_index.probe(lon, lat)
    truth = {f"img_{i:012d}": int(u) for i, u in zip(pi, units)}
    got = {r["image_id"]: r["unit_id"] for r in assigned.collect()}
    assert got == truth


def test_zonal_counts(assigned, poly_index, truth_lonlat):
    lon, lat = truth_lonlat
    _, units = poly_index.probe(lon, lat)
    truth = collections.Counter(int(u) for u in units)
    rows = sj.zonal_stats(assigned).collect()
    assert {r["unit_id"]: r["n"] for r in rows} == dict(truth)


def test_distance_join_vs_bruteforce(spark, truth_lonlat):
    n = 400
    lon, lat = truth_lonlat
    lon, lat = lon[:n], lat[:n]
    radius = 0.15
    pdf = spark.createDataFrame(
        [(int(i), float(lon[i]), float(lat[i])) for i in range(n)],
        "pt_id long, lon double, lat double",
    )
    pairs = sj.distance_join(pdf, radius)
    got = sorted((r["a"], r["b"]) for r in pairs.collect())
    truth = []
    for i in range(n):
        d2 = (lon - lon[i]) ** 2 + (lat - lat[i]) ** 2
        for j in np.flatnonzero(d2 <= radius * radius):
            if i < j:
                truth.append((i, int(j)))
    assert got == sorted(truth)
    assert len(got) > 0


def test_thinning_deterministic_and_sparse(spark, truth_lonlat):
    n = 400
    lon, lat = truth_lonlat
    pdf = spark.createDataFrame(
        [(int(i), float(lon[i]), float(lat[i])) for i in range(n)],
        "pt_id long, lon double, lat double",
    )
    radius = 0.2
    kept1 = sorted(r["pid"] for r in sj.thin_points(pdf, radius).collect())
    kept2 = sorted(r["pid"] for r in sj.thin_points(pdf.repartition(7), radius).collect())
    assert kept1 == kept2, "thinning must be partitioning-independent"
    assert 0 < len(kept1) < n
    # kept set is sparse: no two kept points within radius
    kl = np.array(kept1)
    kx, ky = lon[kl], lat[kl]
    d2 = (kx[:, None] - kx[None, :]) ** 2 + (ky[:, None] - ky[None, :]) ** 2
    np.fill_diagonal(d2, np.inf)
    assert d2.min() > radius * radius


def test_footprint_matches_datagen(spark, fixture_dir, truth_lonlat):
    lon, lat = truth_lonlat
    imgs = spark.read.parquet(fixture_dir + "/images.parquet")
    rows = sj.with_footprint(imgs).select("image_id", "lon", "lat").collect()
    for r in rows[:100]:
        i = int(r["image_id"][4:])
        assert r["lon"] == lon[i] and r["lat"] == lat[i]


def test_phash_batch_matches_scalar(fixture_dir):
    import pyarrow.parquet as pq
    from kaza_lcms_spark.kernels import codec
    t = pq.read_table(fixture_dir + "/images.parquet").to_pandas().head(50)
    for _, row in t.iterrows():
        px, fmt = codec.decode(row["bytes"])
        assert fmt == row["fmt"]
        if fmt != "quant":
            assert codec.phash64(px) == row["phash"]


def test_codec_invariants(fixture_dir):
    """Decode every fixture image: lossless exact round-trip not checkable
    without originals, but PSNR invariant for quant is (re-encode check)."""
    import pyarrow.parquet as pq
    from kaza_lcms_spark.kernels import codec
    t = pq.read_table(fixture_dir + "/images.parquet").to_pandas().head(200)
    for _, row in t.iterrows():
        px, fmt = codec.decode(row["bytes"])
        assert px.shape == (row["h"], row["w"])
        if fmt == "quant":
            # decode is idempotent: re-encode+decode identical
            px2, _ = codec.decode(codec.encode(px, "quant"))
            assert codec.psnr(px, px2) >= 40.0


def test_fused_equals_staged(spark, fixture_dir, poly_index):
    imgs = spark.read.parquet(fixture_dir + "/images.parquet")
    staged = sj.assign_tiles(spark, sj.with_footprint(imgs), poly_index)
    fused = sj.assign_images_fused(spark, imgs, poly_index)
    a = sorted((r["image_id"], r["unit_id"], r["cell_id"]) for r in staged.collect())
    b = sorted((r["image_id"], r["unit_id"], r["cell_id"]) for r in fused.collect())
    assert a == b


def test_large_var_types_take_the_object_path(spark, fixture_dir, poly_index):
    """With 64-bit Arrow offsets (large_binary/large_string batches) the
    zero-copy views do not apply; decode_stats and the fused assignment
    must take their object paths and give the same output."""
    from kaza_lcms_spark.sources import images as IMG
    imgs = spark.read.parquet(fixture_dir + "/images.parquet")

    def run():
        return (sorted(tuple(r) for r in IMG.decode_stats(imgs).collect()),
                sorted(tuple(r) for r in
                       sj.assign_images_fused(spark, imgs, poly_index).collect()))

    want = run()
    key = "spark.sql.execution.arrow.useLargeVarTypes"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        got = run()
    finally:
        spark.conf.set(key, old)
    assert got == want and len(want[0]) == N_IMAGES


def test_parse_arrow_ids_fast_and_object_paths_agree():
    import pyarrow as pa
    ids = [f"img_{i:012d}" for i in (0, 7, 123456789012, 999999999999)]
    want = np.array([0, 7, 123456789012, 999999999999])
    for arr in (pa.array(ids), pa.array(ids, pa.large_string()),
                pa.array(["x"] + ids).slice(1)):
        np.testing.assert_array_equal(sj._parse_arrow_ids(arr), want)
    with pytest.raises(pa.ArrowInvalid):
        sj._parse_arrow_ids(pa.array(ids[:2] + ["img_00000000001x"]))


def test_thinning_exact_matches_sequential_greedy(spark, truth_lonlat):
    n = 400
    lon, lat = truth_lonlat
    pdf = spark.createDataFrame(
        [(int(i), float(lon[i]), float(lat[i])) for i in range(n)],
        "pt_id long, lon double, lat double",
    )
    radius = 0.2
    got = sorted(r["pid"] for r in sj.thin_points_exact(pdf, radius).collect())
    # sequential greedy truth (the reference's iterate fold)
    kept = []
    for i in range(n):
        ok = True
        for j in kept:
            if (lon[i] - lon[j]) ** 2 + (lat[i] - lat[j]) ** 2 <= radius * radius:
                ok = False
                break
        if ok:
            kept.append(i)
    assert got == kept
    # and it is partitioning-independent
    got2 = sorted(r["pid"] for r in
                  sj.thin_points_exact(pdf.repartition(7), radius).collect())
    assert got2 == kept


def test_verify_invariants_contract(spark, fixture_dir):
    """BASELINE.json::input_hint per-row invariant: lossless fmts round-trip
    byte-exactly with matching phash; the lossy fmt re-encodes at
    PSNR >= 40 dB."""
    from kaza_lcms_spark.sources import images as IMG
    imgs = spark.read.parquet(fixture_dir + "/images.parquet")
    rows = {r["fmt"]: r for r in IMG.verify_invariants(imgs).collect()}
    assert set(rows) == {"raw", "rle", "quant"}
    for fmt in ("raw", "rle"):
        r = rows[fmt]
        assert r["n_roundtrip_ok"] == r["n"], fmt
        assert r["n_phash_ok"] == r["n"], fmt
    assert rows["quant"]["min_psnr"] >= 40.0


def test_assign_tiles_concave_polygons(spark):
    """The index probe path must handle NON-convex polygons: L-shape and
    notched rectangle vs the driver-side probe on a point grid."""
    L = (np.array([0, 4, 4, 2, 2, 0], float), np.array([0, 0, 2, 2, 4, 4], float))
    notch = (np.array([5, 9, 9, 7.5, 7, 6.5, 5], float),
             np.array([0, 0, 4, 4, 1.5, 4, 4], float))
    pi = geom.PolygonIndex([1, 2], [L[0], notch[0]], [L[1], notch[1]])
    rng = np.random.default_rng(4)
    px = rng.random(2000) * 10 - 0.5
    py = rng.random(2000) * 5 - 0.5
    pdf = spark.createDataFrame(
        [(int(i), float(px[i]), float(py[i])) for i in range(2000)],
        "pt_id long, lon double, lat double")
    got = {r["pt_id"]: r["unit_id"] for r in
           sj.assign_tiles(spark, pdf, pi, keep_cols=("pt_id",)).collect()}
    ti, tu = pi.probe(px, py)
    truth = {int(i): int(u) for i, u in zip(ti, tu)}
    assert got == truth


def test_cell_expr_matches_numpy_encode(spark):
    """r6 optimization: with_cell became a JVM column expression — it
    must reproduce kernels.grid.encode bit-for-bit, including clip
    boundaries and out-of-range coordinates."""
    from kaza_lcms_spark.kernels import grid

    rng = np.random.default_rng(7)
    lon = np.concatenate([rng.uniform(-200, 200, 5000),
                          [-180.0, 180.0, 0.0, -1e-12, 179.9999999999]])
    lat = np.concatenate([rng.uniform(-100, 100, 5000),
                          [-90.0, 90.0, 0.0, -1e-12, 89.9999999999]])
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lon, lat)], "lon double, lat double")
    for level in (0, 8, 10, 14, 24, 27):
        got = np.array([r[0] for r in
                        sj.with_cell(df, level).select("cell_id").collect()])
        want = grid.encode(lon, lat, level)
        assert (got == want).all(), f"level {level} mismatch"


def test_decode_batch_matches_scalar(fixture_dir):
    """r6 optimization: decode_stats moved to codec.decode_batch — it
    must reproduce per-image codec.decode bit-for-bit across all fmts."""
    import pyarrow.parquet as pq
    from kaza_lcms_spark.kernels import codec
    t = pq.read_table(fixture_dir + "/images.parquet").to_pandas().head(500)
    blobs = [bytes(x) for x in t["bytes"]]
    pxs, fmts = codec.decode_batch(blobs)
    assert len(pxs) == len(blobs)
    for blob, px, fmt in zip(blobs, pxs, fmts):
        spx, sfmt = codec.decode(blob)
        assert fmt == sfmt
        assert px.dtype == spx.dtype and px.shape == spx.shape
        assert (px == spx).all()


def test_decode_batch_views_matches_scalar(fixture_dir):
    """r6: decode_stats moved to Arrow buffer views — decode_batch_views
    must reproduce per-image codec.decode bit-for-bit across fmts."""
    import pyarrow.parquet as pq
    from kaza_lcms_spark.kernels import codec
    t = pq.read_table(fixture_dir + "/images.parquet").to_pandas().head(500)
    blobs = [bytes(x) for x in t["bytes"]]
    data = np.frombuffer(b"".join(blobs), dtype=np.uint8)
    off = np.zeros(len(blobs) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in blobs], out=off[1:])
    pxs, fmts = codec.decode_batch_views(data, off)
    for blob, px, fmt in zip(blobs, pxs, fmts):
        spx, sfmt = codec.decode(blob)
        assert fmt == sfmt and px.shape == spx.shape and (px == spx).all()
