"""Unit tests for the pure-numpy kernel layer (no Spark) — SURVEY.md §5.1."""

import struct

import numpy as np
import pytest

from kaza_lcms_spark.kernels import codec, geom, grid, rand


# ---------------------------------------------------------------- grid

def test_encode_decode_roundtrip():
    rng = np.random.default_rng(7)
    lon = rng.uniform(-180, 179.999, 2000)
    lat = rng.uniform(-90, 89.999, 2000)
    for level in (0, 1, 5, 12, 20, 27):
        cid = grid.encode(lon, lat, level)
        assert (cid >= 0).all()
        ix, iy, lv = grid.decode_ixiy(cid)
        assert (lv == level).all()
        eix, eiy = grid.lonlat_to_ixiy(lon, lat, level)
        np.testing.assert_array_equal(ix, eix.astype(np.int64))
        np.testing.assert_array_equal(iy, eiy.astype(np.int64))
        x0, y0, x1, y1 = grid.cell_bounds(cid)
        assert ((lon >= x0) & (lon < x1 + 1e-9)).all()
        assert ((lat >= y0) & (lat < y1 + 1e-9)).all()


def test_parent_consistency():
    rng = np.random.default_rng(8)
    lon = rng.uniform(18, 27, 500)   # KAZA bbox
    lat = rng.uniform(-20.5, -13.5, 500)
    fine = grid.encode(lon, lat, 15)
    for pl in (14, 10, 5):
        par = grid.parent(fine, pl)
        direct = grid.encode(lon, lat, pl)
        np.testing.assert_array_equal(par, direct)


def test_children_inverse_of_parent():
    c = grid.encode(np.array([22.0]), np.array([-17.0]), 8)[0]
    kids = grid.children(int(c))
    assert len(kids) == 4
    np.testing.assert_array_equal(grid.parent(kids, 8), np.full(4, c))


def test_neighbors_are_adjacent():
    c = grid.encode(np.array([22.0]), np.array([-17.0]), 10)
    nb = grid.neighbors(c)[0]
    assert len(nb) == 9
    ix0, iy0, _ = grid.decode_ixiy(c)
    ix, iy, lv = grid.decode_ixiy(nb)
    assert (lv == 10).all()
    assert (np.abs(ix - ix0[0]) <= 1).all() and (np.abs(iy - iy0[0]) <= 1).all()
    assert len(np.unique(nb)) == 9  # interior cell: all distinct


def test_cover_bbox_contains_points():
    level = 9
    cells = grid.cover_bbox(20.0, -19.0, 24.0, -15.0, level)
    rng = np.random.default_rng(9)
    lon = rng.uniform(20.0, 24.0, 300)
    lat = rng.uniform(-19.0, -15.0, 300)
    pc = grid.encode(lon, lat, level)
    assert np.isin(pc, cells).all()


def test_cover_polygon_superset_of_members():
    xs = np.array([20.0, 25.0, 24.0, 21.0])
    ys = np.array([-19.0, -18.5, -14.0, -15.0])
    cells, _ = grid.cover_polygon(xs, ys, 9)
    rng = np.random.default_rng(10)
    lon = rng.uniform(xs.min(), xs.max(), 3000)
    lat = rng.uniform(ys.min(), ys.max(), 3000)
    inside = geom.points_in_polygon(lon, lat, xs, ys)
    pc = grid.encode(lon[inside], lat[inside], 9)
    assert np.isin(pc, cells).all()
    # and the refinement actually pruned something vs the bbox cover
    assert len(cells) < len(grid.cover_bbox(xs.min(), ys.min(), xs.max(), ys.max(), 9))


# ---------------------------------------------------------------- geom

def test_pip_square():
    xs = np.array([0.0, 4.0, 4.0, 0.0])
    ys = np.array([0.0, 0.0, 4.0, 4.0])
    px = np.array([2.0, 5.0, -1.0, 2.0, 2.0])
    py = np.array([2.0, 2.0, 2.0, 5.0, -1.0])
    np.testing.assert_array_equal(
        geom.points_in_polygon(px, py, xs, ys), [True, False, False, False, False]
    )


def test_pip_concave_and_vertex_edges():
    # L-shaped (concave) polygon
    xs = np.array([0.0, 4.0, 4.0, 2.0, 2.0, 0.0])
    ys = np.array([0.0, 0.0, 2.0, 2.0, 4.0, 4.0])
    px = np.array([1.0, 3.0, 3.0, 1.0])
    py = np.array([1.0, 1.0, 3.0, 3.0])
    np.testing.assert_array_equal(
        geom.points_in_polygon(px, py, xs, ys), [True, True, False, True]
    )


def test_pip_matches_matplotlib_free_bruteforce():
    rng = np.random.default_rng(11)
    xs = np.array([1.0, 6.0, 8.0, 5.0, 3.0, 0.5])
    ys = np.array([0.0, -1.0, 3.0, 6.0, 5.0, 3.0])
    px = rng.uniform(-1, 9, 5000)
    py = rng.uniform(-2, 7, 5000)
    got = geom.points_in_polygon(px, py, xs, ys)
    # winding-number oracle
    exp = np.zeros(len(px), dtype=bool)
    for k in range(len(px)):
        ang = 0.0
        for i in range(len(xs)):
            j = (i + 1) % len(xs)
            a = np.arctan2(ys[i] - py[k], xs[i] - px[k])
            b = np.arctan2(ys[j] - py[k], xs[j] - px[k])
            d = b - a
            while d > np.pi:
                d -= 2 * np.pi
            while d < -np.pi:
                d += 2 * np.pi
            ang += d
        exp[k] = abs(ang) > np.pi
    assert (got == exp).mean() > 0.999  # boundary-grazing points may differ


def test_tiling_polygons_assign_each_point_once():
    # two squares sharing an edge at x=2 — shared-border points go to exactly one
    idx = geom.PolygonIndex(
        unit_ids=[1, 2],
        rings_x=[np.array([0.0, 2.0, 2.0, 0.0]), np.array([2.0, 4.0, 4.0, 2.0])],
        rings_y=[np.array([0.0, 0.0, 2.0, 2.0]), np.array([0.0, 0.0, 2.0, 2.0])],
    )
    px = np.array([1.0, 3.0, 2.0, 2.0])
    py = np.array([1.0, 1.0, 1.0, 0.5])
    pi, units = idx.probe(px, py)
    assert len(pi) == 4
    got = dict(zip(pi.tolist(), units.tolist()))
    assert got[0] == 1 and got[1] == 2
    assert got[2] in (1, 2) and got[3] in (1, 2)  # deterministic either way
    pi2, units2 = idx.probe(px, py)
    np.testing.assert_array_equal(units, units2)


def test_probe_keeps_negative_and_duplicate_unit_ids():
    # assignment is a mask, not a -1 sentinel: a negative unit_id is a unit
    sq = (np.array([0.0, 2.0, 2.0, 0.0]), np.array([0.0, 0.0, 2.0, 2.0]))
    px, py = np.array([1.0, 4.0, 9.0]), np.array([1.0, 1.0, 1.0])
    idx = geom.PolygonIndex([-5, 3], [sq[0], sq[0] + 3], [sq[1], sq[1]])
    pi, units = idx.probe(px, py)
    assert pi.tolist() == [0, 1] and units.tolist() == [-5, 3]
    # a duplicate unit_id names one unit over both rings; the lower
    # unit_id still wins where rings overlap
    idx = geom.PolygonIndex([7, 7, 2], [sq[0], sq[0] + 3, sq[0]], [sq[1], sq[1], sq[1]])
    pi, units = idx.probe(px, py)
    assert pi.tolist() == [0, 1] and units.tolist() == [2, 7]


def test_polygon_area():
    xs = np.array([0.0, 4.0, 4.0, 0.0])
    ys = np.array([0.0, 0.0, 3.0, 3.0])
    assert geom.polygon_area(xs, ys) == pytest.approx(12.0)


def test_haversine_known_value():
    # 1 degree of latitude ≈ 111.19 km
    d = geom.haversine_m(0.0, 0.0, 0.0, 1.0)
    assert d == pytest.approx(111_195, rel=1e-3)


def test_rects_intersect_polygon():
    xs = np.array([0.0, 4.0, 4.0, 0.0])
    ys = np.array([0.0, 0.0, 4.0, 4.0])
    x0 = np.array([1.0, 5.0, -2.0, -1.0])
    y0 = np.array([1.0, 5.0, -2.0, 1.0])
    x1 = np.array([2.0, 6.0, 6.0, 0.5])
    y1 = np.array([2.0, 6.0, 6.0, 2.0])
    np.testing.assert_array_equal(
        geom.classify_rects(x0, y0, x1, y1, xs, ys),
        [geom.INSIDE, geom.OUTSIDE, geom.BOUNDARY, geom.BOUNDARY]
    )


# ---------------------------------------------------------------- rand

def test_uniform_deterministic_and_uniform():
    keys = np.arange(100_000, dtype=np.int64)
    u1 = rand.uniform(keys, seed=90210)
    u2 = rand.uniform(keys, seed=90210)
    np.testing.assert_array_equal(u1, u2)
    u3 = rand.uniform(keys, seed=90211)
    assert np.abs(u1 - u3).max() > 0.5  # seed changes everything
    assert 0.0 <= u1.min() and u1.max() < 1.0
    assert abs(u1.mean() - 0.5) < 0.01
    hist, _ = np.histogram(u1, bins=20, range=(0, 1))
    assert hist.min() > 4000 and hist.max() < 6000


# ---------------------------------------------------------------- codec

def _mk_img(rng, h, w, smooth=False):
    if smooth:
        y, x = np.mgrid[0:h, 0:w]
        return (127 + 60 * np.sin(x / 7.0) * np.cos(y / 5.0)).astype(np.uint8)
    return rng.integers(0, 256, size=(h, w), dtype=np.uint8)


@pytest.mark.parametrize("fmt", ["raw", "rle"])
def test_lossless_roundtrip(fmt):
    rng = np.random.default_rng(13)
    for h, w in ((16, 16), (32, 64), (1, 7)):
        img = _mk_img(rng, h, w)
        out, f = codec.decode(codec.encode(img, fmt))
        assert f == fmt
        np.testing.assert_array_equal(out, img)


def test_quant_psnr_at_least_40db():
    rng = np.random.default_rng(14)
    for smooth in (False, True):
        img = _mk_img(rng, 64, 64, smooth=smooth)
        out, f = codec.decode(codec.encode(img, "quant"))
        assert f == "quant"
        assert codec.psnr(img, out) >= 40.0
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 2


def _mixed_batch():
    """64 images, 11 of them RLE, in all three formats."""
    rng = np.random.default_rng(16)
    fmts = ["rle" if i % 6 == 1 else ("quant" if i % 6 == 2 else "raw")
            for i in range(63)] + ["raw"]
    return [codec.encode(_mk_img(rng, 8 + i % 5, 6 + i % 3,
                                 smooth=bool(i % 2)), f)
            for i, f in enumerate(fmts)]


def _decode_views(blobs):
    off = np.zeros(len(blobs) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in blobs], out=off[1:])
    return codec.decode_batch_views(
        np.frombuffer(b"".join(blobs), dtype=np.uint8), off)


_BATCH_DECODERS = {"decode_batch": codec.decode_batch,
                   "decode_batch_views": _decode_views}


@pytest.mark.parametrize("entry", sorted(_BATCH_DECODERS))
@pytest.mark.parametrize("bad", ["overlong", "truncated", "odd", "header"])
def test_batch_decode_rejects_malformed_body(entry, bad):
    """A body whose runs do not expand to exactly h·w must raise, as the
    scalar decode does — never shift pixels into the later images of
    its format group."""
    blobs = _mixed_batch()
    assert sum(b[2] == codec.FMT_RLE for b in blobs) == 11
    i = next(k for k, b in enumerate(blobs) if b[2] == codec.FMT_RLE)
    blobs[i] = {"overlong": blobs[i] + bytes([3, 7]),
                "truncated": blobs[i][:-2],
                "odd": blobs[i][:-1],
                "header": blobs[i][:9]}[bad]
    with pytest.raises((ValueError, struct.error)):
        codec.decode(blobs[i])
    with pytest.raises(ValueError):
        _BATCH_DECODERS[entry](blobs)


def test_phash_properties():
    rng = np.random.default_rng(15)
    img = _mk_img(rng, 32, 32, smooth=True)
    h1 = codec.phash64(img)
    h2 = codec.phash64(img)
    assert h1 == h2
    noisy = np.clip(img.astype(int) + rng.integers(-2, 3, img.shape), 0, 255).astype(np.uint8)
    other = _mk_img(rng, 32, 32)
    d_noisy = codec.hamming64(np.array([h1]), np.array([codec.phash64(noisy)]))[0]
    d_other = codec.hamming64(np.array([h1]), np.array([codec.phash64(other)]))[0]
    assert d_noisy <= 8
    assert d_other > d_noisy


def test_hamming64():
    a = np.array([0b1011, 0], dtype=np.int64)
    b = np.array([0b0001, -1], dtype=np.int64)
    np.testing.assert_array_equal(codec.hamming64(a, b), [2, 64])
