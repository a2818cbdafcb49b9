"""Property-based kernel tests (SURVEY.md §5.4) — hypothesis over the
pure-numpy layer (no Spark session needed; fast)."""

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from kaza_lcms_spark.kernels import codec, geom, grid, rand

LON = st.floats(min_value=-179.999, max_value=179.999, allow_nan=False)
LAT = st.floats(min_value=-89.999, max_value=89.999, allow_nan=False)
LEVEL = st.integers(min_value=1, max_value=27)


@given(st.lists(st.tuples(LON, LAT), min_size=1, max_size=50), LEVEL)
@settings(max_examples=100, deadline=None)
def test_cell_roundtrip_contains_point(pts, level):
    lon = np.array([p[0] for p in pts]); lat = np.array([p[1] for p in pts])
    c = grid.encode(lon, lat, level)
    x0, y0, x1, y1 = grid.cell_bounds(c)
    # quantization happens in (lon+180)/360 space: a point within half an
    # ulp of a cell edge may land in the adjacent cell — consistent
    # everywhere in the engine (same quantizer), so allow epsilon slip
    eps = 1e-9
    assert ((lon >= x0 - eps) & (lon < x1 + eps)).all()
    assert ((lat >= y0 - eps) & (lat < y1 + eps)).all()


@given(st.lists(st.tuples(LON, LAT), min_size=1, max_size=30),
       st.integers(min_value=2, max_value=27))
@settings(max_examples=100, deadline=None)
def test_parent_is_prefix(pts, level):
    lon = np.array([p[0] for p in pts]); lat = np.array([p[1] for p in pts])
    c = grid.encode(lon, lat, level)
    p = grid.parent(c, level - 1)
    # direct encode at the coarser level gives the same cell
    assert (p == grid.encode(lon, lat, level - 1)).all()


@given(st.integers(min_value=3, max_value=12),
       st.floats(min_value=-5, max_value=5),
       st.floats(min_value=-5, max_value=5),
       st.integers(min_value=0, max_value=10**6))
@settings(max_examples=100, deadline=None)
def test_pip_translation_invariance(nvert, dx, dy, seed):
    rng = np.random.default_rng(seed)
    ang = np.sort(rng.random(nvert)) * 2 * np.pi
    r = 0.5 + rng.random(nvert)
    xs, ys = r * np.cos(ang), r * np.sin(ang)
    px = rng.random(200) * 4 - 2
    py = rng.random(200) * 4 - 2
    a = geom.points_in_polygon(px, py, xs, ys)
    b = geom.points_in_polygon(px + dx, py + dy, xs + dx, ys + dy)
    # FP translation can flip points within ~1e-9 of an edge; tolerate none
    # for these grid-free random draws (measure-zero)
    assert (a == b).mean() > 0.995


#: coarse cell width/height in degrees (exact binary fractions)
CW, CH = 360.0 / 2**geom.COARSE_LEVEL, 180.0 / 2**geom.COARSE_LEVEL


def _ulp_nudge(v, rng):
    """Each value as is, or moved one ulp down or up."""
    k = rng.integers(-1, 2, size=np.shape(v))
    return np.where(k < 0, np.nextafter(v, -np.inf),
                    np.where(k > 0, np.nextafter(v, np.inf), v))


def _probe_case(rng, n_polys):
    """Polygons over a window of 8x8 coarse cells, vertices mostly on a
    quarter-cell lattice (so edges lie along cell boundaries, some moved
    an ulp off them): rects, rect pairs split along a shared border,
    concave L shapes and concave star rings. Points: uniform, on the
    lattice (on and an ulp around cell boundaries and ring edges), and
    outside every cover."""
    i0 = rng.integers(1, 2**geom.COARSE_LEVEL - 10)
    j0 = rng.integers(1, 2**geom.COARSE_LEVEL - 10)
    X = lambda q: -180.0 + (i0 + np.asarray(q) / 4.0) * CW
    Y = lambda q: -90.0 + (j0 + np.asarray(q) / 4.0) * CH
    rings = []
    while len(rings) < n_polys:
        qa, qb = np.sort(rng.choice(33, 2, replace=False))
        ra, rb = np.sort(rng.choice(33, 2, replace=False))
        xa, xb, ya, yb = X(qa), X(qb), Y(ra), Y(rb)
        kind = rng.integers(4)
        if kind == 0:
            rings.append(([xa, xb, xb, xa], [ya, ya, yb, yb]))
        elif kind == 1 and qb - qa >= 2:
            xm = X(rng.integers(qa + 1, qb))
            rings += [([xa, xm, xm, xa], [ya, ya, yb, yb]),
                      ([xm, xb, xb, xm], [ya, ya, yb, yb])]
        elif kind == 2 and qb - qa >= 2 and rb - ra >= 2:
            xm, ym = X(rng.integers(qa + 1, qb)), Y(rng.integers(ra + 1, rb))
            rings.append(([xa, xb, xb, xm, xm, xa], [ya, ya, ym, ym, yb, yb]))
        else:
            m = rng.integers(5, 12)
            ang = np.sort(rng.random(m)) * 2 * np.pi
            r = (0.3 + rng.random(m)) * (xb - xa + CW) / 2
            rings.append(((xa + xb) / 2 + r * np.cos(ang), (ya + yb) / 2 + r * np.sin(ang) / 2))
    rings = [(_ulp_nudge(np.array(x, float), rng) if rng.random() < 0.3 else np.array(x, float),
              np.array(y, float)) for x, y in rings[:n_polys]]
    n = 300
    px = np.concatenate([X(rng.uniform(-4, 36, n)), _ulp_nudge(X(rng.integers(-4, 37, n)), rng),
                         X(rng.uniform(60, 90, 20))])
    py = np.concatenate([Y(rng.uniform(-4, 36, n)), _ulp_nudge(Y(rng.integers(-4, 37, n)), rng),
                         Y(rng.uniform(-4, 36, 20))])
    return rings, px, py


@given(st.integers(min_value=0, max_value=2**32 - 1), st.integers(min_value=1, max_value=8))
@settings(max_examples=150, deadline=None)
def test_probe_equals_first_hit_bruteforce(seed, n_polys):
    """The cell-keyed probe (cover lookup, whole-cell flag, PIP of
    boundary cells) against a test-side brute force with no cover: every
    ring in unit_id order, points_in_polygon, the first hit wins."""
    rng = np.random.default_rng(seed)
    rings, px, py = _probe_case(rng, n_polys)
    unit_ids = rng.integers(-3, 4, size=len(rings))   # negative and duplicate ids
    idx = geom.PolygonIndex(unit_ids, [r[0] for r in rings], [r[1] for r in rings])
    pi, units = idx.probe(px, py)

    want = np.zeros(len(px), dtype=np.int64)
    done = np.zeros(len(px), dtype=bool)
    for k in np.argsort(unit_ids, kind="stable"):
        hit = ~done & geom.points_in_polygon(px, py, *rings[k])
        want[hit] = unit_ids[k]
        done |= hit
    assert pi.tolist() == np.flatnonzero(done).tolist()
    assert units.tolist() == want[done].tolist()


@given(st.lists(st.integers(min_value=0, max_value=2**62), min_size=1,
                max_size=100, unique=True),
       st.integers(min_value=0, max_value=2**31))
@settings(max_examples=100, deadline=None)
def test_rng_deterministic_and_uniformish(keys, seed):
    k = np.array(keys, dtype=np.int64)
    u1 = rand.uniform(k, seed)
    u2 = rand.uniform(k, seed)
    assert (u1 == u2).all()
    assert ((u1 >= 0) & (u1 < 1)).all()
    # different seed decorrelates
    u3 = rand.uniform(k, seed + 1)
    assert len(k) < 3 or not np.array_equal(u1, u3)


@given(st.integers(min_value=1, max_value=64), st.integers(min_value=1, max_value=64),
       st.integers(min_value=0, max_value=10**6))
@settings(max_examples=60, deadline=None)
def test_codec_roundtrip_property(h, w, seed):
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (h, w)).astype(np.uint8)
    for fmt in ("raw", "rle"):
        d, f = codec.decode(codec.encode(px, fmt))
        assert f == fmt and (d == px).all()
    dq, _ = codec.decode(codec.encode(px, "quant"))
    assert codec.psnr(px, dq) >= 40.0


@given(st.lists(st.integers(min_value=-2**62, max_value=2**62), min_size=2,
                max_size=50, unique=True))
@settings(max_examples=100, deadline=None)
def test_hamming_metric_properties(hashes):
    h = np.array(hashes, dtype=np.int64)
    d = codec.hamming64(h[:, None], h[None, :])
    assert (d == d.T).all()
    assert (np.diag(d) == 0).all()
    assert (d <= 64).all()


@given(st.lists(st.integers(min_value=-2**63, max_value=2**63 - 1),
                min_size=1, max_size=40),
       st.integers(min_value=-2**63, max_value=2**63 - 1))
@settings(max_examples=150, deadline=None)
def test_hamming64_matches_bit_count(hs, q):
    got = codec.hamming64(np.array(hs, dtype=np.int64), np.int64(q))
    want = [bin((h ^ q) & (2**64 - 1)).count("1") for h in hs]
    assert got.tolist() == want


@given(st.integers(min_value=1, max_value=48), st.integers(min_value=1, max_value=48),
       st.integers(min_value=1, max_value=16), st.integers(min_value=1, max_value=16),
       st.integers(min_value=0, max_value=255))
@settings(max_examples=60, deadline=None)
def test_resize_constant_image_stays_constant(h, w, oh, ow, v):
    px = np.full((h, w), v, dtype=np.uint8)
    out = codec.resize_area(px, oh, ow)
    assert out.shape == (oh, ow)
    assert (out == v).all()


@given(st.integers(min_value=8, max_value=40), st.integers(min_value=8, max_value=40),
       st.integers(min_value=1, max_value=4))
@settings(max_examples=40, deadline=None)
def test_resize_preserves_global_mean_on_divisible(h8, w8, f):
    rng = np.random.default_rng(h8 * 100 + w8)
    h, w = h8 * f, w8 * f
    px = rng.integers(0, 256, (h, w), dtype=np.uint8)
    out = codec.resize_area(px, h8, w8)
    # divisible boxes: means exact before rounding -> global mean within 0.5
    assert abs(out.astype(float).mean() - px.astype(float).mean()) <= 0.5


@given(st.lists(st.binary(min_size=0, max_size=64), min_size=0, max_size=12))
@settings(max_examples=80, deadline=None)
def test_frame_container_roundtrip_any_payload(frames):
    blob = codec.pack_frames(frames)
    assert codec.frame_count(blob) == len(frames)
    assert [f for _, f in codec.iter_frames(blob)] == frames


def _hamming_brute(q_ids, q_h, i_ids, i_h, k):
    """{query id: [(distance, neighbor id)]}: a direct sort over the same
    (distance, id) order, skipping the item with the query's id."""
    want = {}
    for qi, qh in zip(q_ids, q_h):
        d = codec.hamming64(i_h, np.full(len(i_h), qh, dtype=np.int64))
        mask = i_ids != qi
        cand = sorted(zip(d[mask].tolist(), i_ids[mask].tolist()))[:k]
        if cand:
            want[qi] = cand
    return want


def _hamming_got(outs, id_col):
    import pandas as pd

    got = {}
    res = pd.concat(outs) if outs else pd.DataFrame(
        {id_col: [], "neighbor_id": [], "hamming": []})
    for q, nb, dist in zip(res[id_col], res["neighbor_id"], res["hamming"]):
        got.setdefault(q, []).append((int(dist), nb))
    return {q: sorted(v) for q, v in got.items()}


def _knn_ids(rng, n, as_str):
    ids = np.sort(rng.choice(10_000, size=n, replace=False)).astype(np.int64)
    return np.array([f"img_{i:06d}" for i in ids], dtype=object) if as_str else ids


@given(st.integers(1, 40), st.integers(1, 60), st.integers(1, 8),
       st.integers(0, 2**31 - 1), st.integers(1, 4), st.booleans())
@settings(max_examples=40, deadline=None)
def test_knn_block_xq_equals_bruteforce(nq, ni, k, seed, dup_every, as_str):
    """The one per-cell kNN kernel, cross-set (a hot cell's query salt
    against one item chunk) vs a direct sort over the same (distance,
    id) order — including heavy hash ties (dup_every clones hashes),
    string ids, and query ids present in or absent from the item side
    (self-exclusion by id)."""
    from kaza_lcms_spark.operators.knn import _knn_block_xq

    rng = np.random.default_rng(seed)
    both = _knn_ids(rng, ni + nq, as_str)
    i_ids = np.sort(rng.choice(both, size=ni, replace=False))
    # queries: some overlap the item id space, the rest are foreign
    n_over = min(max(1, nq // 2), ni)
    foreign = np.setdiff1d(both, i_ids)
    q_ids = np.concatenate([rng.choice(i_ids, size=n_over, replace=False),
                            rng.choice(foreign, size=nq - n_over,
                                       replace=False)])
    pool = rng.integers(0, 2**62, size=max(1, ni // dup_every), dtype=np.int64)
    i_h = pool[rng.integers(0, len(pool), size=ni)]
    q_h = pool[rng.integers(0, len(pool), size=nq)]

    got = _hamming_got(_knn_block_xq(q_ids, q_h, i_ids, i_h, k, "qid"), "qid")
    assert got == _hamming_brute(q_ids, q_h, i_ids, i_h, k)


@given(st.integers(1, 12), st.integers(1, 8), st.integers(0, 2**31 - 1),
       st.integers(1, 6), st.booleans())
@settings(max_examples=60, deadline=None)
@example(1, 3, 0, 1, True)
@example(2, 5, 0, 1, True)
@example(2, 1, 0, 1, False)
def test_knn_block_within_set_equals_bruteforce(n, k, seed, dup_every, as_str):
    """The cold-cell call: every item queries its own cell, excluding
    itself — n ≤ k, one- and two-row cells, heavy ties, string ids."""
    from kaza_lcms_spark.operators.knn import _knn_block

    rng = np.random.default_rng(seed)
    ids = _knn_ids(rng, n, as_str)
    pool = rng.integers(0, 2**62, size=max(1, n // dup_every), dtype=np.int64)
    h = pool[rng.integers(0, len(pool), size=n)]

    got = _hamming_got(_knn_block(ids, h, np.arange(n), k, "qid"), "qid")
    assert got == _hamming_brute(ids, h, ids, h, k)
