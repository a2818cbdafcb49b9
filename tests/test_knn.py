"""kNN operator tests: per-cell kNN vs brute force; salted == unsalted;
blocked cosine == relational."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from kaza_lcms_spark.kernels import codec
from kaza_lcms_spark.operators import knn as KNN
from kaza_lcms_spark.operators import spatial_join as SJ


@pytest.fixture(scope="module")
def cell_points(spark, fixture_dir):
    imgs = spark.read.parquet(fixture_dir + "/images.parquet") \
        .select("image_id", "phash")
    return SJ.with_cell(SJ.with_footprint(imgs), level=8).cache()


def _truth(pdf, k):
    out = {}
    for cell, grp in pdf.groupby("cell_id"):
        ids = grp["image_id"].to_numpy()
        h = grp["phash"].to_numpy().astype(np.int64)
        order = np.argsort(ids)
        ids, h = ids[order], h[order]
        n = len(ids)
        if n <= 1:
            continue
        d = codec.hamming64(h[:, None], h[None, :])
        np.fill_diagonal(d, 1 << 30)
        for i in range(n):
            cand = sorted(range(n), key=lambda j: (d[i, j], ids[j]))[: min(k, n - 1)]
            out[ids[i]] = [(ids[j], int(d[i, j])) for j in cand]
    return out


def test_knn_per_cell_vs_bruteforce(spark, cell_points):
    got = {}
    res = KNN.knn_per_cell(cell_points, k=3).collect()
    for r in res:
        got.setdefault(r["image_id"], []).append((r["neighbor_id"], r["hamming"]))
    pdf = cell_points.toPandas()
    truth = _truth(pdf, 3)
    assert set(got) == set(truth)
    for q in truth:
        assert sorted(got[q]) == sorted(truth[q]), q


def test_knn_salted_equals_unsalted(spark, cell_points):
    unsalted = KNN.knn_per_cell(cell_points, k=3, salt_threshold=10**9)
    salted = KNN.knn_per_cell(cell_points, k=3, salt_threshold=20, salt_buckets=4)
    a = sorted(tuple(r) for r in unsalted.collect())
    b = sorted(tuple(r) for r in salted.collect())
    assert a == b


def test_knn_mega_path_equals_unsalted(spark, cell_points):
    """Hot cells split into several item chunks take the block-grid join
    (hash-chunked items × salted queries, window merge) and still emit
    exactly the single-kernel result — including heavy phash ties."""
    unsalted = KNN.knn_per_cell(cell_points, k=3, salt_threshold=10**9)
    # every cell > 20 rows is hot; items split into 40-row chunks
    mega = KNN.knn_per_cell(cell_points, k=3, salt_threshold=20,
                            salt_buckets=4, chunk_rows=40)
    a = sorted(tuple(r) for r in unsalted.collect())
    b = sorted(tuple(r) for r in mega.collect())
    assert a == b


def test_knn_mega_split_is_partial(spark, cell_points):
    """chunk_rows between the hot-cell sizes gives one run both one-chunk
    hot cells (no merge needed) and multi-chunk ones (window merge); the
    mix still equals the unsalted result."""
    sizes = sorted(r["n"] for r in cell_points
                   .groupBy("cell_id").agg(F.count(F.lit(1)).alias("n"))
                   .where(F.col("n") > 20).collect())
    chunk_rows = sizes[len(sizes) // 2]
    assert sizes[0] <= chunk_rows < sizes[-1], sizes
    unsalted = KNN.knn_per_cell(cell_points, k=3, salt_threshold=10**9)
    mixed = KNN.knn_per_cell(cell_points, k=3, salt_threshold=20,
                             salt_buckets=4, chunk_rows=chunk_rows)
    a = sorted(tuple(r) for r in unsalted.collect())
    b = sorted(tuple(r) for r in mixed.collect())
    assert a == b


def test_knn_per_cell_build_runs_only_the_histogram(spark, fixture_dir):
    """With hot cells present, building the kNN frame runs the routing
    histogram and no other Spark job: hot cells are never collected to
    the driver or broadcast from it. The input is not cached, so no job
    count depends on which test filled a cache first."""
    import uuid

    from kaza_lcms_spark.plans import salting as SALT

    sc = spark.sparkContext
    imgs = spark.read.parquet(fixture_dir + "/images.parquet") \
        .select("image_id", "phash")
    cell_points = SJ.with_cell(SJ.with_footprint(imgs), level=8)

    def jobs(build):
        group = f"knn-build-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    pts = cell_points.select("cell_id", "image_id", "phash")
    hist = jobs(lambda: SALT.cell_histogram(pts, "cell_id")
                .where(F.col("n") > 20).collect())
    build = jobs(lambda: KNN.knn_per_cell(cell_points, k=3, salt_threshold=20,
                                          salt_buckets=4))
    assert hist > 0 and build == hist, (build, hist)


def test_cosine_blocked_equals_relational(spark, sf_dir="/root/testdata/sf0.001"):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rel = {(r["vec_id"], r["neighbor_id"]) for r in
           KNN.cosine_topk_relational(emb, k=5).collect()}
    blk = {(r["vec_id"], r["neighbor_id"]) for r in
           KNN.cosine_topk_blocked(spark, emb, k=5).collect()}
    assert rel == blk  # exact: full per-block lexsort tie-break


def test_cosine_blocked_small_blocks_and_no_collect(spark):
    """block_rows smaller than n forces a real multi-block grid; results
    must not change, and the plan must not route through the driver
    (mapInPandas pack + broadcast join only)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    whole = sorted((r["vec_id"], r["neighbor_id"]) for r in
                   KNN.cosine_topk_blocked(spark, emb, k=5).collect())
    grid = sorted((r["vec_id"], r["neighbor_id"]) for r in
                  KNN.cosine_topk_blocked(spark, emb, k=5, block_rows=37).collect())
    assert whole == grid


def test_cosine_blocked_duplicate_embedding_ties(spark):
    """Many identical vectors tie at the k-th similarity: the tie-break
    must pick the lowest neighbor ids, matching the relational path."""
    base = [1.0] + [0.0] * 7
    other = [0.0, 1.0] + [0.0] * 6
    rows = [(i, base) for i in range(10)] + [(100 + i, other) for i in range(4)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    rel = {(r["vec_id"], r["neighbor_id"]) for r in
           KNN.cosine_topk_relational(emb, k=3).collect()}
    blk = {(r["vec_id"], r["neighbor_id"]) for r in
           KNN.cosine_topk_blocked(spark, emb, k=3, block_rows=5).collect()}
    assert rel == blk
    # every base vector's neighbors are the 3 lowest other base ids
    got = sorted(n for q, n in blk if q == 7)
    assert got == [0, 1, 2], got


def test_cosine_ivf_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {}
    for r in KNN.cosine_topk_relational(emb, k=5).collect():
        exact.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    approx = {}
    # fixture embeddings are near-uniform on the sphere (no cluster
    # structure), so IVF needs a generous probe ratio for high recall
    for r in KNN.cosine_topk_ivf(spark, emb, k=5, n_centroids=8, nprobe=6).collect():
        approx.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    assert set(exact) == set(approx)
    hits = sum(len(exact[q] & approx[q]) for q in exact)
    total = sum(len(exact[q]) for q in exact)
    recall = hits / total
    assert recall >= 0.85, f"IVF recall {recall:.3f} too low"


def test_cosine_ivf_deterministic_across_partitionings(spark):
    """The IVF codebook samples the lowest xxhash64(id) rows (not bare
    limit), so results are a pure function of the data regardless of
    partitioning."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = sorted(map(tuple, KNN.cosine_topk_ivf(
        spark, emb, k=5, n_centroids=8, nprobe=6).collect()))
    b = sorted(map(tuple, KNN.cosine_topk_ivf(
        spark, emb.repartition(13), k=5, n_centroids=8, nprobe=6).collect()))
    assert a == b


def test_caption_knn_per_cell(spark, fixture_dir):
    imgs = spark.read.parquet(fixture_dir + "/images.parquet") \
        .select("image_id", "caption")
    pts = SJ.with_cell(SJ.with_footprint(imgs), level=6)
    out = KNN.caption_knn_per_cell(pts, k=3)
    rows = out.collect()
    assert len(rows) > 0
    # neighbors share caption words more than random pairs do
    caps = {r["image_id"]: set(r["caption"].split()) for r in imgs.collect()}
    import numpy as np
    rng = np.random.default_rng(0)
    ids = list(caps)
    def overlap(a, b):
        return len(caps[a] & caps[b]) / len(caps[a] | caps[b])
    nn = np.mean([overlap(r["image_id"], r["neighbor_id"]) for r in rows[:2000]])
    rand_pairs = [(ids[i], ids[j]) for i, j in
                  rng.integers(0, len(ids), (2000, 2))]
    rd = np.mean([overlap(a, b) for a, b in rand_pairs])
    assert nn > rd + 0.1, (nn, rd)
    # simhash is deterministic across partitionings
    out2 = KNN.caption_knn_per_cell(pts.repartition(7), k=3)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, out2.collect()))


def test_cosine_ivf_codebook_unbiased_on_id_ordered_corpus(spark):
    """Content correlates with id order (first half cluster A, second
    half cluster B) and sample_rows is smaller than either half: a
    lowest-id codebook sample would train only on cluster A and crater
    recall for B; the hash-ordered sample sees both."""
    import numpy as np
    rng = np.random.default_rng(3)
    n, dim = 400, 16
    base = np.zeros((n, dim))
    base[:n // 2, 0] = 1.0
    base[n // 2:, 1] = 1.0
    v = base + rng.normal(0, 0.15, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in v[i]]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {}
    for r in KNN.cosine_topk_relational(emb, k=5).collect():
        exact.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    approx = {}
    for r in KNN.cosine_topk_ivf(spark, emb, k=5, n_centroids=4, nprobe=2,
                                 sample_rows=80).collect():
        approx.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    recall = hits / sum(len(exact[q]) for q in exact)
    assert recall >= 0.85, f"recall {recall:.3f} on id-clustered corpus"


def test_ivf_auto_nprobe_degenerate_margins(spark):
    """probe_margin semantics pin to the fixed-nprobe ends: an infinite
    margin probes every capped bucket (== fixed nprobe), a zero margin
    probes only the top bucket (== nprobe 1, absent exact centroid-sim
    ties, which a continuous corpus doesn't produce)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    key = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    fixed4 = KNN.cosine_topk_ivf(spark, emb, k=3, n_centroids=8, nprobe=4)
    auto_inf = KNN.cosine_topk_ivf(spark, emb, k=3, n_centroids=8, nprobe=4,
                                   probe_margin=1e9)
    assert key(auto_inf) == key(fixed4)
    fixed1 = KNN.cosine_topk_ivf(spark, emb, k=3, n_centroids=8, nprobe=1)
    auto_zero = KNN.cosine_topk_ivf(spark, emb, k=3, n_centroids=8, nprobe=4,
                                    probe_margin=0.0)
    assert key(auto_zero) == key(fixed1)


def test_caption_simhash_matches_scalar_fold_and_nul_tokens(spark):
    """Vectorized SimHash == a scalar per-token FNV-1a reference on
    normal captions, AND tokens with genuine trailing NUL bytes hash
    distinctly from their stripped twins (r3 advice item #3 — numpy
    U/S dtypes would silently merge them before hashing)."""
    from kaza_lcms_spark.kernels import rand as RND

    def scalar_simhash(caption):
        votes = np.zeros(64, dtype=np.int64)
        for tok in caption.split(" "):
            h = np.uint64(0xCBF29CE484222325)
            for byte in tok.encode("utf-8"):
                h = np.uint64((int(h) ^ byte) * 0x100000001B3 & (2**64 - 1))
            code = int(RND.mix64(np.array([h], dtype=np.uint64))[0])
            for b in range(64):
                votes[b] += 1 if (code >> b) & 1 else -1
        sig = 0
        for b in range(64):
            if votes[b] > 0:
                sig |= 1 << b
        return np.int64(np.uint64(sig)).item()

    caps = ["the quick brown fox", "a b a b c", "solo", "ab ab\x00 cd",
            "\x00leading and trailing\x00"]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(caps)],
                               "image_id long, caption string")
    got = {r["image_id"]: r["cap_hash"] for r in
           KNN.with_caption_simhash(df).collect()}
    for i, c in enumerate(caps):
        assert got[i] == scalar_simhash(c), f"caption {c!r}"
    # the NUL-twin captions must not collide
    twin = {r["image_id"]: r["cap_hash"] for r in KNN.with_caption_simhash(
        spark.createDataFrame([(0, "ab ab cd"), (1, "ab ab\x00 cd")],
                              "image_id long, caption string")).collect()}
    assert twin[0] != twin[1]


def test_round4_three_way_engine_agreement(spark):
    """The cosine family ranks/emits on one shared IEEE expression
    (sign·floor(|x|·1e4+0.5)/1e4) because the NATIVE round functions
    disagree: Spark F.round is BigDecimal/repr-based (0.00015 → 0.0002)
    while DuckDB ROUND is binary (0.00015 → 0.0001). Assert numpy
    kernel, Spark column, and DuckDB SQL agree bit-for-bit on repr
    midpoints, dyadic midpoints, and a random sweep — and that the two
    native functions really do disagree on at least one probe value
    (guarding the premise that forced the shared expression)."""
    import duckdb

    from kaza_lcms_spark import functions as KF
    from kaza_lcms_spark.plans import oracles as O

    rng = np.random.default_rng(90210)
    vals = [0.00015, -0.00015, 0.00145, 0.88345, 0.03125, -0.03125,
            0.0312650001, 0.49995, 0.50005, 0.99995, 1.0, -1.0, 0.0]
    vals += [float(x) for x in rng.uniform(-1, 1, 200)]
    np_out = KNN._round4(np.array(vals)).tolist()
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    sp = [r[0] for r in df.select(KF.round4_binary(F.col("x"))).collect()]
    con = duckdb.connect()
    dk = [con.execute(f"SELECT {O.round4_sql('CAST(? AS DOUBLE)')}",
                      [v, v]).fetchone()[0] for v in vals]  # x appears twice
    assert np_out == sp == dk
    spark_native = [r[0] for r in df.select(F.round("x", 4)).collect()]
    assert spark_native != np_out, \
        "native F.round now agrees — shared expression may be droppable"
    # the 6-digit instance guards the AREA2 queries' contract too
    vals6 = [0.0000015, 0.1234565, 0.9999995, -0.0000015] \
        + [float(x) for x in rng.uniform(0, 1, 50)]
    df6 = spark.createDataFrame([(v,) for v in vals6], "x double")
    sp6 = [r[0] for r in df6.select(KF.round_binary(F.col("x"), 6)).collect()]
    dk6 = [con.execute(f"SELECT {O.round_sql('CAST(? AS DOUBLE)', 6)}",
                       [v, v]).fetchone()[0] for v in vals6]
    np6 = (np.sign(vals6) * np.floor(np.abs(vals6) * 1e6 + 0.5) / 1e6).tolist()
    assert sp6 == dk6 == np6


def test_cosine_blocked_halfup_midpoint_rounding(spark):
    """cos values landing exactly on representable 4-decimal midpoints
    (dyadic rationals like 0.03125) must round HALF_UP as Spark/DuckDB
    ROUND do — numpy's half-to-even would rank 0.03125 (-> 0.0312) below
    0.03126953125 (-> 0.0313) and flip the rank-k neighbor."""
    rows = [(0, [1.0, 0.0]), (1, [0.03125, 1.0]), (2, [0.03126953125, -1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    rel = {(r["vec_id"], r["neighbor_id"], r["cos"]) for r in
           KNN.cosine_topk_relational(emb, k=1).collect()}
    blk = {(r["vec_id"], r["neighbor_id"], r["cos"]) for r in
           KNN.cosine_topk_blocked(spark, emb, k=1, block_rows=2).collect()}
    assert rel == blk
    # both candidates round to 0.0313; tie breaks to the lower id
    assert (0, 1, 0.0313) in rel


def test_cosine_topk_ivf_query_df_matches_symmetric_subset(spark):
    """The asymmetric IVF shape (query_df batch vs full corpus) must
    return exactly what the symmetric run returns for those queries —
    same codebook (deterministic sample), same buckets, same merge."""
    rng = np.random.default_rng(4242)
    base = rng.normal(0, 1, (4, 16))
    v = base[np.arange(200) % 4] + 0.1 * rng.normal(0, 1, (200, 16))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v[i]]) for i in range(200)],
        "vec_id long, embedding array<double>")
    sym = {(r["vec_id"], r["neighbor_id"]) for r in
           KNN.cosine_topk_ivf(spark, emb, k=3, n_centroids=4, nprobe=2,
                               sample_rows=100).collect()
           if r["vec_id"] % 10 == 0}
    asym = {(r["vec_id"], r["neighbor_id"]) for r in
            KNN.cosine_topk_ivf(spark, emb, k=3, n_centroids=4, nprobe=2,
                                sample_rows=100,
                                query_df=emb.where(F.col("vec_id") % 10 == 0))
            .collect()}
    assert sym == asym


def test_caption_simhash_null_caption_is_empty(spark):
    """NULL captions must hash like empty captions, not crash the Arrow
    batch (str.split of NaN yields a 0-d object)."""
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "a caption")],
        "image_id long, caption string")
    got = {r["image_id"]: r["cap_hash"] for r in
           KNN.with_caption_simhash(df).collect()}
    assert got[0] == got[1]
    assert got[2] != got[0]


def test_cosine_ivf_foreign_id_batch_keeps_colliding_ids(spark):
    """A foreign query batch whose ids collide with corpus ids must still
    receive those corpus vectors as neighbors under exclude_self=False —
    the id-equality exclusion is only valid when query ids ARE corpus
    rows."""
    rng = np.random.default_rng(7)
    v = rng.normal(0, 1, (60, 8))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v[i]]) for i in range(60)],
        "vec_id long, embedding array<double>")
    # foreign probe: id 3 collides with corpus id 3 but its vector is a
    # near-copy of corpus vector 42 — its true top-1 is 42, and corpus
    # row 3 must remain eligible as a neighbor too
    probe_vec = (v[42] + 0.01 * rng.normal(0, 1, 8))
    probe_vec /= np.linalg.norm(probe_vec)
    probe = spark.createDataFrame(
        [(3, [float(x) for x in probe_vec])], "vec_id long, embedding array<double>")
    got = {r["neighbor_id"] for r in KNN.cosine_topk_ivf(
        spark, corpus, k=60, n_centroids=2, nprobe=2, sample_rows=60,
        query_df=probe, exclude_self=False).collect()}
    assert 42 in got and 3 in got          # nothing dropped by id collision
    excl = {r["neighbor_id"] for r in KNN.cosine_topk_ivf(
        spark, corpus, k=60, n_centroids=2, nprobe=2, sample_rows=60,
        query_df=probe).collect()}
    assert 3 not in excl                   # default still self-excludes


def test_knn_per_cell_null_cells_survive_mega_peel(spark):
    """r6 advice fix: NULL-cell rows used to be silently dropped once a
    grid tier was peeled (~isin(mega) is NULL for NULL cells); the same
    input must yield the same coverage with and without multi-chunk hot
    cells."""
    rows = [(i, i % 3 if i % 7 else None, (i * 2654435761) % (1 << 62))
            for i in range(60)]
    pts = spark.createDataFrame(rows, "doc_id long, cell long, h long")
    no_mega = KNN.knn_per_cell(pts, k=2, cell_col="cell", id_col="doc_id",
                               hash_col="h", salt_threshold=100)
    forced_mega = KNN.knn_per_cell(pts, k=2, cell_col="cell", id_col="doc_id",
                                   hash_col="h", salt_threshold=10,
                                   chunk_rows=8)
    a = sorted(map(tuple, no_mega.collect()))
    b = sorted(map(tuple, forced_mega.collect()))
    assert a == b
    null_ids = {r[0] for r in rows if r[1] is None}
    covered = {t[0] for t in b}
    assert null_ids & covered == null_ids & {t[0] for t in a}


def test_knn_per_cell_large_null_cell_stays_cold(spark):
    """A NULL cell above the hot threshold must not enter the hot list:
    IN over a list holding NULL is NULL for every other cell, which
    would drop the cold cells' rows."""
    rows = [(i, None if i % 2 else i % 5, (i * 2654435761) % (1 << 62))
            for i in range(60)]
    pts = spark.createDataFrame(rows, "doc_id long, cell long, h long")
    cold = KNN.knn_per_cell(pts, k=2, cell_col="cell", id_col="doc_id",
                            hash_col="h", salt_threshold=100)
    low = KNN.knn_per_cell(pts, k=2, cell_col="cell", id_col="doc_id",
                           hash_col="h", salt_threshold=20, salt_buckets=3)
    assert sorted(map(tuple, low.collect())) == sorted(map(tuple, cold.collect()))


def test_salted_split_keeps_null_cells(spark):
    """With a non-empty hot list, NULL-cell rows must stay on the cold
    path (~isin(hot) is NULL for a NULL cell): the hot/cold split covers
    every input row, and the salted kNN covers the same rows as the
    unsalted one."""
    from kaza_lcms_spark.plans import salting as SALT

    rows = [(i, i % 3 if i % 7 else None, (i * 2654435761) % (1 << 62))
            for i in range(60)]
    pts = spark.createDataFrame(rows, "doc_id long, cell long, h long")
    hot_df, cold_df = SALT.split_hot_cold(pts, [0, 1], "cell")
    split = sorted(r[0] for r in hot_df.union(cold_df).collect())
    assert split == [r[0] for r in rows]

    unsalted = KNN.knn_per_cell(pts, k=2, cell_col="cell", id_col="doc_id",
                                hash_col="h", salt_threshold=100)
    salted = KNN.knn_per_cell(pts, k=2, cell_col="cell", id_col="doc_id",
                              hash_col="h", salt_threshold=10, salt_buckets=3)
    a = sorted(map(tuple, unsalted.collect()))
    b = sorted(map(tuple, salted.collect()))
    assert a == b
    null_ids = {r[0] for r in rows if r[1] is None}
    assert null_ids <= {t[0] for t in b}
