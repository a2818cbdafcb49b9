"""Dedup-pipeline scale-shape tests: hash token ids are shuffle-free,
LSH candidate density collapses on dispersed corpora, and the hot-bucket
cap keeps degenerate buckets from going quadratic."""

import logging

import numpy as np
import pytest
from pyspark.sql import functions as F

from kaza_lcms_spark.operators import dedup as DD
from kaza_lcms_spark.operators import text as T


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def dispersed_docs(spark):
    """300 docs with pairwise-disjoint 12-token vocabularies: no pair
    shares a single token, so any LSH candidate is pure hash noise."""
    rows = [(i, " ".join(f"tok{i}_{j}" for j in range(12))) for i in range(300)]
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache()


def test_minhash_plan_has_no_single_partition_exchange(spark, dispersed_docs):
    """The round-1 token dictionary sorted the whole vocabulary on one
    reducer; the hash-id path must plan with zero SinglePartition
    exchanges and zero global sorts."""
    plan = plan_of(DD.minhash_signatures(dispersed_docs))
    assert "SinglePartition" not in plan, plan
    assert "Sort " not in plan.replace("SortAggregate", ""), plan


def test_token_tid_is_narrow(spark, dispersed_docs):
    """doc_token_ids = explode + distinct only: exactly one Exchange (the
    distinct's hash-agg shuffle), no join, no dictionary."""
    plan = plan_of(DD.doc_token_ids(dispersed_docs))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_lsh_density_dispersed(spark, dispersed_docs):
    """Candidate density on a dispersed corpus must be far below
    all-pairs (round-1 toy parameters produced 63%)."""
    n = dispersed_docs.count()
    cand = DD.lsh_candidate_pairs(dispersed_docs).count()
    density = cand / (n * (n - 1) / 2)
    assert density < 0.01, f"LSH density {density:.4f} not << all-pairs"


def test_lsh_recovers_true_near_dups(spark):
    """Near-identical docs (11/12 shared tokens, J≈0.85) must collide in
    at least one band; with b=4,r=2 bands P(miss) = (1-J²)⁴ ≈ 0.6% per
    pair — all 40 planted pairs should surface."""
    rows = []
    for i in range(40):
        base = [f"w{i}_{j}" for j in range(12)]
        rows.append((2 * i, " ".join(base)))
        rows.append((2 * i + 1, " ".join(base[:-1] + [f"alt{i}"])))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r["a"], r["b"]) for r in DD.lsh_candidate_pairs(docs).collect()}
    planted = {(2 * i, 2 * i + 1) for i in range(40)}
    assert len(planted & got) >= 38, f"only {len(planted & got)}/40 recovered"


def test_lsh_hot_bucket_cap(spark):
    """200 identical docs form one hot bucket (19,900 all-pairs); the cap
    drops it while unrelated near-dup pairs survive."""
    rows = [(i, "same boilerplate text every time") for i in range(200)]
    rows += [(1000, "alpha beta gamma delta epsilon zeta"),
             (1001, "alpha beta gamma delta epsilon eta")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = DD.lsh_candidate_pairs(docs, bucket_cap=64)
    uncapped = DD.lsh_candidate_pairs(docs, bucket_cap=None)
    assert uncapped.count() >= 19900
    got = {(r["a"], r["b"]) for r in capped.collect()}
    assert all(a < 1000 or b >= 1000 for a, b in got)  # hot bucket dropped
    assert (1000, 1001) in got  # real near-dup kept


def test_cosine_near_dup_bucketed_recall(spark):
    """Planted near-duplicate embeddings (cos ≈ 0.98) among random
    background vectors: the IVF-bucketed path must recover every planted
    pair (true near-dups share nearest centroids) while comparing only a
    small fraction of all pairs."""
    import numpy as np
    from kaza_lcms_spark.operators import knn as KNN

    rng = np.random.default_rng(11)
    vecs = []
    for i in range(400):                       # background
        v = rng.normal(size=16); vecs.append((i, v / np.linalg.norm(v)))
    for j in range(50):                        # planted near-dup pairs
        v = rng.normal(size=16); v /= np.linalg.norm(v)
        w = v + rng.normal(scale=0.05, size=16); w /= np.linalg.norm(w)
        vecs.append((1000 + 2 * j, v)); vecs.append((1001 + 2 * j, w))
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<double>")

    exact = {(r["a"], r["b"]) for r in
             DD.cosine_near_dup_pairs(emb, threshold=0.9).collect()}
    got = {(r["a"], r["b"]) for r in
           DD.cosine_near_dup_bucketed(spark, emb, threshold=0.9,
                                       n_centroids=16, nprobe=3,
                                       sample_rows=500).collect()}
    planted = {(1000 + 2 * j, 1001 + 2 * j) for j in range(50)}
    assert planted <= exact        # sanity: plants really are near-dups
    assert got <= exact            # verification is exact — no false pairs
    recall = len(got & exact) / len(exact)
    assert recall >= 0.95, f"bucketed recall {recall:.3f}"
    n = len(vecs)
    n_cand = KNN.ivf_candidate_pairs(spark, emb, 16, 3, sample_rows=500).count()
    assert n_cand < 0.5 * n * (n - 1) / 2, n_cand  # genuinely not all-pairs


def test_hamming_banded_equals_bruteforce(spark):
    """Pigeonhole-banded near-dup == cross-join baseline, on the real
    16-bit simhash of the documents fixture (4 bands of 4 bits,
    max_dist 3) AND on adversarial 64-bit hashes (8 bands, max_dist 7,
    incl. negative hashes exercising sign-extension-proof banding)."""
    import numpy as np
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sig = DD.simhash(docs)
    a = sorted(map(tuple, DD.hamming_near_dup_pairs(sig, 3).collect()))
    b = sorted(map(tuple, DD.hamming_near_dup_banded(
        sig, 3, bands=4, hash_bits=16).collect()))
    assert a == b and len(a) > 0

    rng = np.random.default_rng(2)
    base = rng.integers(-2**63, 2**63 - 1, 30, dtype=np.int64)
    rows = []
    for i, h in enumerate(base):
        rows.append((2 * i, int(h)))
        flip = int(h) ^ sum(1 << int(b_) for b_ in rng.integers(0, 64, 3))
        rows.append((2 * i + 1, int(np.int64(np.uint64(flip % 2**64)))))
    sig64 = spark.createDataFrame(rows, "doc_id long, simhash long")
    a = sorted(map(tuple, DD.hamming_near_dup_pairs(sig64, 7).collect()))
    b = sorted(map(tuple, DD.hamming_near_dup_banded(sig64, 7).collect()))
    assert a == b and len(a) >= 30

    with pytest.raises(ValueError, match="max_dist < bands"):
        DD.hamming_near_dup_banded(sig64, 8, bands=8)


def test_token_tid_matches_duckdb(spark):
    """The Spark token_tid expression and its SQL replay string produce
    identical integers (the whole oracle strategy rests on this)."""
    import duckdb
    toks = ["hello", "world", "", "ünïcode", "a b", "ZZZ"]
    sdf = spark.createDataFrame([(t,) for t in toks], ["token"])
    got = {r["token"]: r["tid"] for r in
           sdf.select("token", T.token_tid(F.col("token")).alias("tid")).collect()}
    con = duckdb.connect()
    for t in toks:
        want = con.execute(
            f"SELECT {T.token_tid_sql('?')}".replace("md5(?)", "md5(?)"), [t]
        ).fetchone()[0]
        assert got[t] == want, t


def test_duplicate_clusters_long_chain_pointer_doubling(spark, caplog):
    """A 300-link duplicate chain (diameter 300) closes in O(log d)
    rounds via pointer doubling, well within max_rounds=16; one round
    fewer than it needs raises instead of returning partial labels."""
    caplog.set_level(logging.INFO, logger="kaza_lcms_spark.plans.fixpoint")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(300)],
                                  "a long, b long")
    rows = DD.duplicate_clusters(pairs, max_rounds=16).collect()
    assert len(rows) == 301
    assert all(r["cluster_id"] == 0 for r in rows)
    rounds = [r.rounds for r in caplog.records if hasattr(r, "rounds")][-1]
    assert rounds <= 16
    with pytest.raises(RuntimeError, match="did not converge within"):
        DD.duplicate_clusters(pairs, max_rounds=rounds - 1)


def test_duplicate_clusters_equals_union_find(spark):
    """Same labels as a driver-side union-find (min id per component)
    on several components: short chains, isolated pairs, a star, a
    40-link chain with shuffled ids and random pairs joined by two
    extra links."""
    rng = np.random.default_rng(7)
    edges = [(10, 11), (11, 12), (20, 21), (30, 31), (40, 41)]
    edges += [(100 + i, 101 + i) for i in range(5)]
    edges += [(500, 500 + k) for k in range(1, 8)]
    mid = [1000 + int(i) for i in rng.permutation(41)]
    edges += list(zip(mid[:-1], mid[1:]))
    edges += [(int(a), int(b)) for a, b in
              rng.permutation(np.arange(2000, 2030)).reshape(-1, 2)]
    edges += [(2001, 2010), (2015, 2024)]
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    want = sorted((n, find(n)) for n in parent)
    pairs = spark.createDataFrame([(min(a, b), max(a, b)) for a, b in edges],
                                  "a long, b long")
    got = sorted(map(tuple, DD.duplicate_clusters(pairs).collect()))
    assert got == want


def test_duplicate_clusters_no_pairs(spark):
    pairs = spark.createDataFrame([], "a long, b long")
    out = DD.duplicate_clusters(pairs)
    assert out.columns == ["doc_id", "cluster_id"] and out.collect() == []


def test_banded_hamming_verify_before_distinct_plan(spark):
    """The dedup exchange must carry only verified (a, b, hamming)
    triples: both 64-bit hash columns are dropped before the shuffle
    (verify runs inside each band join, not after the distinct)."""
    sig = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 2654435761 % 4294967296).alias("h"))
    plan = plan_of(DD.hamming_near_dup_banded(sig, max_dist=6, bands=8,
                                              hash_col="h"))
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert ex, "expected a hash-partitioned exchange for the distinct"
    for l in ex:
        assert "hamming" in l and "ha#" not in l and "hb#" not in l, l
