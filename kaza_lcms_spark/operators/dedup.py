"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Training-data-pipeline surface (driver requirement). Everything is
relational — explode → integer hashing → hash-agg / equi-join — so the
plans scale: MinHash signatures are one shuffle on doc_id, LSH candidate
generation is an equi-join on (band, band-signature) with skew handled by
AQE, and Jaccard verification touches only candidate pairs, never the
quadratic cross product.

Token ids come from the shuffle-free md5-derived hash
(operators.text.token_tid — a narrow map, no dictionary build, no global
sort), and the Lehmer permutations run over ``tid % M31`` so every number
here stays in int64 and is replayable in ANSI SQL by the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import text as T
from ..plans.fixpoint import fixpoint

M31 = 2147483647

#: (a, b) parameters of the k MinHash permutations
#: h_k(x) = (a·(x mod M31) + b) mod M31. Eight full-period Lehmer
#: multipliers mod 2^31-1 (MINSTD family + L'Ecuyer's tables); with
#: band_size=2 this gives b=4 bands of r=2 rows — LSH collision curve
#: P(candidate) = 1-(1-J²)⁴, i.e. a ~0.5-Jaccard knee.
MINHASH_PARAMS = [(48271, 1), (69621, 7), (16807, 13), (40692, 29),
                  (62089911, 31), (742938285, 43), (950706376, 59),
                  (1226874159, 71)]


def _perm(tid: F.Column, a: int, b: int) -> F.Column:
    """Lehmer permutation over the 31-bit residue of a 48-bit token id;
    (M31-1)·a + b < 2^63 for every multiplier above, so the arithmetic
    is exact int64 on both Spark and DuckDB."""
    return ((tid % M31) * F.lit(a) + F.lit(b)) % F.lit(M31)


def exact_dup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup summary: total docs vs distinct texts (hash-groupBy)."""
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.col(text_col)).alias("n_distinct"),
    )


def doc_token_ids(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """(doc_id, tid) distinct pairs: documents as token-id sets.
    tid is the shuffle-free hash id — the whole thing is one narrow map
    plus the distinct's hash-agg; no dictionary join."""
    tok = T.tokens(df, text_col, id_col).select(id_col, "token").distinct()
    return tok.select(id_col, T.token_tid(F.col("token")).alias("tid"))


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """(doc_id, mh0..mh{k-1}) — min over token-set of k Lehmer permutations.
    One explode + one hash-agg; signature width k is constant."""
    dt = doc_token_ids(df, text_col, id_col)
    aggs = [
        F.min(_perm(F.col("tid"), a, b)).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    return dt.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(df: DataFrame, band_size: int = 2,
                        bucket_cap: int | None = 64,
                        text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """LSH banding over the MinHash signature: pairs agreeing on any band.
    Bands of `band_size` hashes; equi-join per band on the band tuple,
    unioned and deduped. Returns (a, b) with a < b.

    ``bucket_cap`` drops band buckets holding more than that many docs
    before pairing — a hot bucket (boilerplate, empty docs) otherwise
    goes quadratic at corpus scale. Capped buckets are almost always
    exact-duplicate clusters better handled by exact dedup; pass None to
    disable (test-scale only). The cap is an aggregate+semi-join on the
    same band key as the pair join, so AQE coalesces the two shuffles."""
    sig = minhash_signatures(df, text_col, id_col)
    k = len(MINHASH_PARAMS)
    pairs = None
    for b0 in range(0, k, band_size):
        cols = [f"mh{i}" for i in range(b0, min(b0 + band_size, k))]
        side = sig.select(F.col(id_col).alias("a"), *cols)
        if bucket_cap is not None:
            ok = (side.groupBy(*cols)
                  .agg(F.count(F.lit(1)).alias("_bn"))
                  .where(F.col("_bn") <= bucket_cap)
                  .drop("_bn"))
            side = side.join(ok, on=cols, how="left_semi")
        right = side.select(F.col("a").alias("b"), *cols)
        p = side.join(right, on=cols).where(F.col("a") < F.col("b")).select("a", "b")
        pairs = p if pairs is None else pairs.unionByName(p)
    return pairs.distinct()


def jaccard_pairs(df: DataFrame, candidates: DataFrame | None = None,
                  text_col: str = "text", id_col: str = "doc_id",
                  threshold: float = 0.0) -> DataFrame:
    """Token-set Jaccard for candidate pairs (or all pairs if None —
    test-scale only). Relational: join doc-token sets on tid, count
    common, sizes from a per-doc agg; J = common/(na+nb-common)."""
    dt = doc_token_ids(df, text_col, id_col)
    sizes = dt.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = dt.select(F.col(id_col).alias("a"), "tid")
    b = dt.select(F.col(id_col).alias("b"), "tid")
    common = (a.join(b, "tid").where(F.col("a") < F.col("b"))
              .groupBy("a", "b").agg(F.count(F.lit(1)).alias("common")))
    if candidates is not None:
        common = common.join(candidates, ["a", "b"], "left_semi")
    out = (common
           .join(sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sza")), "a")
           .join(sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("szb")), "b")
           .select("a", "b",
                   F.round(F.col("common") /
                           (F.col("sza") + F.col("szb") - F.col("common")), 4)
                   .alias("jaccard")))
    return out.where(F.col("jaccard") >= F.lit(threshold))


def simhash(df: DataFrame, bits: int = 16, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """SimHash over token multiset: bit j of the hash is 1 iff the signed
    sum of token-hash bit-j contributions is positive. Token hash =
    Lehmer(tid); multiplicity counts (natural frequency weighting)."""
    tok = T.tokens(df, text_col, id_col).select(id_col, "token")
    dt = tok.select(
        id_col, _perm(T.token_tid(F.col("token")), 48271, 0).alias("h"))
    acc = F.lit(0).cast("long")
    for j in range(bits):
        contrib = F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1,
                         F.lit(1)).otherwise(F.lit(-1))
        acc = acc + (F.when(F.sum(contrib) > 0, F.lit(1)).otherwise(F.lit(0))
                     .cast("long") * F.lit(1 << j))
    return dt.groupBy(id_col).agg(acc.alias("simhash"))


def duplicate_clusters(pairs: DataFrame, max_rounds: int = 32) -> DataFrame:
    """Connected components over near-duplicate pairs → (node, cluster_id)
    with cluster_id = min reachable node id. The canonicalization step of
    a dedup pipeline (each cluster keeps its lowest-id representative).

    Distributed min-label propagation with pointer doubling: each round
    every node adopts the min label among itself and its neighbors, then
    compresses label ← label(label) (one self-join — labels are node
    ids, and label values only ever decrease toward reachable minima, so
    the shortcut is always a reachable candidate). Along a chain of
    increasing ids the propagation distance DOUBLES per round: 300 links
    close in 9 rounds, not 300 (tested); shuffled ids gain less (40
    links take 23 rounds). This is the star-contraction idea of the
    large-scale CC literature in its simplest correct form. Each round
    is two joins + one hash-agg and ONE eager checkpoint, whose job
    also counts the changed labels (plans.fixpoint)."""
    edges = (pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
             .unionByName(pairs.select(F.col("b").alias("x"), F.col("a").alias("y"))))
    labels = (edges.select(F.col("x").alias("node")).distinct()
              .withColumn("label", F.col("node")))

    def step(labels: DataFrame) -> DataFrame:
        nbr_min = (edges.join(labels.select(F.col("node").alias("y"), "label"), "y")
                   .groupBy("x").agg(F.min("label").alias("nbr_label")))
        prop = (labels.join(nbr_min.withColumnRenamed("x", "node"), "node", "left")
                .select("node", F.col("label").alias("old"),
                        F.least(F.col("label"),
                                F.coalesce("nbr_label", "label")).alias("label")))
        hop = prop.select(F.col("node").alias("label"), F.col("label").alias("_ll"))
        label = F.least(F.col("label"), F.coalesce("_ll", "label"))
        return (prop.join(hop, "label", "left")
                .select("node", label.alias("label"),
                        (label != F.col("old")).alias("flag")))

    return (fixpoint("duplicate_clusters", labels, step, max_rounds, "labels changed")
            .select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")))


def cosine_near_dup_pairs(emb: DataFrame, threshold: float = 0.35,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, cos) with a < b and
    cos ≥ threshold. Exact all-pairs with the deterministic fold dot
    product (functions.dot_fold) — bit-replayable by the SQL oracle; the
    correctness baseline. At corpus scale use
    cosine_near_dup_bucketed (IVF candidate restriction)."""
    from .. import functions as KF

    a = emb.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    cos = KF.round4_binary(KF.dot_fold(F.col("va"), F.col("vb")))
    return (a.crossJoin(b).where(F.col("a") < F.col("b"))
            .select("a", "b", cos.alias("cos"))
            .where(F.col("cos") >= F.lit(threshold)))


def cosine_near_dup_bucketed(spark, emb: DataFrame, threshold: float = 0.35,
                             n_centroids: int = 16, nprobe: int = 4,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             sample_rows: int = 20000) -> DataFrame:
    """Scale path for embedding near-dup: restrict candidate pairs to
    vectors sharing an IVF bucket (each vector goes to its top-1 bucket
    as an item and its nprobe buckets as a query), then verify cosine
    exactly per candidate. Never materializes the cross product; one
    shuffle on bucket id. Near-identical vectors share nearest centroids,
    so recall at high thresholds is ~1 (tested vs the exact pairs)."""
    from . import knn as KNN
    from .. import functions as KF

    pairs = KNN.ivf_candidate_pairs(spark, emb, n_centroids, nprobe,
                                    id_col, vec_col, sample_rows)
    cos = KF.round4_binary(KF.dot_fold(F.col("va"), F.col("vb")))
    return (pairs.select("a", "b", cos.alias("cos"))
            .where(F.col("cos") >= F.lit(threshold)))


def hamming_near_dup_pairs(sig: DataFrame, max_dist: int,
                           id_col: str = "doc_id",
                           hash_col: str = "simhash") -> DataFrame:
    """Pairs within Hamming distance of their simhash (test-scale cross
    join — the correctness baseline; the scale path is
    hamming_near_dup_banded)."""
    a = sig.select(F.col(id_col).alias("a"), F.col(hash_col).alias("ha"))
    b = sig.select(F.col(id_col).alias("b"), F.col(hash_col).alias("hb"))
    d = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (a.crossJoin(b).where(F.col("a") < F.col("b"))
            .where(d <= F.lit(max_dist))
            .select("a", "b", d.alias("hamming")))


def hamming_near_dup_banded(sig: DataFrame, max_dist: int, bands: int = 8,
                            hash_bits: int = 64,
                            id_col: str = "doc_id",
                            hash_col: str = "simhash") -> DataFrame:
    """EXACT Hamming near-dup pairs without the cross product: split the
    hash into `bands` equal bit bands; by pigeonhole, a pair within
    Hamming distance ≤ bands−1 differs in at most bands−1 bands and must
    agree EXACTLY on at least one — so per-band equi-joins produce a
    candidate superset with guaranteed 100% recall for
    ``max_dist < bands`` (asserted), and the exact bit_count verify keeps
    precision at 1. The multi-index trick of Manku et al.'s web-scale
    simhash dedup, expressed as `bands` equi-joins + one distinct.

    Same output as hamming_near_dup_pairs (tested); candidate volume is
    driven by per-band collision rates instead of n².

    The bit_count verify runs INSIDE each band join, before the
    union+distinct: the dedup exchange then carries only verified pairs
    (three narrow ints) instead of every candidate with both 64-bit
    hashes — bit_count per candidate is free next to shuffle bytes, and
    verified pairs are a small subset of candidates. `hamming` is a pure
    function of (a, b), so distinct over the 3-tuple equals distinct
    over the pair."""
    if max_dist >= bands:
        raise ValueError(
            f"pigeonhole recall guarantee needs max_dist < bands "
            f"(got max_dist={max_dist}, bands={bands})")
    width = hash_bits // bands
    mask = (1 << width) - 1
    d = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    pairs = None
    for j in range(bands):
        # (h >> s) & mask is shift-semantics-proof: masking discards any
        # sign-extension bits, so arithmetic vs logical shift agree
        band = F.shiftright(F.col(hash_col), j * width).bitwiseAND(F.lit(mask))
        a = sig.select(F.col(id_col).alias("a"), F.col(hash_col).alias("ha"),
                       band.alias("bv"))
        b = sig.select(F.col(id_col).alias("b"), F.col(hash_col).alias("hb"),
                       band.alias("bv"))
        p = (a.join(b, "bv").where(F.col("a") < F.col("b"))
             .where(d <= F.lit(max_dist))
             .select("a", "b", d.alias("hamming")))
        pairs = p if pairs is None else pairs.unionByName(p)
    return pairs.distinct()
