"""kNN / similarity-search operators (BASELINE.json::north_star "kNN
caption-neighbor lookups per cell" + driver requirement: ANN over an
embedding column).

Three strategies, by scale:

* ``cosine_topk_relational`` — exact brute force as pure relational ops
  with a deterministic left-to-right dot-product fold (functions.dot_fold)
  → bit-replayable by the SQL oracle. O(n²) pairs: correctness baseline.
* ``cosine_topk_blocked`` — exact brute force as a distributed block-grid
  matrix multiply: both sides packed into block rows executor-side (no
  driver collect), item blocks broadcast, one BLAS matmul per block pair,
  window merge. Same results incl. ties, ~100× the relational path.
* ``cosine_topk_ivf`` / ``ivf_candidate_pairs`` — the approximate scale
  path: codebook-bucketed candidates, one shuffle on bucket id.
* ``knn_per_cell`` — the spatial scale path: comparisons restricted to
  each point's own cell, bounded-domain counting top-k; cold cells run
  one kernel each, hot cells a block-grid join of item chunks × query
  salts. The 10¹² analog of GEE's withinDistance join
  (src/utils/sampling.py:12-28).

Hamming kNN over phash (images) / simhash (docs) uses the same shapes
with bit_count(xor) distance — JVM-side.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType, StructField,
                               StructType)

from .. import functions as KF

def _round_half_away(a: np.ndarray, digits: int) -> np.ndarray:
    """Half-away-from-zero rounding of the binary double — numpy twin of
    functions.round_binary (Spark column) and plans/oracles.round_sql
    (DuckDB). All three compute the identical IEEE multiply/add/floor
    sequence, so every engine in the cosine family ranks and emits
    bit-identical values (closes the r3 advice rank-flip gap; native
    F.round/ROUND disagree at repr midpoints — see
    functions.round_binary). ±inf passes through unchanged (floor(inf)
    = inf), so IVF's -inf self-markers survive the rounding."""
    p = 10.0 ** digits
    return np.sign(a) * np.floor(np.abs(a) * p + 0.5) / p


def _round4(a: np.ndarray) -> np.ndarray:
    return _round_half_away(a, 4)


def cosine_topk_relational(emb: DataFrame, k: int = 5,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """(vec_id, neighbor_id, cos) top-k by cosine, excluding self; ties
    broken by neighbor id. Vectors are L2-normalized upstream (dot =
    cosine); fold order is deterministic for oracle parity."""
    a = emb.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    b = emb.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))
    dot = KF.dot_fold(F.col("qv"), F.col("nv"))
    # rank on the ROUNDED cos (the emitted precision) so the rank-k
    # boundary cannot flip on sub-ulp accumulation differences between
    # the fold, BLAS (cosine_topk_blocked) and the SQL oracle
    pairs = (a.crossJoin(b).where(F.col("qid") != F.col("nid"))
             .select("qid", "nid", KF.round4_binary(dot).alias("cos")))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid").asc())
    return (pairs.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k)
            .select(F.col("qid").alias("vec_id"), F.col("nid").alias("neighbor_id"),
                    "cos"))


def _pack_blocks(df: DataFrame, id_col: str, vec_col: str, prefix: str,
                 block_rows: int) -> DataFrame:
    """Pack (id, vector) rows into block rows (block_id, ids[], vecs[])
    executor-side — one narrow mapInPandas, nothing touches the driver.
    Each block carries ≤ block_rows vectors flattened into one array, so
    downstream block-pair kernels see bounded, BLAS-friendly matrices."""
    from pyspark.sql.types import ArrayType

    schema = StructType([
        StructField(f"{prefix}bid", LongType()),
        StructField(f"{prefix}ids", ArrayType(LongType())),
        StructField(f"{prefix}vecs", ArrayType(DoubleType())),
    ])

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext
        # partition id (not os.getpid: reused Python workers share a pid
        # across tasks, which would collide block ids between partitions
        # and merge unrelated block pairs into one applyInPandas group)
        base = (TaskContext.get().partitionId() & 0x7FFFFFFF) << 32
        seq = 0
        for b in batches:
            for s in range(0, len(b), block_rows):
                blk = b.iloc[s:s + block_rows]
                vecs = np.array(list(blk[vec_col]), dtype=np.float64)
                yield pd.DataFrame({
                    f"{prefix}bid": [base | seq],
                    f"{prefix}ids": [blk[id_col].to_numpy().astype(np.int64)],
                    f"{prefix}vecs": [vecs.ravel()],
                })
                seq += 1

    return df.select(id_col, vec_col).mapInPandas(pack, schema)


def cosine_topk_blocked(spark: SparkSession, emb: DataFrame, k: int = 5,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        block_rows: int = 4096) -> DataFrame:
    """Exact top-k as a distributed block-grid matrix multiply: both sides
    are packed into block rows executor-side (never collected to the
    driver), item blocks are broadcast, every (query block × item block)
    pair runs one BLAS matmul and keeps an exact per-pair top-k, and a
    window merge keeps the global top-k per query.

    Scale shape: query side is unbounded (streams block by block); total
    work is inherently O(n_q·n_i) — this is the exact path for a
    broadcastable item side (up to ~10M items). Beyond that, route to
    cosine_topk_ivf. Ties break (−cos, neighbor_id) exactly: each block
    kernel fully lexsorts its candidates, and the merge window repeats
    the same ordering."""
    # Small-corpus parallelism: a corpus below block_rows rows in few
    # partitions packs into ONE block pair — the whole grid runs on one
    # task. Split such inputs into ~sqrt(2·parallelism) blocks per side
    # (≈ 2·cores pairs) so the matmuls spread; output is block-size
    # invariant (exact per-pair top-k + global window merge, tested).
    # Large corpora (n > block_rows · parallelism) keep their natural
    # blocking — this branch never fires at scale.
    par = spark.sparkContext.defaultParallelism
    n = emb.count()
    if n <= block_rows * par:
        target = max(1, min(int(np.ceil(np.sqrt(2.0 * par))), -(-n // 256)))
        block_rows = max(256, -(-n // target))
        emb = emb.repartition(target)
    qb = _pack_blocks(emb, id_col, vec_col, "q", block_rows)
    ib = _pack_blocks(emb, id_col, vec_col, "i", block_rows)
    pairs = qb.crossJoin(F.broadcast(ib))

    out_schema = StructType([
        StructField("vec_id", LongType()), StructField("neighbor_id", LongType()),
        StructField("cos", DoubleType()),
    ])

    def per_pair(key, pdf: pd.DataFrame) -> pd.DataFrame:
        outs = []
        for row in pdf.itertuples(index=False):
            qids = np.asarray(row.qids, dtype=np.int64)
            iids = np.asarray(row.iids, dtype=np.int64)
            Q = np.asarray(row.qvecs, dtype=np.float64).reshape(len(qids), -1)
            M = np.asarray(row.ivecs, dtype=np.float64).reshape(len(iids), -1)
            # round to the emitted precision BEFORE ranking so block-pair
            # pruning, the merge window, and the SQL oracle all rank on
            # identical keys (BLAS vs fold differ in the last ulp);
            # _round4 is the same IEEE expression Spark and the DuckDB
            # oracle evaluate — bit-identical (r3 advice item #1)
            sims = _round4(Q @ M.T)
            sims[qids[:, None] == iids[None, :]] = -np.inf   # exclude self
            b, n = sims.shape
            kk = min(k, n)
            # vectorized top-k with exact ties: per-row k-th-largest
            # threshold (np.partition), candidates = everything >= it
            # (boundary ties included), ONE lexsort over the candidate
            # set by (row, -cos, neighbor id), keep the first kk per row
            # — identical output to the old per-row np.lexsort loop
            # (same total order), without b Python-loop lexsorts of
            # n-wide rows per block pair
            thr = np.partition(sims, n - kk, axis=1)[:, n - kk]
            rr, cc = np.nonzero(sims >= thr[:, None])
            vv = sims[rr, cc]
            order = np.lexsort((iids[cc], -vv, rr))          # rr stays sorted
            rr, cc, vv = rr[order], cc[order], vv[order]
            starts = np.searchsorted(rr, np.arange(b))
            pos = np.arange(len(rr)) - starts[rr]
            sel = (pos < kk) & (vv > -np.inf)
            outs.append(pd.DataFrame({
                "vec_id": qids[rr[sel]], "neighbor_id": iids[cc[sel]],
                "cos": vv[sel]}))
        if not outs:
            return pd.DataFrame({"vec_id": [], "neighbor_id": [], "cos": []})
        return pd.concat(outs)

    # one group per block pair bounds task memory to exactly two blocks;
    # pin the task count or AQE coalesces the BLAS groups by byte size
    from ..plans.salting import pin_kernel_partitions
    cands = (pin_kernel_partitions(pairs, "qbid", "ibid")
             .groupBy("qbid", "ibid").applyInPandas(per_pair, out_schema))
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(),
                                             F.col("neighbor_id").asc())
    return (cands.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k)
            .select("vec_id", "neighbor_id", "cos"))


def _kmeans_lite(mat: np.ndarray, n_centroids: int, iters: int = 8,
                 seed: int = 7) -> np.ndarray:
    """Deterministic Lloyd iterations on the driver (numpy). The IVF
    codebook is small (≤ thousands of centroids) — training it on a
    driver-side sample is the standard FAISS-style recipe."""
    rng = np.random.default_rng(seed)
    c = mat[rng.choice(len(mat), size=min(n_centroids, len(mat)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(mat @ c.T, axis=1)
        for j in range(len(c)):
            m = assign == j
            if m.any():
                v = mat[m].mean(axis=0)
                c[j] = v / max(np.linalg.norm(v), 1e-12)
    return c


def _ivf_codebook(spark: SparkSession, emb: DataFrame, n_centroids: int,
                  sample_rows: int, id_col: str, vec_col: str):
    """Broadcast IVF codebook trained on a driver sample.

    The sample is the lowest rows by xxhash64(id) (TakeOrderedAndProject —
    per-partition top-k, not a global sort), so the codebook — and
    therefore every IVF result — is deterministic across partitionings
    and cluster sizes (bare .limit() is not), AND unbiased when content
    correlates with id order (ingest time, shard, class): a lowest-id
    sample of such a corpus would train centroids on one slice of the
    distribution and crater recall for the rest (tested on an
    id-clustered fixture).

    Sizing: keep ``sample_rows ≥ ~40× n_centroids`` or Lloyd iterations
    see too few points per centroid and the codebook degenerates
    (empty/duplicate centroids → recall loss); the default 20k sample
    supports codebooks into the low hundreds. The sample is fixed-size
    regardless of corpus rows — driver memory is bounded at any scale."""
    sample = [r[vec_col] for r in
              emb.select(id_col, vec_col)
                 .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
                 .limit(sample_rows).collect()]
    cents = _kmeans_lite(np.array(sample, dtype=np.float64), n_centroids)
    return spark.sparkContext.broadcast(cents)


def _ivf_tagged(spark: SparkSession, emb: DataFrame, n_centroids: int,
                nprobe: int, sample_rows: int,
                id_col: str, vec_col: str,
                query_df: DataFrame | None = None,
                probe_margin: float | None = None) -> DataFrame:
    """Shared IVF assignment: train a small codebook on a driver sample
    (_ivf_codebook), broadcast it, and tag every vector with its top-1
    bucket as an item (is_query=0) and its probe buckets as a query
    (is_query=1). One narrow mapInPandas; the bucket id is the
    downstream shuffle key.

    ``probe_margin=None`` probes a FIXED nprobe buckets per query.
    Otherwise the probe set is adaptive (auto-nprobe): bucket j is
    probed only while its centroid similarity is within ``probe_margin``
    of the query's best bucket, capped at ``nprobe`` — queries deep
    inside a cluster (large similarity gap to the runner-up centroid)
    probe 1-2 buckets, boundary queries probe up to the cap, spending
    the candidate budget where recall is actually at risk. The decision
    reuses the centroid similarities the assignment already computes —
    zero extra distance work."""
    b_c = _ivf_codebook(spark, emb, n_centroids, sample_rows, id_col, vec_col)

    assign_schema = StructType([
        StructField(id_col, LongType()), StructField("bucket", LongType()),
        StructField("is_query", IntegerType()),
        StructField(vec_col, emb.schema[vec_col].dataType),
    ])

    def mk_assign(emit_items: bool, emit_queries: bool):
        def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            C = b_c.value
            for b in batches:
                if not len(b):
                    continue
                q = np.array(list(b[vec_col]), dtype=np.float64)
                sims = q @ C.T
                order = np.argsort(-sims, axis=1)[:, :nprobe]
                top_sims = np.take_along_axis(sims, order, axis=1)
                reps = []
                if emit_items:
                    reps.append(pd.DataFrame({
                        id_col: b[id_col], "bucket": order[:, 0], "is_query": 0,
                        vec_col: b[vec_col]}))
                if emit_queries:
                    for j in range(min(nprobe, order.shape[1])):
                        if probe_margin is None or j == 0:
                            sel = np.ones(len(b), dtype=bool)
                        else:
                            sel = (top_sims[:, 0] - top_sims[:, j]
                                   <= probe_margin)
                        if not sel.any():
                            break
                        reps.append(pd.DataFrame({
                            id_col: b[id_col].to_numpy()[sel],
                            "bucket": order[sel, j], "is_query": 1,
                            vec_col: b[vec_col].to_numpy()[sel]}))
                yield pd.concat(reps)
        return assign

    if query_df is None:
        # symmetric: every row is both an item and an nprobe-replicated
        # query, in one narrow pass
        return emb.select(id_col, vec_col).mapInPandas(
            mk_assign(True, True), assign_schema)
    items = emb.select(id_col, vec_col).mapInPandas(
        mk_assign(True, False), assign_schema)
    queries = query_df.select(id_col, vec_col).mapInPandas(
        mk_assign(False, True), assign_schema)
    return items.unionByName(queries)


def ivf_candidate_pairs(spark: SparkSession, emb: DataFrame,
                        n_centroids: int = 16, nprobe: int = 4,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        sample_rows: int = 20000,
                        probe_margin: float | None = None) -> DataFrame:
    """(a, b, va, vb) candidate pairs sharing an IVF bucket (either side's
    probe set covers the other's home bucket) — the bucketed, never-
    all-pairs candidate generator for embedding near-dup verification.
    One shuffle on bucket id + distinct + two id-keyed hash joins to
    re-attach vectors. ``probe_margin`` enables the same adaptive
    auto-nprobe as :func:`cosine_topk_ivf`."""
    tagged = _ivf_tagged(spark, emb, n_centroids, nprobe, sample_rows,
                         id_col, vec_col, probe_margin=probe_margin)
    q = tagged.where(F.col("is_query") == 1).select(
        F.col(id_col).alias("qa"), "bucket")
    i = tagged.where(F.col("is_query") == 0).select(
        F.col(id_col).alias("ib"), "bucket")
    cand = (q.join(i, "bucket").where(F.col("qa") != F.col("ib"))
            .select(F.least("qa", "ib").alias("a"),
                    F.greatest("qa", "ib").alias("b"))
            .distinct())
    va = emb.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return cand.join(va, "a").join(vb, "b")


def cosine_topk_ivf(spark: SparkSession, emb: DataFrame, k: int = 5,
                    n_centroids: int = 16, nprobe: int = 4,
                    sample_rows: int = 20000,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    query_df: DataFrame | None = None,
                    exclude_self: bool = True,
                    probe_margin: float | None = None) -> DataFrame:
    """Approximate top-k by IVF bucketing — the 10¹²-row scale path for
    similarity search: a small centroid codebook is trained on a driver
    sample and broadcast; items partition into their nearest-centroid
    bucket (one shuffle on bucket id); queries replicate to their nprobe
    nearest buckets; per-bucket numpy matmuls produce candidates and a
    window merge keeps the global top-k per query. Recall rises with
    nprobe (tested ≥0.85 at nprobe=6/8 centroids).

    ``query_df`` restricts the query side to a separate frame (items stay
    ``emb``) — the asymmetric search shape (probe a batch against the
    corpus); default None keeps every row as both item and query.

    ``exclude_self`` controls the id-equality exclusion: True (default)
    treats a query id equal to an item id as THE SAME VECTOR and never
    returns it — correct for the symmetric case and for query batches
    that are corpus rows. Pass False when ``query_df`` carries a FOREIGN
    id space (fresh probe vectors numbered from 0): id collisions there
    are unrelated vectors, and excluding them would silently drop true
    neighbors.

    ``probe_margin`` switches the query side to adaptive auto-nprobe
    (see :func:`_ivf_tagged`): ``nprobe`` becomes the probe CAP and a
    query only fans out to runner-up buckets whose centroid similarity
    is within the margin of its best bucket — same recall target at a
    lower mean probed-bucket volume (measured in tools/ann_probe.py).

    (A packed-block bucket shuffle — (ids[], flat vecs[]) rows per
    (batch, bucket, role) — was measured at 1M×100k/nprobe 4 and was NOT
    faster than this per-row shape on local[32]: the Python per-bucket
    emit loop costs what the row overhead saves. Kept per-row.)"""
    tagged = _ivf_tagged(spark, emb, n_centroids, nprobe, sample_rows,
                         id_col, vec_col, query_df=query_df,
                         probe_margin=probe_margin)

    cand_schema = StructType([
        StructField("vec_id", LongType()), StructField("neighbor_id", LongType()),
        StructField("cos", DoubleType()),
    ])

    def per_bucket(key, pdf: pd.DataFrame) -> pd.DataFrame:
        items = pdf[pdf["is_query"] == 0]
        queries = pdf[pdf["is_query"] == 1]
        if len(items) == 0 or len(queries) == 0:
            return pd.DataFrame({"vec_id": [], "neighbor_id": [], "cos": []})
        I = np.array(list(items[vec_col]), dtype=np.float64)
        Q = np.array(list(queries[vec_col]), dtype=np.float64)
        iid = items[id_col].to_numpy()
        qid = queries[id_col].to_numpy()
        # id-sort both sides: candidate selection at tie boundaries is
        # then independent of shuffle arrival order
        io = np.argsort(iid, kind="stable")
        iid, I = iid[io], I[io]
        qo = np.argsort(qid, kind="stable")
        qid, Q = qid[qo], Q[qo]
        sims = Q @ I.T
        if exclude_self:
            sims[qid[:, None] == iid[None, :]] = -np.inf
        kk = min(k, sims.shape[1])
        take = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
        return pd.DataFrame({
            "vec_id": np.repeat(qid, kk),
            "neighbor_id": iid[take].ravel(),
            # shared half-away-from-zero convention, not np.round's
            # half-to-even — one rounding rule across the cosine family
            "cos": _round_half_away(
                np.take_along_axis(sims, take, axis=1).ravel(), 6),
        })

    from ..plans.salting import pin_kernel_partitions
    cands = (pin_kernel_partitions(tagged, "bucket")
             .groupBy("bucket").applyInPandas(per_bucket, cand_schema))
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (cands.where(~F.col("cos").eqNullSafe(float("-inf")))
            .withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k)
            .select("vec_id", "neighbor_id", "cos"))


def hamming_topk(df: DataFrame, k: int = 3, id_col: str = "doc_id",
                 hash_col: str = "h") -> DataFrame:
    """(id, neighbor_id, hamming) top-k nearest by bit_count(xor), ties by
    (distance, neighbor id). JVM-side distance; window top-k."""
    a = df.select(F.col(id_col).alias("qid"), F.col(hash_col).alias("ha"))
    b = df.select(F.col(id_col).alias("nid"), F.col(hash_col).alias("hb"))
    d = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    pairs = (a.crossJoin(b).where(F.col("qid") != F.col("nid"))
             .select("qid", "nid", d.alias("hamming")))
    w = Window.partitionBy("qid").orderBy(F.col("hamming").asc(), F.col("nid").asc())
    return (pairs.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k)
            .select(F.col("qid").alias(id_col), F.col("nid").alias("neighbor_id"),
                    "hamming"))


def _knn_block(ids: np.ndarray, h: np.ndarray, q_rows: np.ndarray,
               k: int, id_col: str) -> list[pd.DataFrame]:
    """Top-k Hamming neighbors for query rows q_rows of the id-sorted
    (ids, h) item set, each query excluding itself: the within-set case
    of :func:`_knn_block_xq`."""
    return _knn_block_xq(ids[q_rows], h[q_rows], ids, h, k, id_col)


def _knn_block_xq(q_ids: np.ndarray, q_h: np.ndarray, i_ids: np.ndarray,
                  i_h: np.ndarray, k: int, id_col: str) -> list[pd.DataFrame]:
    """Top-k Hamming neighbors for the queries (q_ids, q_h) among the
    id-sorted items (i_ids, i_h) — the one per-cell kNN kernel. Ties
    break (distance, id). An item whose id equals the query's is the
    query itself and is skipped: ``searchsorted`` finds where each query
    id sorts, O(b·log n), so queries need not be items (a hot cell's
    query meets its own row in only one of the cell's item chunks).
    Each row keeps min(k, items other than itself) neighbors.

    Selection exploits the bounded distance domain (0..64): a per-row
    distance histogram gives the k-th-smallest threshold in one linear
    pass, candidates (≤ threshold, includes boundary ties) come from one
    nonzero scan, and only those few are lexsorted — O(b·n) total versus
    the full per-row argsort's O(b·n·log n) (measured 2.3× on 20k-item
    cells; identical output incl. heavy ties, tested). Top-k over an item
    subset is exact, so a window merge over item chunks reproduces the
    whole-cell result (top-k of a union of per-subset top-k equals global
    top-k under a total order)."""
    from ..kernels import codec

    n = len(i_ids)
    outs = []
    block = max(256, 8_000_000 // max(n, 1))
    for s in range(0, len(q_ids), block):
        qi, qh = q_ids[s:s + block], q_h[s:s + block]
        b = len(qi)
        d = codec.hamming64(qh[:, None], i_h[None, :])   # (b, n), 0..64
        at = np.searchsorted(i_ids, qi)
        own = np.flatnonzero(at < n)
        own = own[i_ids[at[own]] == qi[own]]
        d[own, at[own]] = 65                             # exclude self
        counts = np.bincount(
            (d + (np.arange(b) * 66)[:, None]).ravel(),
            minlength=b * 66).reshape(b, 66)
        cum = counts[:, :65].cumsum(axis=1)
        kk = np.minimum(k, cum[:, -1])                   # chunk may hold < k
        thr = (cum >= np.maximum(kk, 1)[:, None]).argmax(axis=1)
        # rows with no valid item: every distance is 65, none passes thr 0
        rr, cc = np.nonzero(d <= thr[:, None])           # cc id-ordered
        cd = d[rr, cc]
        order = np.lexsort((cc, cd, rr))                 # (row, distance, id)
        rr, cc, cd = rr[order], cc[order], cd[order]
        starts = np.searchsorted(rr, np.arange(b))
        sel = np.arange(len(rr)) - starts[rr] < k
        outs.append(pd.DataFrame({
            id_col: qi[rr[sel]],
            "neighbor_id": i_ids[cc[sel]],
            "hamming": cd[sel],
        }))
    return outs


def _knn_hot_cells(hot_df: DataFrame, k: int, cell_col: str, id_col: str,
                   hash_col: str, chunks: dict, salt_buckets: int,
                   out_schema: StructType) -> DataFrame:
    """Exact per-cell kNN for hot cells as a block-grid join. Each cell's
    items are hash-chunked into ``chunks[cell]`` uniform chunks, its
    queries are salted into ``salt_buckets`` groups, and both sides are
    replicated so every (item chunk × query salt) pair meets in one
    bounded kernel. With one chunk a query meets its whole cell in one
    group and its top-k is final; only when some cell has more chunks
    does a window merge keep the global per-query top-k.

    Hash chunks are uniform by construction, unlike spatial child cells,
    which inherit a river or border cell's skew and would need halo
    logic to stay exact. Shuffle volume is n·(salt_buckets + chunks) rows
    of (id, hash) per cell, far below the kernel's inherent O(n²)
    distance work, and no task holds more than one chunk plus its query
    slice."""
    from ..plans import salting as SALT

    nchunk_schema = StructType([
        StructField(cell_col, hot_df.schema[cell_col].dataType),
        StructField("_nchunks", IntegerType()),
    ])
    nchunk_df = F.broadcast(hot_df.sparkSession.createDataFrame(
        list(chunks.items()), nchunk_schema))
    pts = hot_df.join(nchunk_df, cell_col)
    # items: one chunk each, replicated to every query-salt group
    items = (pts.withColumn("_ichunk", F.pmod(F.xxhash64(F.col(id_col)),
                                              F.col("_nchunks")).cast("int"))
             .withColumn("_qsalt", F.explode(F.sequence(
                 F.lit(0), F.lit(salt_buckets - 1))))
             .withColumn("_side", F.lit(0)))
    # queries: one salt group each, replicated to every item chunk
    queries = (SALT.with_salt(pts, id_col, salt_buckets, "_qsalt")
               .withColumn("_ichunk", F.explode(F.sequence(
                   F.lit(0), F.col("_nchunks") - 1)))
               .withColumn("_side", F.lit(1)))
    both = items.unionByName(queries).drop("_nchunks")

    def per_block(key, pdf: pd.DataFrame) -> pd.DataFrame:
        it = pdf[pdf["_side"] == 0]
        qr = pdf[pdf["_side"] == 1]
        if not len(it) or not len(qr):
            return pd.DataFrame({id_col: [], "neighbor_id": [], "hamming": []})
        i_ids = it[id_col].to_numpy()
        i_h = it[hash_col].to_numpy().astype(np.int64)
        order = np.argsort(i_ids, kind="stable")         # id order = tie order
        outs = _knn_block_xq(qr[id_col].to_numpy(),
                             qr[hash_col].to_numpy().astype(np.int64),
                             i_ids[order], i_h[order], k, id_col)
        return pd.concat(outs)

    # explicit-N: AQE would fold the salted groups back into few tasks
    cands = (SALT.pin_kernel_partitions(both, cell_col, "_ichunk", "_qsalt")
             .groupBy(cell_col, "_ichunk", "_qsalt")
             .applyInPandas(per_block, out_schema))
    if max(chunks.values()) == 1:
        return cands
    w = Window.partitionBy(id_col).orderBy(F.col("hamming").asc(),
                                           F.col("neighbor_id").asc())
    return (cands.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k).drop("_rn"))


def with_caption_simhash(df: DataFrame, caption_col: str = "caption",
                         out_col: str = "cap_hash") -> DataFrame:
    """64-bit SimHash of the caption token multiset (numpy-vectorized per
    Arrow batch): tokens → FNV-1a → splitmix64 → signed bit votes → sign
    pack. Feeds the per-cell kNN so 'caption neighbors per cell'
    (BASELINE.json::north_star) reuses the Hamming-kNN machinery.

    The FNV fold is vectorized over byte POSITIONS, not tokens: unique
    tokens are packed into numpy's fixed-width byte matrix (padded with
    NULs) and the fold iterates ≤ max-token-length times over full
    columns — no per-token Python loop anywhere (same hashes as the
    per-token scalar fold, tested). Tokens with genuine TRAILING NUL
    bytes hash distinctly from their stripped twins (r3 advice item #3):
    uniques are factorized at the object level (numpy U/S dtypes would
    silently strip trailing NULs) and the fold is driven by TRUE byte
    lengths, so a real trailing NUL folds a 0 byte — which the padding
    region of the matrix supplies bit-exactly — while a padded token
    stops short."""
    from ..kernels import rand as RND

    @F.pandas_udf(LongType())
    def sh(caps: pd.Series) -> pd.Series:
        # NULL caption == empty caption (str.split of NaN yields a 0-d
        # float that would crash the concatenate below)
        toks = caps.fillna("").str.split(" ")
        lens = toks.str.len().to_numpy()
        flat = np.concatenate([np.asarray(t, dtype=object) for t in toks]) \
            if len(toks) else np.array([], dtype=object)
        # token -> uint64: FNV-1a over utf-8 bytes (Python hash() is
        # session-salted). Each unique token is hashed once. Encode
        # FIRST, then factorize the bytes (hash-based, C): pandas'
        # str hashtable and numpy's U/S dtypes both treat NUL as a
        # terminator/padding and would merge "ab\0" into "ab" before
        # hashing — bytes objects compare exactly.
        if len(flat):
            inv, uq = pd.factorize(
                pd.Series(flat).str.encode("utf-8").to_numpy())
        else:
            inv, uq = np.array([], dtype=np.int64), np.array([], dtype=object)
        h = np.full(len(uq), 0xCBF29CE484222325, dtype=np.uint64)
        if len(uq):
            blens = pd.Series(uq).str.len().to_numpy(dtype=np.int64)  # TRUE byte lengths
            width = max(int(blens.max()), 1)
            # keep the matrix uint8 (1 byte/byte resident); widen only
            # the active column slice inside the fold. S-dtype padding
            # writes 0 bytes — exactly the byte value a genuine trailing
            # NUL must fold, so true-length-driven folds stay correct
            # even though the buffer can't distinguish NUL from padding.
            M = np.frombuffer(
                np.asarray(uq, dtype=f"S{width}").tobytes(),
                np.uint8).reshape(len(uq), width)
            prime = np.uint64(0x100000001B3)
            for j in range(width):
                act = blens > j
                h[act] = (h[act] ^ M[act, j].astype(np.uint64)) * prime
        codes = RND.mix64(h[inv])
        bits = ((codes[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                & np.uint64(1)).astype(np.int32) * 2 - 1
        # tokens are emitted doc-contiguous (np.repeat order), so the
        # per-doc vote sums are segment sums: np.add.reduceat over the
        # doc start offsets (measured 5× faster than the np.add.at
        # scatter it replaces, identical sums). Every doc has ≥ 1 token
        # ("" splits to ['']), so no reduceat segment is empty.
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        votes = np.add.reduceat(bits, starts, axis=0).astype(np.int64) \
            if len(bits) else np.zeros((len(lens), 64), dtype=np.int64)
        sig = ((votes > 0).astype(np.uint64)
               << np.arange(64, dtype=np.uint64)[None, :]).sum(axis=1, dtype=np.uint64)
        return pd.Series(sig.astype(np.int64))

    return df.withColumn(out_col, sh(F.col(caption_col)))


def caption_knn_per_cell(points: DataFrame, k: int,
                         cell_col: str = "cell_id",
                         id_col: str = "image_id",
                         caption_col: str = "caption",
                         **kw) -> DataFrame:
    """North-star operator: per-cell caption-neighbor lookups — caption
    SimHash + salted per-cell Hamming kNN."""
    hashed = with_caption_simhash(points, caption_col)
    return knn_per_cell(hashed, k, cell_col, id_col, "cap_hash", **kw)


def knn_per_cell(points: DataFrame, k: int, cell_col: str = "cell_id",
                 id_col: str = "image_id", hash_col: str = "phash",
                 salt_threshold: int = 20000, salt_buckets: int = 8,
                 chunk_rows: int = 1_000_000) -> DataFrame:
    """Per-cell kNN by phash Hamming distance — the north-star "caption
    neighbors per cell" operator, with EXPLICIT skew salting
    (plans.salting): hot river/border cells would otherwise pin one task
    per cell.

    Two tiers, routed from ONE cell histogram (the only eager work while
    the frame is built; every input has an exact plan):

    * cold cells (and NULL cells) → groupBy(cell).applyInPandas, one
      kernel per cell;
    * hot cells (> ``salt_threshold`` rows) → the block-grid join of
      :func:`_knn_hot_cells`: items hash-chunked into
      ``ceil(n / chunk_rows)`` uniform chunks, queries salted into
      ``salt_buckets`` groups, every chunk × salt pair probed in one
      bounded kernel. A window merge runs only when some hot cell has
      more than one chunk. No task owns a whole hot cell, no hot row
      passes through the driver, and the output is identical to the
      cold path's (tested).
    """
    from ..plans import salting as SALT

    # Narrow to the three columns every branch needs (the routing
    # histogram and the cold/hot outputs each re-derive the input
    # subtree; a narrow projection keeps those recomputes to the columns
    # the kNN actually uses). An eager localCheckpoint here was measured
    # SLOWER (2.1 s → 3.5 s on the bench corpus): the serial
    # materialization wave costs more than the overlapped recomputes it
    # saves.
    points = points.select(cell_col, id_col, hash_col)

    out_schema = StructType([
        StructField(id_col, points.schema[id_col].dataType),
        StructField("neighbor_id", points.schema[id_col].dataType),
        StructField("hamming", LongType()),
    ])

    def per_cell(key, pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n <= 1:
            return pd.DataFrame({id_col: [], "neighbor_id": [], "hamming": []})
        ids = pdf[id_col].to_numpy()
        h = pdf[hash_col].to_numpy().astype(np.int64)
        order = np.argsort(ids, kind="stable")
        ids, h = ids[order], h[order]
        outs = _knn_block(ids, h, np.arange(n), k, id_col)
        return pd.concat(outs)

    # one histogram drives all routing: hot membership and chunk counts.
    # A NULL cell is never hot: IN over a list holding NULL is NULL for
    # every other cell, which would drop them from the cold path.
    chunks = {r[0]: -(-r[1] // chunk_rows) for r in
              SALT.cell_histogram(points, cell_col)
              .where(F.col("n") > salt_threshold).collect()
              if r[0] is not None}
    hot_df, cold_df = SALT.split_hot_cold(points, list(chunks), cell_col)
    # pin the kernel stage's task count (AQE coalescing can't see the
    # O(n²) per-cell cost — see plans.salting.pin_kernel_partitions)
    cold_out = (SALT.pin_kernel_partitions(cold_df, cell_col)
                .groupBy(cell_col).applyInPandas(per_cell, out_schema))
    if not chunks:
        return cold_out
    return cold_out.unionByName(_knn_hot_cells(
        hot_df, k, cell_col, id_col, hash_col, chunks, salt_buckets,
        out_schema))
