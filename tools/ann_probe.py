"""ANN recall/latency curve at the 1M-vector scale probe (r3 verdict
item #7): IVF top-k at nprobe ∈ {1,2,4,8} against a 1M-row synthetic
embedding corpus, recall measured vs the exact answer on a query slice.

Corpus: deterministic hash-based vectors (partitioning-invariant Box-
Muller over kernels.rand.uniform) clustered around 64 latent centroids
— the shape IVF exists for. Queries: the first 100k ids (latency arm);
recall on a 2,000-query subset vs an exact broadcast-queries /
streamed-items top-k computed once.

Appends a markdown section to BENCH/BASELINE.md. Run AFTER
tools/scaling.py (it overwrites the file).

Usage: python tools/ann_probe.py [n_vectors]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DIM = 64
N_LATENT = 64
N_QUERIES = 100_000
RECALL_EVERY = 50          # 2,000-query recall subset
K = 5
N_CENTROIDS = 256
NPROBES = (1, 2, 4, 8)
DEFAULT_NPROBE = 4


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StructField, StructType)

    from kaza_lcms_spark.kernels import rand as RND
    from kaza_lcms_spark.operators import knn as KNN
    from kaza_lcms_spark.session import get_spark

    spark = get_spark(app_name="ann-probe", master="local[32]",
                      shuffle_partitions=64)

    cents = np.random.default_rng(90210).normal(0, 1, (N_LATENT, DIM))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    schema = StructType([StructField("vec_id", LongType()),
                         StructField("embedding", ArrayType(DoubleType()))])

    def gen(batches):
        for b in batches:
            ids = b["id"].to_numpy()
            keys = ids[:, None] * DIM + np.arange(DIM)[None, :]
            u1 = RND.uniform(keys.ravel(), 11).reshape(len(ids), DIM)
            u2 = RND.uniform(keys.ravel(), 12).reshape(len(ids), DIM)
            z = np.sqrt(-2 * np.log(np.clip(u1, 1e-12, None))) \
                * np.cos(2 * np.pi * u2)
            # noise budget: |s·z| ≈ s·√DIM must stay below the unit
            # centroid norm or the corpus degenerates to uniform random
            # vectors (where no ANN structure exists); s=0.08 → within-
            # cluster cos ≈ 0.84, cross-cluster ≈ 0
            v = cents[RND.hash_u64(ids, 13) % N_LATENT] + 0.08 * z
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            yield pd.DataFrame({"vec_id": ids, "embedding": list(v)})

    emb = (spark.range(n, numPartitions=64).mapInPandas(gen, schema)
           .cache())
    emb.count()
    queries = emb.where(F.col("vec_id") < N_QUERIES).cache()
    queries.count()
    rq = queries.where(F.col("vec_id") % RECALL_EVERY == 0)

    # --- exact truth for the recall subset: broadcast the 2k queries,
    # stream the 1M items (per-partition BLAS topk -> global window merge)
    rq_rows = rq.collect()
    rq_ids = np.array([r["vec_id"] for r in rq_rows])
    rq_vecs = np.array([r["embedding"] for r in rq_rows])
    b_q = spark.sparkContext.broadcast((rq_ids, rq_vecs))

    part_schema = StructType([
        StructField("vec_id", LongType()), StructField("neighbor_id", LongType()),
        StructField("cos", DoubleType())])

    def exact_part(batches):
        qids, Q = b_q.value
        for b in batches:
            if not len(b):
                continue
            iids = b["vec_id"].to_numpy()
            M = np.array(list(b["embedding"]), dtype=np.float64)
            sims = Q @ M.T
            sims[qids[:, None] == iids[None, :]] = -np.inf
            kk = min(K, sims.shape[1])
            take = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
            yield pd.DataFrame({
                "vec_id": np.repeat(qids, kk),
                "neighbor_id": iids[take].ravel(),
                "cos": np.take_along_axis(sims, take, axis=1).ravel()})

    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(),
                                             F.col("neighbor_id").asc())
    t0 = time.time()
    exact = (emb.mapInPandas(exact_part, part_schema)
             .withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= K)
             .select("vec_id", "neighbor_id").collect())
    t_exact = time.time() - t0
    truth: dict = {}
    for r in exact:
        truth.setdefault(r["vec_id"], set()).add(r["neighbor_id"])

    # --- IVF curve
    rows = []
    for nprobe in NPROBES:
        # best-of-2: single-shot arms on this shared VM catch ambient
        # load spikes that invert the monotonic nprobe→latency story.
        # t0 sits BEFORE construction so the codebook sample + k-means
        # (eager, driver-side) is inside the measured batch latency,
        # matching the exact arm which includes all of its work.
        t, out = float("inf"), None
        for _ in range(2):
            t0 = time.time()
            arm = KNN.cosine_topk_ivf(
                spark, emb, k=K, n_centroids=N_CENTROIDS, nprobe=nprobe,
                query_df=queries).cache()
            n_out = arm.count()
            dt = time.time() - t0
            if dt < t:
                if out is not None:
                    out.unpersist()
                t, out = dt, arm
            else:
                arm.unpersist()
        got: dict = {}
        for r in out.where(F.col("vec_id") % RECALL_EVERY == 0).collect():
            got.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
        hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
        recall = hits / sum(len(truth[q]) for q in truth)
        out.unpersist()
        rows.append((nprobe, t, 1000.0 * t / N_QUERIES, recall, n_out))
        print(f"nprobe={nprobe}: {t:.2f}s ({1000 * t / N_QUERIES:.3f} ms/query) "
              f"recall@{K}={recall:.3f}")

    # --- auto-nprobe arms: adaptive probe set (cap 8), margin sweep.
    # Mean probed-bucket volume = query-tagged rows / queries (the
    # replication factor that drives shuffle + kernel cost).
    auto_rows = []
    for margin in (0.02, 0.05, 0.10):
        t, out = float("inf"), None
        for _ in range(2):
            t0 = time.time()
            arm = KNN.cosine_topk_ivf(
                spark, emb, k=K, n_centroids=N_CENTROIDS, nprobe=8,
                query_df=queries, probe_margin=margin).cache()
            arm.count()
            dt = time.time() - t0
            if dt < t:
                if out is not None:
                    out.unpersist()
                t, out = dt, arm
            else:
                arm.unpersist()
        got = {}
        for r in out.where(F.col("vec_id") % RECALL_EVERY == 0).collect():
            got.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
        hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
        recall = hits / sum(len(truth[q]) for q in truth)
        out.unpersist()
        mean_probe = (KNN._ivf_tagged(
            spark, emb, N_CENTROIDS, 8, 20000, "vec_id", "embedding",
            query_df=queries, probe_margin=margin)
            .where(F.col("is_query") == 1).count() / N_QUERIES)
        auto_rows.append((margin, mean_probe, t, recall))
        print(f"auto margin={margin}: mean nprobe {mean_probe:.2f}, "
              f"{t:.2f}s, recall@{K}={recall:.3f}")

    r_def = next(r for r in rows if r[0] == DEFAULT_NPROBE)
    lines = [
        "",
        f"## ANN recall/latency: IVF over {n:,} vectors (local[32])",
        "",
        f"{N_CENTROIDS}-centroid IVF, {N_QUERIES:,}-query batch against the",
        f"full corpus (dim {DIM}, 64 latent clusters); recall@{K} on a",
        f"{len(truth):,}-query subset vs the exact broadcast-queries /",
        f"streamed-items answer ({t_exact:.1f}s for the truth set)",
        "(`python tools/ann_probe.py`):",
        "",
        "| nprobe | wall sec | ms/query | recall@5 |",
        "|---|---|---|---|",
    ]
    for nprobe, t, msq, recall, _ in rows:
        mark = " (default)" if nprobe == DEFAULT_NPROBE else ""
        lines.append(f"| {nprobe}{mark} | {t:.2f} | {msq:.3f} | {recall:.3f} |")
    lines += [
        "",
        f"Recall at the default nprobe={DEFAULT_NPROBE}: "
        f"**{r_def[3]:.3f}** (target ≥0.85). Latency grows ~linearly in",
        "nprobe (probed bucket volume) while recall saturates — the knob a",
        "deployment tunes per corpus. All stages are the engine's scale",
        "shapes: one bucket-id shuffle, pinned per-bucket BLAS kernels, a",
        "window merge; no driver collect on the hot path.",
        "",
        "### Auto-nprobe (adaptive probe set, cap 8)",
        "",
        "A query probes runner-up buckets only while their centroid",
        "similarity is within `probe_margin` of its best bucket — deep",
        "in-cluster queries probe 1-2, boundary queries up to the cap,",
        "reusing the similarities the assignment already computes:",
        "",
        "| probe_margin | mean probed buckets | wall sec | recall@5 |",
        "|---|---|---|---|",
    ]
    for margin, mean_probe, t, recall in auto_rows:
        lines.append(f"| {margin:.2f} | {mean_probe:.2f} | {t:.2f} "
                     f"| {recall:.3f} |")
    beat = [r for r in auto_rows
            if r[3] >= r_def[3] and r[1] < DEFAULT_NPROBE]
    if beat:
        m = min(beat, key=lambda r: r[1])
        lines += [
            "",
            f"At margin {m[0]:.2f} the adaptive set matches-or-beats the",
            f"fixed nprobe={DEFAULT_NPROBE} recall ({m[3]:.3f} vs "
            f"{r_def[3]:.3f}) while probing {m[1]:.2f} buckets per query",
            f"on average ({100 * (1 - m[1] / DEFAULT_NPROBE):.0f}% less",
            "candidate volume).",
        ]
    else:
        lines += [
            "",
            "Negative result on THIS corpus: no margin in the sweep",
            f"matched fixed nprobe={DEFAULT_NPROBE} recall at lower mean",
            "probed volume — with 64 well-separated latent clusters the",
            "boundary-query population is too small for adaptivity to",
            "pay; the knob stays available for corpora with broader",
            "cluster overlap.",
        ]
    with open(os.path.join(ROOT, "BENCH", "BASELINE.md"), "a") as f:
        f.write("\n".join(lines) + "\n")
    assert r_def[3] >= 0.85, f"recall {r_def[3]:.3f} below target at default nprobe"
    spark.stop()


if __name__ == "__main__":
    main()
