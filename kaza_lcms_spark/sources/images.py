"""Image table source: contract-shaped scan + vectorized decode.

The input table is (image_id, bytes, w, h, fmt, caption, phash) per
BASELINE.json::input_hint. Decode runs inside ``mapInPandas`` over Arrow
batches (binary payloads never touch per-row Python); per-image pixel
statistics and re-encode PSNR checks are numpy-vectorized per batch.

Reference analog: every GEE per-pixel op implicitly decodes server-side
tiles (e.g. band math at /root/reference/src/utils/covariates.py:85-143);
our engine makes that an explicit, bounded-memory batch kernel. Arrow
batch size is capped in session.py (image payloads inflate batches).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType, StringType,
                               StructField, StructType)

from ..kernels import codec


DECODE_STATS_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("fmt", StringType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("mean_px", DoubleType()),
    StructField("std_px", DoubleType()),
    StructField("phash_check", LongType()),
])


def decode_stats(df: DataFrame) -> DataFrame:
    """Decode every image; emit per-image pixel stats + recomputed phash.
    The full-decode benchmark kernel: exercises binary Arrow transfer +
    numpy decode throughput.

    mapInArrow: the binary payloads decode from zero-copy views of the
    Arrow data buffer (codec.decode_batch_views) — no per-image Python
    bytes objects, no pandas materialization; the passthrough columns
    are re-emitted 1:1. Batches without int32-offset views (nulls,
    ``large_binary``) fall back to the object path (codec.decode_batch,
    bit-identical)."""

    def run(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            byts = rb.column(1)
            views = codec.arrow_views(byts)
            if views is not None:
                pixels, _ = codec.decode_batch_views(*views)
            else:
                pixels, _ = codec.decode_batch(byts.to_pylist())
            means = np.empty(n); stds = np.empty(n)
            ph = np.empty(n, dtype=np.int64)
            # group same-shaped images into stacks: stats + phash vectorize;
            # chunked and uint8/float32 to stay cache/bandwidth-friendly
            shapes = np.array([p.shape[0] * 100000 + p.shape[1] for p in pixels])
            for s in np.unique(shapes):
                sel = np.flatnonzero(shapes == s)
                for c0 in range(0, len(sel), 256):
                    sub = sel[c0:c0 + 256]
                    stack = np.stack([pixels[i] for i in sub])
                    means[sub] = stack.mean(axis=(1, 2), dtype=np.float64)
                    stds[sub] = stack.std(axis=(1, 2), dtype=np.float64)
                    ph[sub] = codec.phash64_batch(stack)
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), rb.column(4), rb.column(2), rb.column(3),
                 pa.array(means), pa.array(stds), pa.array(ph)],
                ["image_id", "fmt", "w", "h",
                 "mean_px", "std_px", "phash_check"])

    cols = ["image_id", "bytes", "w", "h", "fmt"]
    return df.select(*cols).mapInArrow(run, DECODE_STATS_SCHEMA)


def verify_invariants(df: DataFrame) -> DataFrame:
    """Per-row invariant check (BASELINE.json::input_hint): lossless fmts
    round-trip exactly; lossy fmt re-encodes at PSNR>=40 dB; phash of the
    decoded pixels matches the stored phash for lossless fmts."""
    out_schema = StructType([
        StructField("fmt", StringType()),
        StructField("n", LongType()),
        StructField("n_roundtrip_ok", LongType()),
        StructField("n_phash_ok", LongType()),
        StructField("min_psnr", DoubleType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            rows = {}
            for _, r in b.iterrows():
                px, fmt = codec.decode(bytes(r["bytes"]))
                re = codec.encode(px, fmt)
                rt_ok = 1
                psnr = float("inf")
                if fmt == "quant":
                    px2, _ = codec.decode(re)
                    psnr = codec.psnr(px, px2)
                else:
                    rt_ok = int(re == bytes(r["bytes"]))
                ph_ok = int(fmt == "quant" or codec.phash64(px) == r["phash"])
                agg = rows.setdefault(fmt, [0, 0, 0, float("inf")])
                agg[0] += 1; agg[1] += rt_ok; agg[2] += ph_ok
                agg[3] = min(agg[3], psnr)
            yield pd.DataFrame([
                {"fmt": k, "n": v[0], "n_roundtrip_ok": v[1],
                 "n_phash_ok": v[2], "min_psnr": v[3]}
                for k, v in rows.items()])

    part = df.select("image_id", "bytes", "phash").mapInPandas(run, out_schema)
    return part.groupBy("fmt").agg(
        F.sum("n").alias("n"), F.sum("n_roundtrip_ok").alias("n_roundtrip_ok"),
        F.sum("n_phash_ok").alias("n_phash_ok"), F.min("min_psnr").alias("min_psnr"))


def resize_images(df: DataFrame, out_h: int, out_w: int,
                  out_fmt: str = "raw") -> DataFrame:
    """Decode → deterministic area resize → re-encode, all inside one
    mapInPandas pass (multimodal 'resize' stage): binary in, binary out,
    never a per-row Python UDF. Same-shape images are stacked so the
    resize kernel vectorizes over the batch."""
    from pyspark.sql.types import BinaryType

    schema = StructType([
        StructField("image_id", StringType()),
        StructField("bytes", BinaryType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("fmt", StringType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            n = len(b)
            pixels, _ = codec.decode_batch(list(b["bytes"]))
            out_bytes: list[bytes] = [b""] * n
            shapes = np.array([p.shape[0] * 100000 + p.shape[1] for p in pixels])
            for s in np.unique(shapes):
                sel = np.flatnonzero(shapes == s)
                stack = np.stack([pixels[i] for i in sel])
                small = codec.resize_area_batch(stack, out_h, out_w)
                for j, i in enumerate(sel):
                    out_bytes[i] = codec.encode(small[j], out_fmt)
            yield pd.DataFrame({
                "image_id": b["image_id"], "bytes": out_bytes,
                "w": out_w, "h": out_h, "fmt": out_fmt,
            })

    return df.select("image_id", "bytes").mapInPandas(run, schema)


def sample_frame_stats(df: DataFrame, every_k: int = 2,
                       video_col: str = "video",
                       id_col: str = "video_id") -> DataFrame:
    """Multimodal 'frame-sample' stage: from each multi-frame binary
    payload (codec.pack_frames container; real codecs are an explicit
    stub — codec.decode_video), decode every k-th frame and emit per-frame
    stats + phash. One mapInPandas pass; each sampled frame becomes an
    output row (flatMap shape), so downstream per-frame operators
    (dedup/kNN on frame phash) compose relationally."""
    schema = StructType([
        StructField(id_col, StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("mean_px", DoubleType()),
        StructField("phash", LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            ids, fidx, means, ph = [], [], [], []
            for vid, blob in zip(b[id_col], b[video_col]):
                for i, px in codec.decode_video(bytes(blob)):
                    if i % every_k:
                        continue
                    ids.append(vid)
                    fidx.append(i)
                    means.append(float(px.mean()))
                    ph.append(codec.phash64(px))
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype=object),
                "frame_idx": pd.Series(fidx, dtype="int32"),
                "mean_px": means, "phash": pd.Series(ph, dtype="int64"),
            })

    return df.select(id_col, video_col).mapInPandas(run, schema)
