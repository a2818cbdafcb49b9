"""Skew planner: cell histograms + hot/cold split (north rule: explicit
salting/AQE handling of skewed cells along borders and rivers).

The reference's only skew lever is GEE's ``tileScale=16`` hint
(src/utils/sampling.py:152,179 — "increased from 4 to reduce computation
time outs"). Our engine plans skew explicitly (SURVEY.md §4):

1. **Measure**: one cheap hash-agg builds the per-cell row histogram.
2. **Decide** (driver): cells above a row threshold are "hot" — on the
   KAZA fixtures these are exactly the river/border cells that carry ~30%
   of the corpus in ~5% of the cells.
3. **Execute**: cold cells flow through the ordinary keyed path
   (groupBy/applyInPandas); hot cells take a salted path — their rows are
   split into `salt = hash(id) % k` sub-groups so no single task owns a
   whole hot cell. For per-cell kNN, sub-group queries still need the
   whole cell's items: a block-grid join replicates each hot cell's
   (id, key) item chunks to every query salt group, so each group probes
   its query slice against one item chunk, and a window merge keeps the
   global top-k when a cell has more than one chunk. Nothing is
   collected to or broadcast from the driver.

AQE's skew-join splitting handles sort-merge joins at runtime; this
planner covers the applyInPandas/groupBy paths AQE cannot split.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cell_histogram(df: DataFrame, cell_col: str = "cell_id") -> DataFrame:
    return df.groupBy(cell_col).agg(F.count(F.lit(1)).alias("n"))


def with_salt(df: DataFrame, key_col: str, buckets: int,
              out_col: str = "salt") -> DataFrame:
    """Deterministic salt bucket from a stable row key (never rand())."""
    return df.withColumn(
        out_col, F.pmod(F.xxhash64(F.col(key_col)), F.lit(buckets)))


def split_hot_cold(df: DataFrame, hot: list[int],
                   cell_col: str = "cell_id") -> tuple[DataFrame, DataFrame]:
    if not hot:
        return df.where(F.lit(False)), df
    hot_df = df.where(F.col(cell_col).isin(hot))
    # ~isin is NULL for a NULL cell; such rows are never hot, so keep
    # them on the cold path explicitly
    cold_df = df.where(~F.col(cell_col).isin(hot) | F.col(cell_col).isNull())
    return hot_df, cold_df


def pin_kernel_partitions(df: DataFrame, *cols) -> DataFrame:
    """Explicit-N repartition on the kernel's grouping columns —
    REPARTITION_BY_NUM, which AQE must preserve.

    Every Python-kernel stage (groupBy/applyInPandas, salted mapInPandas)
    must hash-distribute through this, never a bare ``repartition(cols)``
    or the groupBy's own exchange: AQE's partition coalescing sizes
    partitions by SHUFFLED BYTES and cannot see per-row kernel cost, so a
    few MB of (id, hash) rows feeding an O(n²) kernel get folded into 1-2
    tasks (measured: 30k-row hot-cell kNN serialized onto one core, 10×
    wall-clock). The downstream groupBy reuses the pinned
    HashPartitioning, so this adds no extra shuffle.

    The task count is the session's ``spark.sql.shuffle.partitions``,
    or ``defaultParallelism`` when that conf is non-numeric (e.g.
    ``"auto"`` on platforms with adaptive defaults)."""
    raw = df.sparkSession.conf.get("spark.sql.shuffle.partitions", None)
    try:
        n_part = int(raw)
    except (TypeError, ValueError):
        n_part = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n_part, *[F.col(c) if isinstance(c, str) else c
                                    for c in cols])
