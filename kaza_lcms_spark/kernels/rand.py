"""Deterministic row-wise RNG: hash64(key, seed) -> U[0,1).

The reference leans on GEE's seeded server-side randomness:
``randomColumn(seed)`` (src/utils/sampling.py:104,153,188),
``randomPoints(region, n, seed)`` (src/utils/sampling.py:101,144) and
``stratifiedSample(..., seed=90210)`` (src/utils/sampling.py:175) — results
are reproducible for a fixed seed regardless of execution tiling.

Spark's ``F.rand(seed)`` is seeded *per partition*, so values change
whenever partitioning changes — unusable for reproducible sampling. We
instead derive uniforms by hashing a stable row key with the seed
(splitmix64 finalizer — public-domain mixing constants), so every row's
random value is a pure function of (row key, seed): stable across
partitionings, retries, and cluster sizes. Exposed both as a numpy kernel
(for pandas UDFs) and as an equivalent Spark Column expression builder in
``kaza_lcms_spark.functions.detrand``.
"""

from __future__ import annotations

import numpy as np

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)


def mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized over uint64."""
    z = np.asarray(x, dtype=np.uint64).copy()
    z += _GOLDEN
    z ^= z >> np.uint64(30)
    z *= _M1
    z ^= z >> np.uint64(27)
    z *= _M2
    z ^= z >> np.uint64(31)
    return z


def hash_u64(key, seed: int = 0) -> np.ndarray:
    """Hash int64/uint64 keys with a seed -> uint64."""
    k = np.asarray(key).astype(np.uint64)
    return mix64(k ^ mix64(np.uint64(seed) * np.ones_like(k)))


def uniform(key, seed: int = 0) -> np.ndarray:
    """Deterministic U[0,1) per key: top 53 bits of the hash / 2^53."""
    return (hash_u64(key, seed) >> np.uint64(11)).astype(np.float64) / float(1 << 53)
