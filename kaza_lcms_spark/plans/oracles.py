"""Oracle-SQL generators: independent ANSI-SQL implementations of the
engine's custom kernels, code-generated from the same fixture constants.

The driver runs our Spark queries AND these SQL strings (DuckDB) side by
side; matching outputs gate the engine's from-scratch kernels (PIP,
Morton encode, SimHash, dot products) against a second, structurally
different implementation — the strongest correctness evidence available
without the reference's live GEE backend.
"""

from __future__ import annotations

import numpy as np

from ..kernels import grid
from .. import datagen


def _f(x: float) -> str:
    """Shortest round-trip literal — parses to the identical double in
    both Spark and DuckDB."""
    return repr(float(x))


# ------------------------------------------------------------------ PIP CASE

def aoi_quads() -> list[tuple[int, np.ndarray, np.ndarray]]:
    """(unit_id, corner_xs, corner_ys) for each AOI polygon — the 4 quad
    corners (ring vertices 0,2,4,6; midpoint vertices are collinear)."""
    t = datagen.generate_aoi_polygons()
    out = []
    for uid, rx, ry in zip(t["unit_id"].to_pylist(), t["ring_xs"].to_pylist(),
                           t["ring_ys"].to_pylist()):
        xs = np.asarray(rx)[[0, 2, 4, 6]]
        ys = np.asarray(ry)[[0, 2, 4, 6]]
        out.append((int(uid), xs, ys))
    return out


def convex_inside_sql(lon: str, lat: str, xs: np.ndarray, ys: np.ndarray) -> str:
    """AND of half-plane tests for a CCW convex polygon: cross >= 0.

    Boundary convention: INCLUSIVE (a point exactly on an edge tests
    true), unlike the engine's half-open even-odd ray casting
    (kernels.geom.points_in_polygon). The two strategies are equivalent
    for interior points only — fixtures keep test points off borders, and
    the documented lowest-unit-id tie-break applies to interior
    containment (README "Boundary ties")."""
    terms = []
    n = len(xs)
    for i in range(n):
        x1, y1 = xs[i], ys[i]
        x2, y2 = xs[(i + 1) % n], ys[(i + 1) % n]
        terms.append(
            f"(({_f(x2 - x1)}) * (({lat}) - ({_f(y1)})) - "
            f"({_f(y2 - y1)}) * (({lon}) - ({_f(x1)})) >= 0.0)"
        )
    return "(" + " AND ".join(terms) + ")"


def pip_unit_case_sql(lon: str, lat: str) -> str:
    """CASE chain assigning the lowest-unit_id containing polygon (the
    engine's documented tie-break), NULL if none."""
    whens = [
        f"WHEN {convex_inside_sql(lon, lat, xs, ys)} THEN {uid}"
        for uid, xs, ys in aoi_quads()
    ]
    return "CASE " + " ".join(whens) + " ELSE NULL END"


# -------------------------------------------------------------- Morton SQL

def morton_cell_sql(lon: str, lat: str, level: int) -> str:
    """Bit-interleaved cell id at `level`, matching kernels.grid.encode:
    quantize each axis to `level` bits, interleave (x even bits, y odd),
    then (morton << 5) | level."""
    n = 1 << level
    ix = (f"LEAST(GREATEST(CAST(FLOOR((({lon}) + 180.0) / 360.0 * {n}.0) "
          f"AS BIGINT), 0), {n - 1})")
    iy = (f"LEAST(GREATEST(CAST(FLOOR((({lat}) + 90.0) / 180.0 * {n}.0) "
          f"AS BIGINT), 0), {n - 1})")
    parts = []
    for k in range(level):
        parts.append(f"(((({ix}) >> {k}) & 1) << {2 * k})")
        parts.append(f"(((({iy}) >> {k}) & 1) << {2 * k + 1})")
    morton = " + ".join(parts) if parts else "0"
    return f"((({morton}) << 5) | {level})"


# -------------------------------------------------------------- SimHash SQL

def simhash_bit_sql(h: str, bit: int) -> str:
    """±1 contribution of token-hash `h` to simhash bit `bit`."""
    return f"(CASE WHEN ((({h}) >> {bit}) & 1) = 1 THEN 1 ELSE -1 END)"


def simhash_agg_sql(h: str, bits: int = 16) -> str:
    """SUM-aggregated simhash over grouped token hashes: each bit j is 1
    iff the signed sum of token bit-j contributions is > 0."""
    terms = [
        f"((CASE WHEN SUM({simhash_bit_sql(h, j)}) > 0 THEN 1 ELSE 0 END) << {j})"
        for j in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


# -------------------------------------------------- fixed-dim dot product

def dot_product_sql(a: str, b: str, dim: int) -> str:
    """Left-to-right chain of per-element double products — identical
    accumulation order to F.aggregate(zip_with(...)) on the Spark side,
    so the result is bit-identical (1-indexed list access)."""
    terms = [
        f"(CAST(({a})[{i}] AS DOUBLE) * CAST(({b})[{i}] AS DOUBLE))"
        for i in range(1, dim + 1)
    ]
    return "(" + " + ".join(terms) + ")"


# Rounding policy for gated float outputs: NEW queries must emit through
# round_sql/functions.round_binary (identical IEEE expression in every
# engine). Legacy queries still on native ROUND/F.round are value-stable
# on the gate's deterministic sf0.01 inputs (green 4 rounds running) —
# the repr-midpoint disagreement between Spark's BigDecimal rounding and
# DuckDB's binary rounding only bites on values neither has produced;
# migrate a legacy query the moment its inputs or derivation change.
def round_sql(x: str, digits: int = 4) -> str:
    """Half-away-from-zero rounding of the BINARY double — textual twin
    of functions.round_binary (Spark) and knn._round4 (numpy):
    SIGN·FLOOR(|x|·10^d + 0.5)/10^d. Native ROUND must NOT be used for
    float parity: DuckDB rounds the scaled binary while Spark F.round
    rounds the shortest decimal repr, and the two disagree at repr
    midpoints (0.00015 → 0.0001 vs 0.0002)."""
    scale = f"{float(10 ** digits)!r}"
    return (f"(SIGN({x}) * FLOOR(ABS({x}) * {scale} + 0.5) / {scale})")


def round4_sql(x: str) -> str:
    """4-decimal :func:`round_sql` — the cosine family's contract."""
    return round_sql(x, 4)
