"""Column-expression helpers — JVM-side (whole-stage codegen), no Python.

Re-grounds the reference's per-pixel scalar surface (SURVEY.md §2.6):
normalized differences, band algebra, argmax assemblage, deterministic
randomness — all as pyspark.sql Column builders so Catalyst/Tungsten keep
them inside codegen spans.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

M31 = 2147483647


def detrand_int(key: Column, mult: int = 48271, mult2: int = 69621) -> Column:
    """Deterministic positive int in [0, 2^31-1) from an integer key —
    the engine's randomColumn(seed) analog (reference:
    /root/reference/src/utils/sampling.py:104,153,188). Unlike F.rand,
    the value is a pure function of the key: stable across partitionings,
    retries, and cluster sizes.

    Quadratic congruential mix (h1=affine, h2=h1² mod p, h3=affine of
    both): a single Lehmer step is affine, so *consecutive* keys map to
    near-identical values — useless for thresholds/top-k over sequential
    ids. The squaring step is the cheapest nonlinearity expressible in
    both Spark SQL and ANSI SQL without 64-bit overflow ((p-1)² < 2⁶³).
    All JVM-side; replayable by plans.derived.detrand_sql."""
    h1 = (key * F.lit(mult) + F.lit(11)) % F.lit(M31)
    h2 = (h1 * h1) % F.lit(M31)
    return (h2 * F.lit(mult2) + h1) % F.lit(M31)


def detrand(key: Column, mult: int = 48271, mult2: int = 69621) -> Column:
    """Deterministic U[0,1) from an integer key column (see detrand_int)."""
    return detrand_int(key, mult, mult2) / F.lit(float(M31))


def normalized_difference(a: Column, b: Column) -> Column:
    """(a-b)/(a+b) — the reference's normalizedDifference family (15 index
    functions, /root/reference/src/utils/covariates.py:85-143)."""
    return (a - b) / (a + b)


def evi(nir: Column, red: Column, blue: Column) -> Column:
    """Enhanced Vegetation Index (/root/reference/src/utils/covariates.py:154-165)."""
    return F.lit(2.5) * (nir - red) / (nir + F.lit(6.0) * red - F.lit(7.5) * blue + F.lit(1.0))


def savi(nir: Column, red: Column, L: float = 0.9) -> Column:
    """Soil-Adjusted VI (/root/reference/src/utils/covariates.py:167-177)."""
    return (nir - red) / (nir + red + F.lit(L)) * F.lit(1.0 + L)


#: Kauth-Thomas tasseled-cap coefficient rows over
#: [blue, green, red, nir, swir1, swir2] — semantics-mandated constants of
#: the reference's getTasseledCap (/root/reference/src/utils/covariates.py:36-55).
TASSELED_CAP = {
    "brightness": (0.3037, 0.2793, 0.4743, 0.5585, 0.5082, 0.1863),
    "greenness": (-0.2848, -0.2435, -0.5436, 0.7243, 0.0840, -0.1800),
    "wetness": (0.1509, 0.1973, 0.3279, 0.3406, -0.7112, -0.4572),
    "fourth": (-0.8242, 0.0849, 0.4392, -0.0580, 0.2012, -0.2768),
    "fifth": (-0.3280, 0.0549, 0.1075, 0.1855, -0.4357, 0.8085),
    "sixth": (0.1084, -0.9022, 0.4120, 0.0573, -0.0251, 0.0238),
}


def tasseled_cap(bands: list[Column]) -> dict[str, Column]:
    """F6 full form: the reference's 6×6 per-pixel tasseled-cap matrix
    multiply (/root/reference/src/utils/covariates.py:36-55 matrixMultiply
    → brightness/greenness/wetness/fourth/fifth/sixth) expressed as six
    left-to-right weighted sums of scalar band columns — pure column
    algebra inside whole-stage codegen (no array image, no UDF), and the
    fixed accumulation order makes it replayable in ANSI SQL bit-for-bit.
    `bands` = [blue, green, red, nir, swir1, swir2]."""
    if len(bands) != 6:
        raise ValueError(
            f"tasseled_cap needs exactly 6 band columns "
            f"[blue, green, red, nir, swir1, swir2]; got {len(bands)} "
            "(zip truncation would silently drop coefficients)")
    out = {}
    for comp, coefs in TASSELED_CAP.items():
        acc = bands[0] * F.lit(coefs[0])
        for b, c in zip(bands[1:], coefs[1:]):
            acc = acc + b * F.lit(c)
        out[comp] = acc
    return out


def dot_fold(a: Column, b: Column) -> Column:
    """Left-to-right double-precision dot product of two array columns via
    zip_with + aggregate — deterministic accumulation order (matches the
    generated oracle SQL chain bit-for-bit)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def round_binary(c: Column, digits: int = 4) -> Column:
    """Round half away from zero on the BINARY double:
    ``sign(x) · floor(|x|·10^d + 0.5) / 10^d``.

    Oracle-gated float outputs rank and emit on this expression in all
    three engines (Spark column algebra here, the generated DuckDB
    oracle SQL in plans/oracles.round_sql, the numpy block kernel in
    operators/knn._round4) because the *native* round functions disagree
    at shortest-repr midpoints: Spark's F.round goes through
    BigDecimal.valueOf (decimal repr, 0.00015 → 0.0002) while DuckDB's
    ROUND is std::round on the scaled binary (0.00015 → 0.0001). The
    shared expression is the same IEEE multiply/add/floor sequence
    everywhere → bit-identical by construction, closing the r3 advice's
    rank-flip gap without trusting either engine's rounding."""
    scale = float(10 ** digits)
    return (F.signum(c) * F.floor(F.abs(c) * F.lit(scale) + F.lit(0.5))
            / F.lit(scale))


def round4_binary(c: Column) -> Column:
    """4-decimal :func:`round_binary` — the cosine family's contract."""
    return round_binary(c, 4)


def hsv_to_rgb(h: Column, s: Column, v: Column) -> tuple[Column, Column, Column]:
    """F13: HSV→RGB as pure column expressions (standard sextant formula;
    the reference uses it to visualize harmonic phase/amplitude —
    /root/reference/src/utils/harmonics.py:49-60 hsvToRgb). h, s, v in
    [0, 1]; returns (r, g, b) columns in [0, 1]. SQL-replayable (CASE on
    the sextant index)."""
    h6 = h * F.lit(6.0)
    i = F.floor(h6).cast("long") % F.lit(6)
    f = h6 - F.floor(h6)
    p = v * (F.lit(1.0) - s)
    q = v * (F.lit(1.0) - f * s)
    t = v * (F.lit(1.0) - (F.lit(1.0) - f) * s)
    r = (F.when(i == 0, v).when(i == 1, q).when(i == 2, p)
         .when(i == 3, p).when(i == 4, t).otherwise(v))
    g = (F.when(i == 0, t).when(i == 1, v).when(i == 2, v)
         .when(i == 3, q).when(i == 4, p).otherwise(p))
    b = (F.when(i == 0, p).when(i == 1, p).when(i == 2, t)
         .when(i == 3, v).when(i == 4, v).otherwise(q))
    return r, g, b
