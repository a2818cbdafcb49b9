"""End-to-end annual composite builder — reference entry point 2
(01composite_s2 → s2process, SURVEY.md §3):

scan → cloud-probability threshold mask → morphological open+grow (W1)
→ updateMask (null out cloudy observations, P11) → spectral indices
(F1/F2) → percentile composite (A1) ∥ harmonic regression (A2) → stacked
wide feature table keyed by cell.

Reference trace: /root/reference/src/utils/s2process.py:17-154 (scan +
mask pipeline :43-99, rename :131, indices via covariates.py:324-338,
percentile reduce :137-139, harmonic via harmonics.py:79-124, stack :144).

Physical shape: the mask/morphology stage shuffles once on (ts, tile)
— per-image focal windows; the two reductions share ONE hash-agg on
cell_id (see build_composite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import functions as KF
from . import composite as C
from . import focal as FO

BANDS = ["blue", "green", "red", "nir", "swir1", "swir2"]


def add_cloud_mask(ts_df: DataFrame, threshold: float = 60.0,
                   erode_r: int = 1, grow_r: int = 1) -> DataFrame:
    """Cloud mask: probability threshold (reference CLD_PRB_THRESH,
    src/utils/s2process.py:8,43) then morphological open+grow per image
    date (src/utils/s2process.py:84-88). Emits is_cloud ∈ {0,1}.
    The morphology is the one-shuffle halo-tile kernel
    (focal.open_grow_tiled; equal to the relational erode-then-dilate,
    tested)."""
    m = ts_df.withColumn("is_cloud", (F.col("cloud_prob") > threshold).cast("int"))
    return FO.open_grow_tiled(m, "is_cloud", erode_r, grow_r, group_cols=("ts",))


def apply_mask(ts_df: DataFrame, bands: list[str] = BANDS) -> DataFrame:
    """updateMask analog (src/utils/s2process.py:93-99): cloudy pixels →
    NULL so every downstream aggregate ignores them (SQL null semantics =
    GEE masked-pixel semantics)."""
    out = ts_df
    for b in bands:
        out = out.withColumn(b, F.when(F.col("is_cloud") == 0, F.col(b)))
    return out


def add_indices(df: DataFrame) -> DataFrame:
    """Spectral indices per observation (covariates.py:85-177 defaults:
    NDVI/EVI/SAVI + NDWI)."""
    return (df
            .withColumn("ndvi", KF.normalized_difference(F.col("nir"), F.col("red")))
            .withColumn("ndwi", KF.normalized_difference(F.col("green"), F.col("nir")))
            .withColumn("evi", KF.evi(F.col("nir"), F.col("red"), F.col("blue")))
            .withColumn("savi", KF.savi(F.col("nir"), F.col("red"))))


def build_composite(ts_df: DataFrame,
                    bands: list[str] = BANDS,
                    index_cols: tuple[str, ...] = ("ndvi", "ndwi", "evi", "savi"),
                    harmonic_band: str | list[str] = "ndvi",
                    pcts: tuple[float, ...] = (0.1, 0.25, 0.5, 0.75, 0.9),
                    approx: bool = False,
                    accuracy: int = 10000) -> DataFrame:
    """Full composite: mask → indices → fused percentiles+harmonics.
    Returns one wide row per cell_id (p{q}_{band/index} + harmonic coefs
    + phase/amplitude), the reference's exported composite image.
    Under-determined cells (< 4 clear observations) get NULL harmonic
    columns.

    ``harmonic_band`` may be a list (the reference fits nir + swir1,
    /root/reference/src/utils/harmonics.py:79-124 + model_inputs) — each
    extra band adds 14 scalars to the SAME hash-agg, no extra shuffle;
    multi-band outputs suffix _{band}. ``approx=True`` routes the
    percentiles through the percentile_approx sketch (O(accuracy) per
    group instead of buffering every observation — the multi-decade
    archive path; rank error ≤ 1/accuracy, tested vs exact).

    Physical shape: the cloud mask is ONE shuffle on (ts, tile); both
    reductions share ONE hash-agg on cell_id (percentiles + Gram sums in
    the same groupBy — no diamond recompute of the masked input, no
    stack join). Two shuffles end to end."""
    masked = apply_mask(add_cloud_mask(ts_df), bands)
    feat = add_indices(masked)
    feat = feat.withColumn("t_frac", F.col("doy") / F.lit(365.0))
    value_cols = list(bands) + list(index_cols)
    return C.percentile_harmonic_composite(
        feat, "cell_id", value_cols, "t_frac", harmonic_band,
        period=1.0, pcts=pcts, approx=approx, accuracy=accuracy)
