"""End-to-end composite pipeline (01composite_s2 re-grounding): the mask
pipeline must recover clean composites from cloud-corrupted observations,
and percentiles/harmonics must match numpy on the masked series."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from kaza_lcms_spark import datagen
from kaza_lcms_spark.operators import composite_pipeline as CP


@pytest.fixture(scope="module")
def ts(spark, fixture_dir):
    return spark.read.parquet(f"{fixture_dir}/s2_timeseries.parquet").cache()


@pytest.fixture(scope="module")
def composite(ts):
    return CP.build_composite(ts).cache()


def test_mask_removes_cloud_brightening(ts, composite):
    """Corrupted (cloudy) observations add +1.0 to every band; if the mask
    works, median composite stays in the clean range (< 1.0 everywhere)."""
    row = composite.agg(F.max("p50_nir").alias("mx"),
                        F.avg("p50_nir").alias("av")).collect()[0]
    # clean nir base <= 0.5+amp(0.13)+noise; corrupted would exceed 1.3
    assert row["mx"] < 1.0, "cloudy observations leaked into the composite"


def test_unmasked_composite_is_corrupted(ts):
    """Sanity inverse: WITHOUT the mask the brightened rows leak and the
    upper percentiles blow past the clean range."""
    from kaza_lcms_spark.operators import composite as C
    raw = C.percentile_composite(ts, "cell_id", ["nir"], (0.9,))
    mx = raw.agg(F.max("p90_nir")).collect()[0][0]
    assert mx > 1.0


def test_percentiles_match_numpy_on_masked_series(ts, composite):
    got = {r["cell_id"]: r for r in composite.collect()}
    # p50 equals the numpy median of the engine's own masked values
    masked = CP.apply_mask(CP.add_cloud_mask(ts)).select("cell_id", "nir").toPandas()
    for cid, grp in list(masked.groupby("cell_id"))[:10]:
        vals = grp["nir"].dropna().to_numpy()
        if len(vals) == 0:
            continue
        assert got[cid]["p50_nir"] == pytest.approx(np.percentile(vals, 50)), cid


def test_harmonic_recovers_seasonality(ts, composite):
    """The fixture injects a cos(2π(t-phase)) seasonal signal on nir/red;
    ndvi inherits seasonality — fitted amplitude must be materially
    nonzero for most cells and coefficients finite."""
    rows = composite.select("amplitude").dropna().toPandas()["amplitude"]
    assert len(rows) > 0
    assert np.isfinite(rows).all()
    assert (rows > 0.005).mean() > 0.8


def test_composite_row_per_cell(ts, composite):
    n_cells = ts.select("cell_id").distinct().count()
    assert composite.count() == n_cells
