"""End-to-end KAZA workflow tests (reference parity, SURVEY.md §5.3):
stratified sample counts exact per class, split proportions sane,
assemblage argmax equals numpy argmax, accuracy beats chance.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from kaza_lcms_spark import workflow as W
from kaza_lcms_spark.ml import primitives as P
from kaza_lcms_spark.operators import sampling as S


@pytest.fixture(scope="module")
def lc(spark, fixture_dir):
    return spark.read.parquet(f"{fixture_dir}/landcover_cells.parquet").cache()


def test_stratified_sample_exact_counts(spark, lc):
    """stratifiedSample semantics: exactly classPoints per class, fixed
    seed (reference src/utils/sampling.py:163-182, seed=90210)."""
    pts = W.sample_points(lc, {1: 10, 2: 25, 3: 5, 4: 40, 5: 10, 6: 10, 7: 10, 8: 10})
    counts = {r["LANDCOVER"]: r["n"] for r in
              pts.groupBy("LANDCOVER").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {1: 10, 2: 25, 3: 5, 4: 40, 5: 10, 6: 10, 7: 10, 8: 10}


def test_stratified_sample_partitioning_invariant(spark, lc):
    a = sorted(r["cell_id"] for r in W.sample_points(lc, 20).collect())
    b = sorted(r["cell_id"] for r in W.sample_points(lc.repartition(13), 20).collect())
    assert a == b


def test_train_test_extraction_and_split(spark, fixture_dir, lc):
    refp = spark.read.parquet(f"{fixture_dir}/ref_polygons.parquet")
    train, test = W.train_test_from_polygons(spark, refp, lc, 40)
    nt, ns = train.count(), test.count()
    assert nt + ns == 40 * 8
    frac = nt / (nt + ns)
    assert 0.7 < frac < 0.9, f"split fraction {frac} not ~0.8"
    # extracted band columns present and non-null
    row = train.first()
    for b in W.BAND_COLS:
        assert row[b] is not None


def test_assemblage_argmax_matches_numpy(spark):
    rows = []
    rng = np.random.default_rng(3)
    for cid in range(200):
        for cls in range(1, 6):
            rows.append((cid, cls, float(rng.random())))
    prims = spark.createDataFrame(rows, "cell_id long, class int, prob double")
    got = {r["cell_id"]: r["LANDCOVER"] for r in P.assemble_max_prob(prims).collect()}
    arr = np.array([p for _, _, p in rows]).reshape(200, 5)
    for cid in range(200):
        assert got[cid] == int(np.argmax(arr[cid])) + 1


def test_full_pipeline_accuracy(spark, fixture_dir):
    res = W.run_full_pipeline(spark, fixture_dir, n_per_class=40)
    assert res["n_cells"] > 0
    assert res["overall_acc"] > 0.3, "RF primitives should beat 1/8 chance easily"
    assert set(res["class_acc"]) == set(range(1, 9))


def test_confusion_matrix_math(spark):
    rows = [(1, 1, 10), (1, 2, 5), (2, 2, 20), (2, 1, 5)]
    cm = spark.createDataFrame(rows, "true_label int, pred_label int, n long")
    acc = {r["label"]: (r["producers_acc"], r["users_acc"])
           for r in P.class_accuracies(cm).collect()}
    assert acc[1] == (10 / 15, 10 / 15)
    assert acc[2] == (20 / 25, 20 / 25)
    assert P.overall_accuracy(cm) == 30 / 40


def test_proportional_allocation(spark, fixture_dir):
    refp = spark.read.parquet(f"{fixture_dir}/ref_polygons.parquet")
    alloc = S.proportional_allocation(refp, 400)
    assert sum(alloc.values()) == 400
    assert set(alloc) == set(range(1, 9))
    assert all(v >= 2 for v in alloc.values())
    # bigger total area -> more points (monotone in area rank, roughly)
    import numpy as np
    from kaza_lcms_spark.kernels import geom
    pdf = refp.toPandas()
    areas = {}
    for _, r in pdf.iterrows():
        areas[int(r["LANDCOVER"])] = areas.get(int(r["LANDCOVER"]), 0.0) + \
            geom.polygon_area(np.asarray(r["ring_xs"]), np.asarray(r["ring_ys"]))
    big = max(areas, key=areas.get); small = min(areas, key=areas.get)
    assert alloc[big] > alloc[small]


def test_export_csv(spark, fixture_dir, tmp_path):
    from kaza_lcms_spark.sources.exports import export_csv
    imgs = spark.read.parquet(f"{fixture_dir}/images.parquet").limit(50)
    export_csv(imgs, str(tmp_path / "out"), selectors=["image_id", "fmt"])
    back = spark.read.option("header", "true").csv(str(tmp_path / "out"))
    assert back.count() == 50 and back.columns == ["image_id", "fmt"]


def test_composite_workflow_end_to_end(spark, fixture_dir):
    """01→03→04→05 chained over engine outputs: composite features from
    the raw time series feed RF primitives; assemblage + accuracy close
    the loop (reduced trees for test runtime)."""
    res = W.run_composite_workflow(spark, fixture_dir, n_per_class=100, n_trees=20)
    assert res["n_cells"] == 4232
    assert res["n_features"] >= 40
    assert res["overall_acc"] > 0.5
    # Step 6 deliverable: proportions partition the map, SEs finite
    props = res["area_proportions"]
    assert abs(sum(p for p, _ in props.values()) - 1.0) < 1e-9
    assert all(se >= 0 for _, se in props.values())


def test_concurrent_rf_fits_identical_to_sequential(spark):
    """primitives_to_collection submits per-class fits from a driver
    thread pool (r3 verdict item #2); the output must be byte-identical
    to the sequential loop — same per-class seeds/estimators, union in
    classes-list order, never completion order."""
    import numpy as np

    rng = np.random.default_rng(51515)
    n, classes = 240, [1, 2, 3, 4]
    feats = rng.normal(0, 1, (n, 5))
    labels = np.repeat(classes, n // len(classes))
    feats[:, 0] += labels * 0.8          # separable-ish signal
    rows = [(int(i), *[float(x) for x in feats[i]], int(labels[i]))
            for i in range(n)]
    df = spark.createDataFrame(
        rows, "cell_id long, f0 double, f1 double, f2 double, f3 double, "
              "f4 double, LANDCOVER long").cache()
    fcols = ["f0", "f1", "f2", "f3", "f4"]
    seq = P.primitives_to_collection(df, df, fcols, classes=classes,
                                     n_trees=10, concurrency=1)
    par = P.primitives_to_collection(df, df, fcols, classes=classes,
                                     n_trees=10, concurrency=4)
    a = sorted((r["cell_id"], r["class"], r["prob"]) for r in seq.collect())
    b = sorted((r["cell_id"], r["class"], r["prob"]) for r in par.collect())
    assert a == b
    assert {c for _, c, _ in a} == set(classes)


def test_rf_models_independent_of_input_partitioning(spark):
    """The fitted models depend on the training rows alone: the same
    table repartitioned by the caller gives identical probabilities
    (MLlib seeds bagging per partition index and row order)."""
    import numpy as np

    rng = np.random.default_rng(7)
    n, classes = 2400, [1, 2, 3, 4]
    feats = rng.normal(0, 1, (n, 3))
    labels = np.repeat(classes, n // len(classes))
    feats[:, 0] += labels * 0.5
    rows = [(int(i), *[float(x) for x in feats[i]], int(labels[i]))
            for i in range(n)]
    train = spark.createDataFrame(
        rows, "cell_id long, f0 double, f1 double, f2 double, "
              "LANDCOVER long").cache()
    fcols = ["f0", "f1", "f2"]

    def probs(df):
        out = P.primitives_to_collection(df, train, fcols, classes=classes,
                                         n_trees=5)
        return sorted((r["cell_id"], r["class"], r["prob"])
                      for r in out.collect())

    assert probs(train) == probs(train.repartition(7))


def test_wide_assemblage_identical_to_tall(spark):
    """primitives_wide + assemble_max_prob_wide (zero-shuffle inference)
    must reproduce the tall union + window assemblage exactly, ties
    included, and its plan must carry no Exchange over the cell table."""
    import numpy as np

    rng = np.random.default_rng(90210)
    n, classes = 200, [1, 2, 3, 4]
    feats = rng.normal(0, 1, (n, 4))
    labels = np.repeat(classes, n // len(classes))
    feats[:, 0] += labels * 0.7
    rows = [(int(i), *[float(x) for x in feats[i]], int(labels[i]))
            for i in range(n)]
    df = spark.createDataFrame(
        rows, "cell_id long, f0 double, f1 double, f2 double, f3 double, "
              "LANDCOVER long").cache()
    fcols = ["f0", "f1", "f2", "f3"]
    tall = P.assemble_max_prob(
        P.primitives_to_collection(df, df, fcols, classes=classes, n_trees=8))
    wide_df, cls = P.primitives_wide(df, df, fcols, classes=classes, n_trees=8)
    wide = P.assemble_max_prob_wide(wide_df, cls)
    a = sorted((r["cell_id"], r["LANDCOVER"], r["max_prob"])
               for r in tall.collect())
    b = sorted((r["cell_id"], r["LANDCOVER"], r["max_prob"])
               for r in wide.collect())
    assert a == b
    plan = wide._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_score_area_closes_step6(spark, fixture_dir, lc):
    """Step 6 end-to-end: LANDCOVER map + held-out test points → per-class
    area proportions with SE/CI plus stratified accuracies. Proportions
    must partition the map (Σp̂ = 1) and every class mapped at scale must
    carry a finite CI."""
    refp = spark.read.parquet(f"{fixture_dir}/ref_polygons.parquet")
    train, test = W.train_test_from_polygons(spark, refp, lc, 40)
    predicted = W.build_landcover(spark, train, lc)
    est, acc = W.score_area(predicted, test, total_area=100_000.0)
    rows = est.collect()
    assert abs(sum(r["p_hat"] for r in rows) - 1.0) < 1e-9
    for r in rows:
        assert 0.0 <= r["ci_lo"] <= r["p_hat"] <= r["ci_hi"] <= 1.0
        assert r["area"] == pytest.approx(r["p_hat"] * 100_000.0)
    oa = acc.select("overall_acc").first()["overall_acc"]
    assert 0.0 < oa <= 1.0


def test_wide_assemblage_unsorted_classes_ties_to_lowest_class(spark):
    """Tie-break must be lowest class VALUE even when the caller passes
    an unsorted classes list (first-max means lowest class, not
    earliest-listed)."""
    wide = spark.createDataFrame(
        [(1, 0.5, 0.5, 0.2), (2, 0.1, 0.9, 0.9)],
        "cell_id long, prob_1 double, prob_3 double, prob_4 double")
    out = {r["cell_id"]: r["LANDCOVER"] for r in
           P.assemble_max_prob_wide(wide, [4, 3, 1]).collect()}
    assert out[1] == 1      # prob_1 == prob_3 tie -> lowest class
    assert out[2] == 3      # prob_3 == prob_4 tie -> lowest class


def test_primitives_to_collection_empty_train_raises(spark):
    df = spark.createDataFrame([], "cell_id long, f0 double, LANDCOVER long")
    with pytest.raises(ValueError, match="no classes to fit"):
        P.primitives_to_collection(df, df, ["f0"])
