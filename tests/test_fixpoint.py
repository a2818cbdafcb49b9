"""The fixpoint loop behind duplicate_clusters and thin_points_exact:
a bounded number of Spark jobs per round, a loud convergence guard, and
empty inputs."""

import logging
import re
import uuid

import pytest

from kaza_lcms_spark.operators import dedup as DD
from kaza_lcms_spark.operators import spatial_join as sj

RADIUS = 0.01


def _chain_xy(n):
    """Monotone ids along one dense chain (spacing radius/2): every keep
    decision waits on the previous one, the adversarial input of the
    thinning fixpoint (tools/thin_probe.py)."""
    return [20.0 + i * RADIUS / 2 for i in range(n)], [-18.0] * n


def _chain(spark, n):
    x, y = _chain_xy(n)
    return spark.createDataFrame(list(zip(range(n), x, y)),
                                 "pt_id long, lon double, lat double")


def _lowers(n):
    x, y = _chain_xy(n)
    r2 = RADIUS * RADIUS
    return [[j for j in range(i) if (x[i] - x[j]) ** 2 + (y[i] - y[j]) ** 2 <= r2]
            for i in range(n)]


def _greedy(n):
    """The reference's sequential fold: keep a point iff no kept lower-id
    point is within radius."""
    kept = []
    for i, low in enumerate(_lowers(n)):
        if not set(low) & set(kept):
            kept.append(i)
    return kept


def _undecided_after(n, rounds):
    """Points the parallel rules leave undecided after `rounds` rounds:
    drop on a kept lower neighbor, keep once every lower one is dropped."""
    low = _lowers(n)
    st = ["u"] * n
    for _ in range(rounds):
        st = [s if s != "u"
              else "d" if any(st[j] == "k" for j in low[i])
              else "k" if all(st[j] == "d" for j in low[i])
              else "u" for i, s in enumerate(st)]
    return st.count("u")


def _jobs_and_rounds(spark, caplog, run):
    sc = spark.sparkContext
    group = f"fixpoint-{uuid.uuid4().hex}"
    caplog.clear()
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    rounds = [r.rounds for r in caplog.records if hasattr(r, "rounds")]
    assert len(rounds) == 1, rounds
    return len(sc.statusTracker().getJobIdsForGroup(group)), rounds[0]


@pytest.mark.parametrize("op, sizes, per_round", [
    ("thin_points_exact", (9, 18), 4),
    ("duplicate_clusters", (8, 64), 11),
])
def test_jobs_per_round_are_bounded(spark, caplog, op, sizes, per_round):
    """A round is one eager checkpoint: on two chains with different round
    counts, each extra round adds at most `per_round` Spark jobs (the
    shuffle stages of the step plus the checkpoint itself)."""
    caplog.set_level(logging.INFO, logger="kaza_lcms_spark.plans.fixpoint")

    def run(n):
        if op == "thin_points_exact":
            return lambda: sj.thin_points_exact(_chain(spark, n), RADIUS).collect()
        pairs = spark.createDataFrame([(i, i + 1) for i in range(n)],
                                      "a long, b long")
        return lambda: DD.duplicate_clusters(pairs).collect()

    (j1, r1), (j2, r2) = (_jobs_and_rounds(spark, caplog, run(n)) for n in sizes)
    assert r2 > r1, (r1, r2)
    assert (j2 - j1) <= per_round * (r2 - r1), (j1, r1, j2, r2)


def test_thinning_exact_convergence_guard(spark):
    """Too few rounds for the dense monotone chain raises and names the
    points left undecided; enough rounds give the sequential greedy."""
    n, rounds = 18, 5
    want = _undecided_after(n, rounds)
    assert want > 0
    with pytest.raises(RuntimeError, match="did not converge") as err:
        sj.thin_points_exact(_chain(spark, n), RADIUS, max_rounds=rounds)
    left = re.search(r"(\d+) points still undecided", str(err.value))
    assert left and int(left.group(1)) == want, str(err.value)
    got = sorted(r["pid"] for r in
                 sj.thin_points_exact(_chain(spark, n), RADIUS).collect())
    assert got == _greedy(n)


def test_thinning_exact_empty_input(spark):
    out = sj.thin_points_exact(_chain(spark, 0), RADIUS)
    assert out.columns == ["pid"] and out.collect() == []
