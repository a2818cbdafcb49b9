"""Tests of the benchmark's output checks: a perturbed output must fail.

Run from the repository root (starts a local Spark session, ~1 min)::

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil

import numpy as np
import pytest

from perfbench import layers, run
from perfbench import workloads as W
from perfbench.trace import NullTracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED, N = 7, 2000


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])])
    from kaza_lcms_spark.session import get_spark

    s = get_spark(app_name="perfbench-test", master="local[2]")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def corpus():
    return W.prepare_images(SEED, N)


def test_tile_ingest_check_catches_bad_lineage_and_lost_partition(spark, corpus, tmp_path):
    wl = W.TileIngest(spark, corpus, NullTracer())
    out = wl.run(str(tmp_path / "catalog"))
    assert wl.check(out) == []

    # a lineage record that disagrees with the committed rows
    lost = dataclasses.replace(out["lineage"][0], n_rows=out["lineage"][0].n_rows - 1)
    bad = wl.check({**out, "lineage": [lost, *out["lineage"][1:]]})
    assert any("lineage per-unit counts" in b for b in bad)
    assert any("lineage rows" in b for b in bad)

    # a committed partition deleted from the table
    shutil.rmtree(os.path.dirname(out["lineage"][1].files[0]))
    assert any("read-back failed" in b for b in wl.check(out))


def test_cell_neighbors_check_catches_wrong_count_and_rows(spark, corpus):
    wl = W.CellNeighbors(spark, corpus, NullTracer())
    out = wl.run(None)
    assert out["sample"] and wl.check(out) == []
    assert any("pair count" in b for b in wl.check({**out, "pairs": out["pairs"] - 1}))
    lost_row = set(sorted(out["sample"])[1:])
    assert any("differ from brute force" in b for b in wl.check({**out, "sample": lost_row}))


def test_brute_topk_matches_engine_kernel():
    from kaza_lcms_spark.operators import knn as KNN

    rng = np.random.default_rng(0)
    ids = np.array([f"img_{i:012d}" for i in rng.permutation(60)])
    h = rng.integers(-2**63, 2**63 - 1, size=60, dtype=np.int64) & 0xFF  # many ties
    order = np.argsort(ids)
    rows = KNN._knn_block(ids[order], h[order], np.arange(60), W.K, "image_id")
    got = {tuple(r) for df in rows for r in df.itertuples(index=False)}
    assert got == W.brute_topk(ids, h, W.K)


def test_benchmark_json_names_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {(m["name"], m["unit"]) for m in bench["end_to_end"]} == set(run.END_TO_END.items())
    assert {(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]} == {
        (k, u, b) for k, (u, b) in layers.PER_LAYER.items()}
    assert {w["name"] for w in bench["workloads"]} == set(W.WORKLOADS)
