"""Per-layer metrics of a traced run, named by engine module.

Layer timings come from the traced iteration's spans (public calls the
iteration makes) and from the standalone probes under the ``probe`` span
(layers whose calls only build lazy DataFrames, and layers the timed
iteration does not reach). A layer a workload's traced run does not
measure reports 0. The kernel figures are direct numpy calls on one
Arrow-sized batch, so they are the same on every workload.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from kaza_lcms_spark import datagen
from kaza_lcms_spark.kernels import grid
from kaza_lcms_spark.operators import spatial_join as SJ
from kaza_lcms_spark.session import ARROW_MAX_RECORDS

from perfbench import inputs

#: reported metrics (BENCHMARK.json ``per_layer``): name -> (unit, better)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "session.cpu_util": ("ratio", "higher"),
    "kernels.footprint_ns_per_row": ("ns", "lower"),
    "kernels.grid_encode_ns_per_row": ("ns", "lower"),
    "kernels.pip_probe_ns_per_row": ("ns", "lower"),
    "spatial_join.load_polygon_index_s": ("s", "lower"),
    "spatial_join.assign_pass_s": ("s", "lower"),
    "spatial_join.points_chain_s": ("s", "lower"),
    "catalog.write_partitioned_s": ("s", "lower"),
    "catalog.read_table_s": ("s", "lower"),
    "catalog.partition_wall_s_median": ("s", "lower"),
    "catalog.partition_wall_s_max": ("s", "lower"),
    "catalog.spark_jobs": ("count", "lower"),
    "catalog.tasks": ("count", "lower"),
    "catalog.write_amplification": ("ratio", "lower"),
    "salting.histogram_s": ("s", "lower"),
    "knn.phash_s": ("s", "lower"),
    "knn.caption_s": ("s", "lower"),
    "knn.spark_jobs": ("count", "lower"),
    "knn.tasks": ("count", "lower"),
    "composite.build_s": ("s", "lower"),
    "sampling.stratify_split_s": ("s", "lower"),
    "primitives.fit_s": ("s", "lower"),
    "primitives.wide_s": ("s", "lower"),
    "primitives.fit_cpu_util": ("ratio", "higher"),
    "primitives.spark_jobs": ("count", "lower"),
    "workflow.score_accuracy_s": ("s", "lower"),
    "workflow.score_area_s": ("s", "lower"),
    "trace.iteration_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}
#: printed in the summary line only: fixed by the inputs at this size, or
#: not steady (the JVM's resident high-water mark follows lazy heap growth)
DIAGNOSTIC = {
    "session.jvm_peak_rss_mb": "MB", "catalog.partitions_written": "count",
    "catalog.snapshots": "count", "knn.pairs": "count",
}


def ns_per_row(fn, rows: int, reps: int = 30) -> float:
    fn()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter_ns()
        fn()
        times.append(time.perf_counter_ns() - t0)
    return statistics.median(times) / rows


def kernel_metrics(seed: int) -> dict[str, float]:
    """The fused tile-assign kernel's three numpy steps on one batch of
    the seed's ids, probed against the benchmark's AOI units."""
    n = ARROW_MAX_RECORDS
    ids = np.arange(inputs.id_offset(seed), inputs.id_offset(seed) + n, dtype=np.int64)
    lon, lat = datagen.footprint_from_ids(ids)
    idx = inputs.aoi_index()
    return {
        "kernels.footprint_ns_per_row": ns_per_row(
            lambda: datagen.footprint_from_ids(ids), n),
        "kernels.grid_encode_ns_per_row": ns_per_row(
            lambda: grid.parent(grid.encode(lon, lat, SJ.FINE_LEVEL),
                                SJ.COARSE_LEVEL), n),
        "kernels.pip_probe_ns_per_row": ns_per_row(lambda: idx.probe(lon, lat), n),
    }


def per_layer(wl, tracer, out, *, cores: int, start_s: float, warmup_s: float,
              cpu_util: float, job_s: float, traced_s: float,
              jvm_peak_rss_mb: float) -> tuple[dict, dict]:
    """(reported metrics, diagnostic values) of one traced run."""
    def wall(name: str, parent: str = "iteration") -> float:
        return sum(s["end"] - s["start"] for s in tracer.find(name, parent))

    def jobs(prefix: str, parent: str) -> tuple[int, int]:
        ss = [s for s in tracer.spans if s["name"].startswith(prefix)
              and s["parent"] is not None
              and tracer.spans[s["parent"]]["name"] == parent]
        return (sum(s["jobs"] + s["untagged_jobs"] for s in ss),
                sum(s["tasks"] + s["untagged_tasks"] for s in ss))

    m = dict.fromkeys([*PER_LAYER, *DIAGNOSTIC], 0.0)
    m.update({"session.start_s": start_s, "session.warmup_s": warmup_s,
              "session.cpu_util": cpu_util, "session.jvm_peak_rss_mb": jvm_peak_rss_mb})
    m.update(kernel_metrics(wl.prep["seed"]))
    m.update(wl.layer)
    m["spatial_join.assign_pass_s"] = wall("spatial_join.assign_pass", "probe")
    m["spatial_join.points_chain_s"] = wall("spatial_join.points_chain", "probe")
    m["catalog.write_partitioned_s"] = wall("catalog.write_partitioned")
    m["catalog.read_table_s"] = wall("catalog.read_table")
    m["catalog.spark_jobs"], m["catalog.tasks"] = jobs("catalog.", "iteration")
    if out is not None and "res" in out:
        walls = [l.wall_s for l in out["lineage"]]
        m["catalog.partitions_written"] = out["res"]["written"]
        m["catalog.snapshots"] = out["res"]["snapshots"]
        m["catalog.partition_wall_s_median"] = statistics.median(walls)
        m["catalog.partition_wall_s_max"] = max(walls)
    if m["spatial_join.assign_pass_s"]:
        m["catalog.write_amplification"] = (m["catalog.write_partitioned_s"]
                                            / m["spatial_join.assign_pass_s"])
    m["salting.histogram_s"] = wall("salting.histogram", "probe")
    m["knn.phash_s"] = wall("knn.knn_per_cell")
    m["knn.caption_s"] = wall("knn.caption_knn_per_cell", "probe")
    m["knn.spark_jobs"], m["knn.tasks"] = jobs("knn.", "iteration")
    if out is not None and "pairs" in out:
        m["knn.pairs"] = out["pairs"]
    m["composite.build_s"] = wall("composite.build", "probe")
    m["sampling.stratify_split_s"] = wall("sampling.stratify_split", "probe")
    m["primitives.fit_s"] = wall("primitives.fit", "primitives.wide")
    m["primitives.wide_s"] = wall("primitives.wide", "probe")
    for f in tracer.find("primitives.fit", "primitives.wide"):
        m["primitives.fit_cpu_util"] = f["cpu_s"] / ((f["end"] - f["start"]) * cores)
        m["primitives.spark_jobs"] = f["jobs"] + f["untagged_jobs"]
    m["workflow.score_accuracy_s"] = wall("workflow.score_accuracy", "probe")
    m["workflow.score_area_s"] = wall("workflow.score_area", "probe")
    m["trace.iteration_s"] = traced_s
    m["trace.overhead_s"] = traced_s - job_s
    return ({k: {"value": float(m[k]), "unit": u} for k, (u, _) in PER_LAYER.items()},
            {k: {"value": float(m[k]), "unit": u} for k, u in DIAGNOSTIC.items()})
