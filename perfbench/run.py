"""Benchmark of the engine's deployed jobs, run from the repository root::

    python3 perfbench/run.py --workload tile_ingest --seed 1 --seconds 20 --trace 0

Workloads (``perfbench/workloads.py``): ``tile_ingest`` (the tile-assign
job) and ``cell_neighbors`` (per-cell phash kNN). The land-cover job's
layers are probed in ``tile_ingest``'s traced run: one warm land-cover
iteration takes ~50 s on ``local[3]``, too long for a benchmark run.

One run: re-execute with fixed memory layouts (``fix_layout``), make or
reuse the seeded inputs, start Spark on ``local[k]``, open the inputs,
run the workload's two warm-up iterations (the cold one, ~2.5x a warm
one, and one more while the JIT settles), then timed
iterations for ``--seconds`` (at least three), back to back: a closed
loop with one client. Every iteration starts with an empty Spark
cache and a fresh catalog root, and its output is checked; a failed
check or an exception counts as a failed operation, never retried.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` adds one
traced iteration and the standalone layer probes, writes the spans to
``perfbench/.cache/traces/`` and reports the per-layer metrics. The
last stdout line is the JSON result; the line before it is a readable
summary (iteration count, ``ops_failed_frac``, ``k``, span self times).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import ctypes  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
MIN_TIMED = 3

END_TO_END = {"setup_s": "s", "job_s": "s", "rows_per_s": "rows/s",
              "worker_peak_rss_mb": "MB", "jvm_live_heap_mb": "MB"}


#: personality(2) flag that turns address-space randomisation off
ADDR_NO_RANDOMIZE = 0x0040000


def fix_layout() -> None:
    """Re-execute this run with address-space randomisation off and a fixed
    Python hash seed; the JVM and the Python workers inherit both, so every
    run lays out its memory the same way. A randomised layout holds for a
    whole process, so its effect on speed is a run-to-run difference that
    no number of iterations in one run averages out. Where the kernel
    refuses the flag, the run goes on with randomised layouts."""
    libc = ctypes.CDLL(None, use_errno=True)
    current = libc.personality(0xFFFFFFFF)
    if current < 0 or (current & ADDR_NO_RANDOMIZE
                       and os.environ.get("PYTHONHASHSEED") == "0"):
        return
    if libc.personality(current | ADDR_NO_RANDOMIZE) < 0 \
            or not libc.personality(0xFFFFFFFF) & ADDR_NO_RANDOMIZE:
        return
    os.environ["PYTHONHASHSEED"] = "0"
    sys.stdout.flush()
    os.execv(sys.executable, [sys.executable, os.path.abspath(__file__)] + sys.argv[1:])


def isolate_env() -> str:
    """Keep every file Spark, the JVM and the workers write inside the
    checkout, and let the Python workers import the engine."""
    scratch = os.path.join(HERE, ".cache", "tmp", str(os.getpid()))
    os.makedirs(scratch, exist_ok=True)
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    return scratch


def jvm_live_heap_mb(spark) -> float:
    """Heap the JVM retains: after full collections (Python first, so
    dropped DataFrames release their JVM objects), the sum over heap pools
    of their usage right after the last collection. Reading the pools'
    current usage instead would add whatever was allocated since."""
    jvm = spark.sparkContext._jvm
    mgmt = jvm.java.lang.management
    for _ in range(2):
        gc.collect()
        jvm.java.lang.System.gc()
    used = 0
    for pool in mgmt.ManagementFactory.getMemoryPoolMXBeans():
        after_gc = pool.getCollectionUsage()
        if pool.getType() == mgmt.MemoryType.HEAP and after_gc is not None:
            used += after_gc.getUsed()
    return used / 2**20


def stop_spark(spark, root_pid: int) -> None:
    """Stop Spark, end the JVM gateway and wait for every process under us."""
    from pyspark import SparkContext

    from perfbench import procmem

    procs = procmem.descendants(root_pid)
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()     # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    procmem.terminate(procmem.wait_gone(procs, 20))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    fix_layout()
    sys.path.insert(0, ROOT)
    from perfbench import layers, procmem, trace   # fails here without the engine
    from perfbench.workloads import WORKLOADS

    scratch = isolate_env()

    prepare, workload_cls = WORKLOADS[args.workload]
    excluded = 0.0                         # benchmark-own work before the first timed iteration
    t = time.perf_counter()
    prep = prepare(args.seed)
    prepare_s = time.perf_counter() - t
    excluded += prepare_s

    from kaza_lcms_spark.session import get_spark

    cores = min(workload_cls.cores, len(os.sched_getaffinity(0)))
    me = os.getpid()
    sampler = procmem.TreeSampler(me).start()
    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf={
        "spark.local.dir": scratch,
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch}",
    })
    start_s = time.perf_counter() - t
    try:
        tracer = trace.NullTracer()
        wl = workload_cls(spark, prep, tracer)
        attempted = failed = 0
        problems: list[str] = []
        n_iter = 0
        checks_s = 0.0

        def iterate(span=contextlib.nullcontext()) -> tuple[float, float, dict | None]:
            """One iteration: (wall s, tree CPU s, output or None on failure).
            ``span`` encloses the workload's calls only, not its check."""
            nonlocal attempted, failed, n_iter, checks_s
            n_iter += 1
            attempted += 1
            spark.catalog.clearCache()
            root = os.path.join(scratch, f"catalog{n_iter}")
            cpu0 = procmem.tree_cpu_seconds(me)
            t0 = time.perf_counter()
            out = None
            try:
                with span:
                    out = wl.run(root)
            except Exception:
                problems.append(traceback.format_exc(limit=3))
            wall = time.perf_counter() - t0
            cpu = procmem.tree_cpu_seconds(me) - cpu0
            t1 = time.perf_counter()
            if out is not None:
                try:
                    bad = wl.check(out)
                except Exception:
                    bad = [traceback.format_exc(limit=3)]
                problems.extend(bad)
                if bad:
                    out = None
            if out is None:
                failed += 1
            shutil.rmtree(root, ignore_errors=True)
            checks_s += time.perf_counter() - t1
            return wall, cpu, out

        warm = []
        for _ in range(wl.warmup):
            t = time.perf_counter()
            warm.append(iterate()[0])
            excluded += time.perf_counter() - t - warm[-1]
        setup_s = time.perf_counter() - T_START - excluded

        walls, utils, steals = [], [], []
        steal0 = procmem.host_steal()
        t_loop = time.perf_counter()
        while time.perf_counter() - t_loop < args.seconds or len(walls) < MIN_TIMED:
            s0 = procmem.host_steal()
            wall, cpu, _ = iterate()
            s1 = procmem.host_steal()
            walls.append(wall)
            utils.append(cpu / (wall * cores))
            steals.append(round((s1[0] - s0[0]) / max(s1[1] - s0[1], 1), 3))
        steal1 = procmem.host_steal()
        job_s = statistics.median(walls)
        heap_mb = jvm_live_heap_mb(spark)

        summary = {"workload": args.workload, "seed": args.seed,
                   "master": f"local[{cores}]", "prepare_s": round(prepare_s, 3),
                   "start_s": round(start_s, 3), "warmup_s": [round(w, 3) for w in warm],
                   "iterations": len(walls), "job_s_all": [round(w, 3) for w in walls],
                   "steal_all": steals, "cpu_util_all": [round(u, 3) for u in utils],
                   "host_steal_frac": round((steal1[0] - steal0[0])
                                            / max(steal1[1] - steal0[1], 1), 4),
                   "ops_failed_frac": {"value": failed / attempted, "unit": "ratio"}}
        if args.trace:
            run_id = f"{args.workload}-s{args.seed}-{me}"
            wl.tr = tracer = trace.Tracer(spark, run_id,
                                          cpu=lambda: procmem.tree_cpu_seconds(me))
            wall, _, out = iterate(tracer.span("iteration"))
            bad = wl.probes()
            attempted += 1
            failed += bool(bad)
            problems.extend(bad)
            tracer.harvest()
            metrics, diagnostic = layers.per_layer(
                wl, tracer, out, cores=cores, start_s=start_s, warmup_s=sum(warm),
                cpu_util=statistics.median(utils), job_s=job_s, traced_s=wall,
                jvm_peak_rss_mb=sampler.jvm_hwm_kb / 1024)
            tdir = os.path.join(HERE, ".cache", "traces")
            os.makedirs(tdir, exist_ok=True)
            tracer.write(os.path.join(tdir, f"{run_id}.jsonl"), T_START)
            summary["diagnostic"] = diagnostic
            summary["spans"] = tracer.self_times()
            summary["trace_overhead_s"] = metrics["trace.overhead_s"]["value"]
    finally:
        t = time.perf_counter()
        sampler.stop()
        stop_spark(spark, me)
        shutil.rmtree(scratch, ignore_errors=True)
        stop_s = time.perf_counter() - t

    if not args.trace:
        metrics = {
            "setup_s": setup_s, "job_s": job_s, "rows_per_s": wl.rows / job_s,
            "worker_peak_rss_mb": sampler.worker_hwm_kb / 1024,
            "jvm_live_heap_mb": heap_mb,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        summary.update(metrics)
    summary.update(checks_s=round(checks_s, 3), stop_s=round(stop_s, 3),
                   problems=problems[:5])
    summary["total_s"] = round(time.perf_counter() - T_START, 3)
    print(json.dumps(summary))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
