"""SparkSession factory with the engine's standing configuration.

The reference (sig-gis/kaza-lcms) delegates all execution tuning to GEE
server-side knobs (``tileScale=16`` at src/utils/sampling.py:152,179,
``maxPixels=1e13`` at src/utils/exports.py:16). Our engine's equivalents
are Spark configs set once here:

* Arrow on — every Python kernel is a vectorized pandas UDF over Arrow
  batches (BASELINE.json::input_hint forbids per-row Python UDFs).
* AQE on, incl. skew-join splitting — the runtime half of the skew story
  (border/river hot cells); explicit salting is the planner half
  (plans/salting.py).
* Arrow batch size bounded — image `bytes` payloads inflate batches;
  64 MiB-ish batches at 10 KiB/image ≈ 6k rows, so cap records per batch.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
ARROW_MAX_RECORDS = 4096
#: the directory that holds the package: a checkout root, or the zip
#: under ``spark-submit --py-files``
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


_ALLOC_FILE: list[str | None] = []  # memo: extract once per process


def _allocation_file() -> str | None:
    """Materialize the packaged fairscheduler.xml to a filesystem path.
    spark.scheduler.allocation.file is read by the driver JVM from a
    path/URL, but under zip deployment (spark-submit --py-files) the
    resource lives inside the archive — extract once per process
    (memoized: repeated get_spark calls reuse the same temp file)."""
    if _ALLOC_FILE:
        return _ALLOC_FILE[0]
    import tempfile

    try:
        from importlib import resources
        text = (resources.files("kaza_lcms_spark")
                .joinpath("fairscheduler.xml").read_text())
    except Exception:
        _ALLOC_FILE.append(None)
        return None
    # deterministic per-user path, atomically replaced — reused across
    # driver processes instead of leaking one NamedTemporaryFile per
    # process. The staging file is created O_EXCL under
    # an unpredictable name, so a link planted in the shared temp dir
    # cannot redirect the write; the rename replaces a planted link at
    # the final path instead of following it.
    path = os.path.join(
        tempfile.gettempdir(), f"kaza-fairscheduler-{os.getuid()}.xml")
    fd, tmp = tempfile.mkstemp(prefix=os.path.basename(path) + ".",
                               suffix=".tmp", dir=os.path.dirname(path))
    try:
        with os.fdopen(fd, "w") as f:
            f.write(text)
        os.replace(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise
    _ALLOC_FILE.append(path)
    return path


def get_spark(
    app_name: str = "kaza-lcms-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
        # image tables carry ~KB binary payloads and CPU-heavy decode per
        # row: split scans much finer than the 128 MB default so a
        # 200 MB file fans out across all cores instead of 2 tasks
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.session.timeZone", "UTC")
        # FAIR scheduling so concurrent driver-thread job submissions
        # (per-class RF fits, ml/primitives.py) share executor slots
        # instead of queueing FIFO behind each other; the shipped
        # allocation file declares the rf-slot-{i} pools (equal weight,
        # minShare 1) so the scheduler runs the policy the concurrency
        # claim names rather than unconfigured-pool defaults
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Python workers import the engine from the driver's tree: its
        # parent goes on their path, and their working directory, which
        # Python would put first, does not (PYTHONSAFEPATH). Otherwise a
        # session started from another directory fails in its first UDF
        # (no module kaza_lcms_spark), and one started from another
        # checkout runs that checkout's code in the workers.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.executorEnv.PYTHONSAFEPATH", "1")
    )
    alloc = _allocation_file()
    if alloc is not None:
        b = b.config("spark.scheduler.allocation.file", alloc)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
