"""Session configuration that every tool, job and test inherits."""

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_the_drivers_package_from_any_directory(tmp_path):
    """A session started outside its checkout, from a directory holding
    another ``kaza_lcms_spark``, must still run this checkout's package
    in its Python workers (one subprocess, one JVM)."""
    decoy = tmp_path / "kaza_lcms_spark"
    decoy.mkdir()
    (decoy / "__init__.py").write_text("")
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        import pandas as pd
        from kaza_lcms_spark.session import get_spark

        def where(batches):
            import kaza_lcms_spark
            for _ in batches:
                pass
            yield pd.DataFrame({{"path": [kaza_lcms_spark.__file__]}})

        spark = get_spark(master="local[1]", shuffle_partitions=1)
        try:
            for r in spark.range(1).mapInPandas(where, "path string").collect():
                print("WORKER_PACKAGE", r["path"])
        finally:
            spark.stop()
    """)
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    env.pop("PYTHONPATH", None)
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    paths = [ln.split(" ", 1)[1] for ln in out.stdout.splitlines()
             if ln.startswith("WORKER_PACKAGE ")]
    assert paths, out.stdout[-2000:] + out.stderr[-4000:]
    assert paths[0] == os.path.join(ROOT, "kaza_lcms_spark", "__init__.py")
