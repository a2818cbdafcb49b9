"""Export sinks (SURVEY.md §2.1 S10-S13).

Re-grounds the reference's export surface:
* ``exportTableToDrive`` with CSV column selectors
  (/root/reference/src/utils/exports.py:36-46, selectors at
  /root/reference/src/00sample_pts.py:208) → projected CSV write.
* Metrics sinks — per-class variable importance CSV + OOB txt
  (/root/reference/src/utils/primitives.py:18-30) → a metrics DataFrame
  through ``export_csv`` plus run-metrics rows into the lineage catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def export_csv(df: DataFrame, path: str, selectors: list[str] | None = None,
               header: bool = True, coalesce: int | None = 1) -> None:
    """Projected CSV export (S12). ``coalesce=1`` mirrors the reference's
    single-file Drive export; pass None to keep one file per partition
    (the 100 TB default)."""
    out = df.select(*selectors) if selectors else df
    if coalesce:
        out = out.coalesce(coalesce)
    out.write.mode("overwrite").option("header", str(header).lower()).csv(path)
