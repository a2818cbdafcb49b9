"""kaza_lcms_spark — a brand-new PySpark-native spatial-join + tiling engine.

Re-grounds the query semantics of sig-gis/kaza-lcms (a Google Earth Engine
client, reference read-only at /root/reference) as an idiomatic PySpark
engine: hierarchical cell grid, two-phase point-in-polygon spatial joins
(broadcast cell-keyed polygon index probed inside mapInArrow), stratified
sampling, percentile and harmonic-regression composites, per-class RF
probability primitives, argmax assemblage, and checkpointed, resumable
tiling — over tables of image+caption pairs (image_id, bytes, w, h, fmt,
caption, phash).

Everything here is built from public knowledge only: the PySpark API, numpy,
and the reference's observable behavior. No code is copied from the
reference — it is a thin GEE client (2.4k LoC) with no local execution
engine; we re-express WHAT it computes with Spark-first HOW.
"""

__version__ = "0.1.0"
