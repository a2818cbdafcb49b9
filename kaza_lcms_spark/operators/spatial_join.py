"""Two-phase spatial join: coarse cell lookup → exact PIP, through one
broadcast cell-keyed polygon index.

Re-grounds the reference's raster↔vector joins (sig-gis/kaza-lcms):
``sampleRegions`` (src/utils/sampling.py:148-153), ``paint``
(src/utils/s2process.py:172), ``filterBounds`` (src/utils/s2process.py:18),
``clip`` (src/misc/sentinel1.py:59) — all are point/footprint-vs-polygon
containment joins that GEE executes server-side over tiles.

Physical strategy (BASELINE.json::north_star):

1. **Driver-side plan construction** — compute each polygon's cell cover
   at a coarse level (kernels.grid.cover_polygon) and key a PolygonIndex
   on it: per coarse cell, its candidate polygons and whether the first
   of them holds the whole cell. At 100 TB the same cover is what turns a
   full-table scan into a scan of only the AOI's partitions.
2. **Narrow map, no shuffle** — broadcast the index once and probe it
   with vectorized point batches in ONE ``mapInArrow`` kernel
   (``_assign_kernel``) that every containment join shares: footprint →
   coarse-cell lookup (the prefilter: a point in no covered cell has no
   candidate) → PIP against that cell's candidates → fine cell of the
   kept rows. Containment assignment therefore costs ZERO shuffles: it
   is a map-side broadcast join, the same shape Catalyst picks for small
   dimension tables, with a cell-keyed index as its hash table. Skewed
   cells (borders/rivers) cannot hurt a narrow map — skew handling
   matters only for the *keyed* operators downstream: AQE splits the
   distance join's skewed sort-merge join, and per-cell kNN salts its
   hot cells explicitly (plans.salting).
3. **Exact PIP** — even-odd ray casting (kernels.geom.points_in_polygon),
   lowest-unit_id tie-break on shared borders so output is row-for-row
   deterministic (reference parity requirement).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StructField, StructType,
)

from ..kernels import codec, geom, grid
from .. import datagen
from ..plans.fixpoint import fixpoint

#: coarse grid level of the polygon index's cells (the join's prefilter)
COARSE_LEVEL = geom.COARSE_LEVEL
#: fine level for per-image cell ids (~2.7 km at l=14 over lat band).
FINE_LEVEL = 14
#: columns the tile-assignment kernel derives, in its output order
_DERIVED = [StructField("lon", DoubleType()), StructField("lat", DoubleType()),
            StructField("cell_id", LongType()), StructField("unit_id", LongType())]


# ----------------------------------------------------------- footprint & cell

_DIGIT_POWERS = 10 ** np.arange(11, -1, -1, dtype=np.int64)


def _parse_arrow_ids(arr) -> np.ndarray:
    """``img_%012d`` Arrow string column → int64 indices with zero
    Python-object materialization: all ids are fixed 16-byte strings, so
    the Arrow offsets are uniform and the data buffer views directly as
    an (n, 16) uint8 matrix for the digit dot product. Any other input
    (ragged, ``large_string``, a non-digit character) is parsed by Arrow
    compute instead, which gives the same values and raises
    ``ArrowInvalid`` on a malformed id."""
    views = codec.arrow_views(arr)
    if views is not None:
        data, off = views
        if len(off) > 1 and (np.diff(off) == 16).all():
            digits = data[off[0]:off[-1]].reshape(-1, 16)[:, 4:] - ord("0")
            if digits.max() <= 9:       # uint8: a byte below '0' wraps high
                return digits.astype(np.int64) @ _DIGIT_POWERS
    import pyarrow as pa
    import pyarrow.compute as pc

    return pc.cast(pc.utf8_slice_codeunits(arr, 4), pa.int64()).to_numpy()


def with_footprint(df: DataFrame, id_col: str = "image_id") -> DataFrame:
    """Attach deterministic (lon, lat) center derived from the image id.

    The input table is contract-shaped (no geo columns,
    BASELINE.json::input_hint); the footprint is a pure function of the id
    (datagen.footprint_from_ids), computed in a vectorized Arrow batch UDF.

    The ``img_%012d`` index is parsed IN THE JVM (substring+cast,
    codegen) so the UDF receives an int64 column — Arrow→pandas for
    int64 is a zero-copy view, while the id strings would materialize
    one Python object per row on every recompute of this chain (the
    per-cell kNN derives from it three times per call).
    """
    @F.pandas_udf("lon double, lat double")
    def fp(pidx: pd.Series) -> pd.DataFrame:
        lon, lat = datagen.footprint_from_ids(pidx.to_numpy())
        return pd.DataFrame({"lon": lon, "lat": lat})

    idx_col = F.substring(F.col(id_col), 5, 12).cast("long")
    return (df.withColumn("_fp", fp(idx_col))
              .withColumn("lon", F.col("_fp.lon"))
              .withColumn("lat", F.col("_fp.lat"))
              .drop("_fp"))


_SPREAD_MASKS = (0x0000FFFF0000FFFF, 0x00FF00FF00FF00FF, 0x0F0F0F0F0F0F0F0F,
                 0x3333333333333333, 0x5555555555555555)
_SPREAD_SHIFTS = (16, 8, 4, 2, 1)


def with_cell(df: DataFrame, level: int = FINE_LEVEL,
              lon_col: str = "lon", lat_col: str = "lat",
              out_col: str = "cell_id") -> DataFrame:
    """Attach the Morton cell id at `level` as pure JVM column algebra —
    bit-identical to kernels.grid.encode (same quantize → clip → magic
    interleave arithmetic, all exact IEEE ops: add/div/mul/floor; the
    oracle-gated cell_morton query proves the SQL form of this formula
    against the numpy kernel; test_cell_expr_matches_numpy_encode covers
    clip edges). Replaces the old pandas-UDF encode: the cell attach is
    on every spatial input chain and a codegen expression costs no
    Python worker round-trip.

    Each spread step lands in its OWN projection (withColumn), because
    the step references its input twice (v | v<<s): inlining the chain
    as one Column doubles the subtree per step — 2⁵× the upstream
    expression — which was measured to push the distance-join stage into
    interpreted evaluation (0.69 s → 1.0 s). Step-wise temp columns keep
    the tree linear; Catalyst leaves such projects uncollapsed
    (CollapseProject skips duplicating non-cheap expressions)."""
    nf = float(1 << level)
    ax, ay = f"_mx_{out_col}", f"_my_{out_col}"
    qx = F.floor((F.col(lon_col) + F.lit(180.0)) / F.lit(360.0) * F.lit(nf))
    qy = F.floor((F.col(lat_col) + F.lit(90.0)) / F.lit(180.0) * F.lit(nf))
    df = df.withColumn(
        ax, F.least(F.greatest(qx, F.lit(0.0)), F.lit(nf - 1.0)).cast("long")
            .bitwiseAND(F.lit(0xFFFFFFFF))) \
           .withColumn(
        ay, F.least(F.greatest(qy, F.lit(0.0)), F.lit(nf - 1.0)).cast("long")
            .bitwiseAND(F.lit(0xFFFFFFFF)))
    for s, m in zip(_SPREAD_SHIFTS, _SPREAD_MASKS):
        df = df.withColumn(
            ax, F.col(ax).bitwiseOR(F.shiftleft(F.col(ax), s))
                .bitwiseAND(F.lit(m))) \
               .withColumn(
            ay, F.col(ay).bitwiseOR(F.shiftleft(F.col(ay), s))
                .bitwiseAND(F.lit(m)))
    morton = F.col(ax).bitwiseOR(F.shiftleft(F.col(ay), 1))
    return (df.withColumn(out_col,
                          F.shiftleft(morton, 5).bitwiseOR(F.lit(level)))
            .drop(ax, ay))


# --------------------------------------------------------------- poly loading

def load_polygon_index(polys_df: DataFrame,
                       id_col: str = "unit_id") -> geom.PolygonIndex:
    """Collect a (small) polygon table to the driver and build its
    cell-keyed index.

    Polygon sets in this workload are O(10–10^3) rows (AOI units,
    reference polygons) — always broadcastable; the 10^12-row side is the
    images table, which never moves.
    """
    rows = polys_df.select(id_col, "ring_xs", "ring_ys").collect()
    return geom.PolygonIndex(
        [r[id_col] for r in rows],
        [np.asarray(r["ring_xs"]) for r in rows],
        [np.asarray(r["ring_ys"]) for r in rows],
    )


def load_polygon_index_from_fixture() -> geom.PolygonIndex:
    """PolygonIndex over the deterministic AOI fixture polygons (in-memory,
    no parquet round-trip) — the broadcast side of the flagship join."""
    t = datagen.generate_aoi_polygons()
    return geom.PolygonIndex(
        t["unit_id"].to_numpy(),
        [np.asarray(r) for r in t["ring_xs"].to_pylist()],
        [np.asarray(r) for r in t["ring_ys"].to_pylist()],
    )


def polygon_cover_cells(index: geom.PolygonIndex, level: int = COARSE_LEVEL) -> np.ndarray:
    """Union of coarse cells intersecting any polygon (driver-side)."""
    cells = [grid.cover_polygon(rx, ry, level)[0]
             for rx, ry in zip(index.rings_x, index.rings_y)]
    return np.unique(np.concatenate(cells)) if cells else np.empty(0, np.int64)


# ---------------------------------------------------------------- tile assign

def _assign_kernel(spark: SparkSession, index: geom.PolygonIndex,
                   out_names: list[str] | None = None):
    """The one tile-assignment kernel behind :func:`assign_tiles`,
    :func:`assign_images_fused` and :func:`zonal_counts_fused`: a
    ``mapInArrow`` function that runs footprint → cell-keyed index probe
    (coarse-cell lookup, then exact PIP) → fine cell over each Arrow
    batch.

    The index is broadcast once; its cell lookup is the prefilter. The
    input shape is read from the batch itself:

    * ``lon``/``lat`` columns are used when present; otherwise the
      footprint is derived from the image id in column 0;
    * an int64 id column was parsed in the JVM; a string id column is
      parsed zero-copy (:func:`_parse_arrow_ids`).

    With ``out_names`` the kernel re-emits the kept input rows (Arrow
    ``take``) followed by the derived lon/lat (when not input columns),
    ``cell_id`` and ``unit_id``. Without, it emits one ``(unit_id, n)``
    partial count per unit per task: a manual map-side combine whose
    output is ≤ |polygons| rows."""
    bidx = spark.sparkContext.broadcast(index)

    def kernel(batches):
        import pyarrow as pa

        ix = bidx.value
        counts: dict[int, int] = {}
        for rb in batches:
            if rb.num_rows == 0:
                continue
            has_xy = "lon" in rb.schema.names
            if has_xy:
                lon = rb.column("lon").to_numpy(zero_copy_only=False)
                lat = rb.column("lat").to_numpy(zero_copy_only=False)
            else:
                ids = rb.column(0)
                lon, lat = datagen.footprint_from_ids(
                    ids.to_numpy() if pa.types.is_integer(ids.type)
                    else _parse_arrow_ids(ids))
            rows, units = ix.probe(lon, lat)
            if out_names is None:
                for u, n in zip(*np.unique(units, return_counts=True)):
                    counts[int(u)] = counts.get(int(u), 0) + int(n)
                continue
            sel = pa.array(rows)
            lon, lat = lon[rows], lat[rows]
            arrays = [rb.column(i).take(sel) for i in range(rb.num_columns)]
            if not has_xy:
                arrays += [pa.array(lon), pa.array(lat)]
            arrays += [pa.array(grid.encode(lon, lat, FINE_LEVEL)), pa.array(units)]
            yield pa.RecordBatch.from_arrays(arrays, out_names)
        if counts:
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(counts), type=pa.int64()),
                 pa.array(list(counts.values()), type=pa.int64())],
                ["unit_id", "n"])

    return kernel


def assign_tiles(spark: SparkSession, points_df: DataFrame,
                 index: geom.PolygonIndex,
                 keep_cols: tuple[str, ...] = ("image_id",)) -> DataFrame:
    """Point → polygon containment join over ``lon``/``lat`` columns.

    Returns keep_cols + (lon, lat, cell_id, unit_id); rows not inside any
    polygon are dropped (inner-join semantics, matching ``sampleRegions``
    dropping points off the raster/region). One ``mapInArrow`` pass of
    the shared kernel (:func:`_assign_kernel`).
    """
    cols = [*keep_cols, "lon", "lat"]
    out_schema = StructType([points_df.schema[c] for c in cols] + _DERIVED[2:])
    return points_df.select(*cols).mapInArrow(
        _assign_kernel(spark, index, out_schema.names), out_schema)


def assign_images_fused(spark: SparkSession, images_df: DataFrame,
                        index: geom.PolygonIndex) -> DataFrame:
    """Single-pass flagship join over contract-shaped images: footprint
    derivation + coarse-cell lookup + exact PIP + fine cell encode in
    ONE ``mapInArrow`` pass of the shared kernel
    (:func:`_assign_kernel`). No pandas object materialization on either
    side of the boundary: the fixed-width ids parse zero-copy from the
    Arrow data buffer, and kept rows are re-emitted with Arrow ``take``.
    This is the physical plan the 100 TB path wants: a narrow map over
    the scan with zero shuffles; per-batch numpy cost is ~1 ms / 4k
    rows, so the pipeline is I/O-bound, exactly as it should be.

    The scan splits by the size of the whole file, payload included, but
    the kernel reads only ``image_id``: like :func:`zonal_counts_fused`,
    the stage coalesces to one task per core, so the per-task Python
    round-trip is paid once per core rather than once per 8 MB split.

    Returns (image_id, lon, lat, cell_id, unit_id).
    """
    out_schema = StructType([images_df.schema["image_id"], *_DERIVED])
    return images_df.select("image_id") \
        .coalesce(spark.sparkContext.defaultParallelism) \
        .mapInArrow(_assign_kernel(spark, index, out_schema.names), out_schema)


def zonal_counts_fused(spark: SparkSession, images_df: DataFrame,
                       index: geom.PolygonIndex) -> DataFrame:
    """Flagship zonal aggregation with MANUAL map-side combine: the
    shared kernel emits per-task partial (unit_id, n) aggregates
    (≤ |polygons| rows per task instead of per-row output through
    Arrow), and a tiny final groupBy sums the partials. At 10¹² rows this
    is the difference between shuffling 10¹² rows and shuffling
    |tasks|·|units| rows.

    Two r6 boundary optimizations (the kernel's numpy work is ~0.1 s of
    a 2.5 s query; the JVM→Python Arrow boundary is the cost):
    * the id string is parsed to its int64 index IN THE JVM
      (substring+cast, codegen) so 8-byte ints cross the boundary
      instead of 16-byte strings (measured −0.35 s / 5M rows; malformed
      ids raise Spark's ANSI cast error);
    * the kernel stage coalesces to one task per core: per-task Python
      round-trip overhead dominates a map whose output is ≤|units| rows,
      so 96 input partitions × ~200 ms beats 32 × the same (measured
      −0.6 s). coalesce never shuffles and never increases partitions."""
    # unconditional: coalesce never increases the partition count, and
    # probing src.rdd.getNumPartitions() first costs a full extra
    # physical-planning pass per invocation
    src = images_df.select(
        F.substring(F.col("image_id"), 5, 12).cast("long").alias("_idx")) \
        .coalesce(spark.sparkContext.defaultParallelism)
    partials = src.mapInArrow(_assign_kernel(spark, index), StructType([
        StructField("unit_id", LongType()), StructField("n", LongType())]))
    return partials.groupBy("unit_id").agg(F.sum("n").alias("n"))


def zonal_stats(assigned: DataFrame, value_cols: tuple[str, ...] = (),
                unit_col: str = "unit_id") -> DataFrame:
    """Per-unit aggregate over assigned rows (reference analogs:
    reduceRegion(mean) src/misc/sentinel1.py:88, area-by-class
    src/misc/pt_calc_disprop.py:23-32). Partial aggregation (map-side
    combine) comes free from Catalyst hash-agg, so skewed units cost one
    hot reducer only for the tiny final combine."""
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in value_cols:
        aggs += [F.avg(c).alias(f"avg_{c}"), F.sum(c).alias(f"sum_{c}")]
    return assigned.groupBy(unit_col).agg(*aggs)


# -------------------------------------------------------------- distance join

def _halo(points_df: DataFrame, radius_deg: float, id_col: str,
          lon_col: str, lat_col: str,
          keep_home: bool) -> tuple[DataFrame, DataFrame]:
    """The halo step of :func:`distance_join` and :func:`thin_points`.

    Returns ``pts`` (pid, px, py, home: the point's cell at the largest
    level whose cells are at least ``radius_deg`` tall) and ``rep``: each
    point once per distinct cell of its home's 3×3 neighbourhood, as
    (pid, px, py, [home,] cell).
    """
    level = max(0, min(24, int(np.floor(np.log2(180.0 / max(radius_deg, 1e-9))))))

    # NOTE: this encode stays a pandas UDF deliberately (r6): the JVM
    # morton algebra (with_cell) was measured SLOWER here (0.69 s ->
    # 1.1 s at sf0.1) — the inner join's inferred isnotnull(cell) filter
    # gets pushed through the projections and re-inlines the whole
    # spread chain over the derived lon/lat into a ~16 KB per-row filter
    # expression; the Python-eval node is a pushdown barrier that keeps
    # the plan small. with_cell (kNN path) has the footprint UDF as its
    # barrier, so the JVM encode wins there.
    @F.pandas_udf(LongType())
    def enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(grid.encode(lon.to_numpy(), lat.to_numpy(), level))

    pts = points_df.select(
        F.col(id_col).alias("pid"), F.col(lon_col).alias("px"), F.col(lat_col).alias("py")
    ).withColumn("home", enc(F.col("px"), F.col("py")))

    types = {"pid": pts.schema["pid"].dataType, "px": DoubleType(),
             "py": DoubleType(), "home": LongType(), "cell": LongType()}
    cols = [c for c in types if keep_home or c != "home"]
    rep_schema = StructType([StructField(c, types[c]) for c in cols])

    def replicate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                continue
            nb = grid.neighbors(b["home"].to_numpy())  # (n, 9)
            n, k = nb.shape
            rep = b.loc[b.index.repeat(k)].reset_index(drop=True)
            rep["cell"] = nb.ravel()
            rep = rep.drop_duplicates(subset=["pid", "cell"])
            yield rep[cols]

    return pts, pts.mapInPandas(replicate, rep_schema)


def distance_join(points_df: DataFrame, radius_deg: float,
                  id_col: str = "pt_id",
                  lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """All unordered pairs (a < b) within planar `radius_deg` degrees.

    Re-grounds the reference's ``ee.Join.saveAll`` withinDistance self-join
    (src/utils/sampling.py:12-28). Physical plan: take the largest cell
    level whose cells are at least `radius_deg` tall → replicate each
    point to its 3×3 neighbor cells (halo) → equi-join home×replica on
    cell → exact distance filter, keeping the a < b orientation. The
    shuffle key is the cell id; a hot river/border cell is a skewed
    sort-merge join, which AQE's skew-join splitting (on in
    session.get_spark) divides at runtime.
    """
    pts, rep = _halo(points_df, radius_deg, id_col, lon_col, lat_col,
                     keep_home=False)
    right = (rep
             .withColumnRenamed("pid", "pid_b")
             .withColumnRenamed("px", "px_b").withColumnRenamed("py", "py_b"))
    joined = pts.withColumnRenamed("home", "cell").join(right, on="cell")
    dx = F.col("px") - F.col("px_b")
    dy = F.col("py") - F.col("py_b")
    dist2 = dx * dx + dy * dy
    # no distinct needed: the left side carries each point once (its home
    # cell) and the replicated right side is deduped per (pid, cell), so
    # every qualifying pair matches in exactly one cell — the home cell of
    # the left point. Saves a full shuffle over the pair set.
    return (joined
            .where(F.col("pid") < F.col("pid_b"))
            .where(dist2 <= F.lit(radius_deg) * F.lit(radius_deg))
            .select(F.col("pid").alias("a"), F.col("pid_b").alias("b")))


def thin_points_exact(points_df: DataFrame, radius_deg: float,
                      id_col: str = "pt_id",
                      lon_col: str = "lon", lat_col: str = "lat",
                      max_rounds: int = 64) -> DataFrame:
    """EXACT distributed greedy thinning: identical output to the
    sequential fold the reference runs (iterate-dedup,
    /root/reference/src/utils/sampling.py:37-48, keep-lowest-id order).

    The sequential greedy is a priority MIS: p is KEPT iff every lower-id
    point within radius is DROPPED; DROPPED iff some lower-id neighbor is
    KEPT. Computed as a parallel fixpoint with TWO sound decision rules
    per round:

    * drop early — ANY kept lower-id neighbor drops a point immediately
      (the greedy drops it no matter how its other lower neighbors
      resolve), without waiting for them to be decided;
    * keep — all lower-id neighbors decided and none kept.

    Rounds needed = longest alternating kept/undecided dependency chain
    (O(log n) in expectation under hash/random id assignment —
    tools/thin_probe.py measures this at 1M points; ids assigned
    MONOTONICALLY along a dense curve are the adversarial case, where
    the sequential greedy itself has linear decision depth and no exact
    parallelization can beat the chain).

    State: (pid, st, pending lower-id neighbors, higher-id neighbors). A
    point decided last round tells its higher neighbors its state once,
    then empties its list, so a round reads only the frontier's edges:
    one shuffle and ONE eager checkpoint (plans.fixpoint)."""
    pts = points_df.select(id_col, lon_col, lat_col)
    pairs = distance_join(pts, radius_deg, id_col, lon_col, lat_col)
    # st: 0 undecided, 1 kept, 2 dropped; a NULL list is an empty one
    state = (pts.select(F.col(id_col).alias("pid"), F.lit(0).alias("st"))
             .join(pairs.groupBy(F.col("a").alias("pid"))
                   .agg(F.collect_list("b").alias("highers")), "pid", "left")
             .join(pairs.groupBy(F.col("b").alias("pid"))
                   .agg(F.count("a").alias("pending")), "pid", "left")
             .fillna(0, ["pending"]))

    def step(state: DataFrame) -> DataFrame:
        told = (state.where(F.col("st") != 0)
                .select(F.explode("highers").alias("pid"), F.col("st").alias("told")))
        agg = (state.unionByName(told, allowMissingColumns=True)
               .groupBy("pid")
               .agg(F.max("st").alias("st"), F.max("pending").alias("pending"),
                    F.first("highers", ignorenulls=True).alias("highers"),
                    F.bool_or(F.col("told") == 1).alias("hit"),
                    F.count(F.when(F.col("told") == 2, 1)).alias("n_drop")))
        pending = F.col("pending") - F.col("n_drop")
        st = (F.when(F.col("st") != 0, F.col("st"))
              .when(F.col("hit"), F.lit(2))
              .when(pending == 0, F.lit(1))
              .otherwise(F.lit(0)))
        # a point decided before this round has now told its neighbors
        return agg.select("pid", st.alias("st"), pending.alias("pending"),
                          F.when(F.col("st") == 0, F.col("highers")).alias("highers"),
                          (st == 0).alias("flag"))

    return (fixpoint("thin_points_exact", state, step, max_rounds, "points still undecided")
            .where(F.col("st") == 1).select("pid"))


def thin_points(points_df: DataFrame, radius_deg: float,
                id_col: str = "pt_id",
                lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Min-distance thinning: drop points within `radius_deg` of a kept
    lower-id point (reference: iterate-dedup src/utils/sampling.py:37-48,
    re-grounded from a sequential fold to a deterministic per-cell greedy —
    documented semantic re-grounding, SURVEY.md §4 last row).

    Per coarse cell (with 3×3 halo), greedy-scan points by ascending id;
    decisions are emitted only for home-cell points, so the result is
    independent of partitioning. Chains longer than one halo radius may
    deviate from a global greedy — deterministic either way.
    """
    pts, rep = _halo(points_df, radius_deg, id_col, lon_col, lat_col,
                     keep_home=True)
    out_schema = StructType([StructField("pid", pts.schema["pid"].dataType)])
    r = radius_deg

    def greedy(key, pdf: pd.DataFrame) -> pd.DataFrame:
        cell = key[0]
        pdf = pdf.sort_values("pid").reset_index(drop=True)
        x = pdf["px"].to_numpy(); y = pdf["py"].to_numpy()
        n = len(pdf)
        kept = np.zeros(n, dtype=bool)
        for i in range(n):
            if i == 0:
                kept[i] = True
                continue
            prev = np.flatnonzero(kept[:i])
            d2 = (x[prev] - x[i]) ** 2 + (y[prev] - y[i]) ** 2
            kept[i] = not np.any(d2 <= r * r)
        keep_home = kept & (pdf["home"].to_numpy() == cell)
        return pdf.loc[keep_home, ["pid"]]

    from ..plans.salting import pin_kernel_partitions
    return (pin_kernel_partitions(rep, "cell")
            .groupBy("cell").applyInPandas(greedy, out_schema))
