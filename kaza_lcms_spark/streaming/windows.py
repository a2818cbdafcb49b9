"""Streaming operators: watermarked windows + stream-static spatial join."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels import geom
from ..operators import spatial_join as SJ


def windowed_event_stats(stream: DataFrame, window: str = "1 hour",
                         watermark: str = "2 hours",
                         ts_col: str = "ts") -> DataFrame:
    """Tumbling event-time window counts + mean with late-data watermark —
    the streaming analog of the reference's per-period composites
    (reduce over a filtered date range, src/utils/s2process.py:124-139)."""
    # TIMESTAMP_NTZ (tz-naive parquet) is not a legal event-time type
    return (stream
            .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("avg_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n", "avg_value"))


def sessionize_stateful(stream: DataFrame, gap_sec: int = 1800,
                        user_col: str = "user_id", ts_col: str = "ts",
                        id_col: str = "event_id",
                        value_col: str = "value") -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): split
    each user's event stream into sessions at > gap_sec inactivity and
    emit a (user_id, session_seq, n_events, sum_value) row when a session
    CLOSES — the streaming form of the gated batch `sessionize` query
    (same numbering: session_seq counts session starts per user from 1).

    State per user = the open session (last event second, seq, running
    count/sum); it carries across micro-batches, so sessions spanning a
    batch boundary are stitched exactly (tested against the batch query).
    Scale shape: state is O(1) per user, rows stream through Arrow
    batches, and the shuffle key is user_id — the same plan a 10¹²-event
    feed needs. Each user's final session stays open in the state store
    (append semantics: it emits when a later event or timeout closes it).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    out_schema = StructType([
        StructField("user_id", LongType()), StructField("session_seq", LongType()),
        StructField("n_events", LongType()), StructField("sum_value", DoubleType()),
    ])
    state_schema = StructType([
        StructField("last_sec", LongType()), StructField("session_seq", LongType()),
        StructField("n_events", LongType()), StructField("sum_value", DoubleType()),
    ])

    def fn(key, pdfs, state):
        import pandas as pd

        (uid,) = key
        if state.exists:
            last_sec, seq, n, sv = state.get
        else:
            last_sec, seq, n, sv = None, 0, 0, 0.0
        closed = []
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            pdf = pd.concat(chunks).sort_values([ts_col, id_col])
            secs = (pdf[ts_col].dt.floor("s").astype("int64") // 10**9).to_numpy()
            vals = pdf[value_col].to_numpy()
            for s, v in zip(secs, vals):
                if last_sec is None or s - last_sec > gap_sec:
                    if n > 0:
                        closed.append((uid, seq, n, sv))
                    seq += 1
                    n, sv = 0, 0.0
                last_sec = s
                n += 1
                sv += float(v)
        if last_sec is not None:
            state.update((int(last_sec), int(seq), int(n), float(sv)))
        if closed:
            yield pd.DataFrame(closed,
                               columns=["user_id", "session_seq",
                                        "n_events", "sum_value"])

    return (stream.groupBy(user_col)
            .applyInPandasWithState(fn, out_schema, state_schema, "append",
                                    GroupStateTimeout.NoTimeout))


def stream_tile_counts(spark: SparkSession, stream_images: DataFrame,
                       index: geom.PolygonIndex) -> DataFrame:
    """Stream-static spatial join: the SAME fused footprint→cell→PIP kernel
    used in batch (operators/spatial_join.assign_images_fused) applied to a
    streaming image feed, aggregated to per-unit counts. mapInArrow is a
    stateless narrow transform, so it is streaming-legal; the groupBy is a
    streaming aggregation (complete/update mode)."""
    assigned = SJ.assign_images_fused(spark, stream_images, index)
    return assigned.groupBy("unit_id").agg(F.count(F.lit(1)).alias("n"))


def stream_ingest_catalog(stream: DataFrame, catalog, table: str,
                          partition_col: str, checkpoint: str,
                          layout=None, available_now: bool = True):
    """Stream a feed INTO the checkpointing catalog (S10 lineage layer):
    a ``foreachBatch`` sink committing one snapshot manifest per
    micro-batch through :meth:`Catalog.append_batch` — closing the loop
    between §2.10 streaming and the batch table format. Readers only
    ever see committed manifests; a replayed batch (failure/restart) is
    skipped by the manifest's ``last_batch_id`` high-water mark, so the
    sink is exactly-once end-to-end (Spark's checkpoint makes delivery
    at-least-once; the manifest makes the commit idempotent).

    ``layout`` passes through to the group writer — use
    ``sources.layout.cell_clustered`` to keep streaming ingest
    Morton-clustered exactly like batch ingest (same pruning story).

    Returns the started StreamingQuery; with ``available_now`` the query
    drains what exists and stops (call ``awaitTermination()``)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        catalog.append_batch(batch_df.sparkSession, batch_df, table,
                             partition_col, batch_id=batch_id, layout=layout)

    w = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", checkpoint))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_exact_dedup(stream: DataFrame, key_cols: tuple[str, ...] = ("text",),
                       ts_col: str = "ts",
                       watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: keep the FIRST arrival of each key within
    the watermark horizon (dropDuplicatesWithinWatermark) — the streaming
    form of the batch exact-dedup hash-groupBy (operators/dedup.py).

    Scale shape: state holds one entry per distinct key seen inside the
    horizon and is EVICTED as the watermark advances — bounded state on
    an unbounded ingest feed, where re-running batch dedup would rescan
    the full history every time. Duplicates that span micro-batch
    boundaries are caught by the state store (tested == batch distinct).
    """
    return (stream
            .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(list(key_cols)))
