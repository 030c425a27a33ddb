"""Streaming hot-spot monitor: continuous space-time Gi* with
first-crossing alerts.

The streaming twin of ``operators/hotspot.hotspot_cells_st`` and the
monitoring composition the reference's live layer implies (the live
Kafka quadtree keeps a poll-and-diff snapshot,
``LiveKafkaConsumerFeatureSource.scala:136-191``; here the engine
maintains the STATISTIC continuously and emits the diff).  Runs
through ``upsert.start_foreach_batch`` (its docstring states the
versioned-state pattern):

- WITHIN a micro-batch, points bin to (x, y, tb) deltas — one
  partial-aggregated groupBy bounded by the batch.
- ACROSS batches, the bin table accumulates by a full-outer sum
  merge — state is bounded by occupied bins (grid x active time
  buckets), never history length, and bin counts are exact int64 so
  merge order cannot matter.
- Gi* recomputes over the ACCUMULATED bins each batch
  (``hotspot_st_from_bins`` — the identical statistic the batch
  operator runs; bins are already aggregated, so the per-batch cost
  is O(occupied bins x window), independent of corpus size).
- A bin whose z-score first reaches `hot_z` emits ONE alert row in
  that batch (an ever-hot set is the across-batch memory; Gi* is a
  corpus-relative statistic, so a bin can later cool below the
  threshold — the alert marks the first OBSERVED crossing, which is
  what a monitor means by "alert").

``read_hot_now`` serves the current Gi* surface as a queryable live
view.  For an in-order stream the final accumulated bins equal the
batch operator's binning, so ``read_hot_now`` == ``hotspot_cells_st``
over all points (parity-tested exactly — same integers, same shared
z SQL)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geomesa_spark.functions import cells as C
from geomesa_spark.operators.hotspot import hotspot_st_from_bins
from geomesa_spark.sources.tableio import (
    ParquetVersionedIO,
    read_newest_version,
)
from geomesa_spark.streaming.upsert import start_foreach_batch

__all__ = ["hotspot_stream", "read_hot_now"]

_BIN_COLS = ["x", "y", "tb", "w"]


def _batch_bins(
    batch: DataFrame,
    bits: int,
    time_bucket_s: int,
    ts_col: str,
    lon_col: str,
    lat_col: str,
    weight_col: str | None,
) -> DataFrame:
    ticks = (
        F.unix_timestamp(F.col(ts_col))
        if dict(batch.dtypes)[ts_col].startswith("timestamp")
        else F.col(ts_col).cast("long")
    )
    w = (
        F.col(weight_col).cast("long")
        if weight_col
        else F.lit(1).cast("long")
    )
    return (
        batch.select(
            C.lon_to_x(F.col(lon_col), bits).alias("x"),
            C.lat_to_y(F.col(lat_col), bits).alias("y"),
            F.floor(ticks / F.lit(int(time_bucket_s))).cast("long")
            .alias("tb"),
            w.alias("_w"),
        )
        .groupBy("x", "y", "tb")
        .agg(F.sum("_w").alias("w"))
    )


def hotspot_stream(
    stream: DataFrame,
    bits: int,
    time_bucket_s: int,
    alerts_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    ts_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    ring: int = 1,
    time_ring: int = 1,
    hot_z: float = 1.96,
    weight_col: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Run the continuous hot-spot monitor; returns the
    StreamingQuery.  Alerts (one row per (x, y, tb) bin, in the batch
    its Gi* first reaches `hot_z`) land under `alerts_dir`
    (``tableio.read_all_versions``); the accumulated bins and the
    ever-hot set are the state under `state_dir`."""
    spark = stream.sparkSession
    bins_io = ParquetVersionedIO(spark, f"{state_dir}/bins")
    hot_io = ParquetVersionedIO(spark, f"{state_dir}/hot")
    alert_io = ParquetVersionedIO(spark, alerts_dir)

    def step(batch_df: DataFrame, batch_id: int) -> None:
        prev_bins = bins_io.read_latest(before=batch_id)
        prev_hot = hot_io.read_latest(before=batch_id)
        delta = _batch_bins(
            batch_df, bits, time_bucket_s, ts_col, lon_col, lat_col,
            weight_col,
        )
        if prev_bins is not None:
            merged = (
                prev_bins.withColumnRenamed("w", "_pw")
                .join(delta.withColumnRenamed("w", "_dw"),
                      ["x", "y", "tb"], "full_outer")
                .select(
                    "x", "y", "tb",
                    (F.coalesce(F.col("_pw"), F.lit(0))
                     + F.coalesce(F.col("_dw"), F.lit(0)))
                    .cast("long").alias("w"),
                )
            )
        else:
            merged = delta
        bins_io.write_version(merged.select(*_BIN_COLS), batch_id)
        # recompute the statistic over the COMMITTED bins (bounded),
        # so the surface, the alerts, and a replay all read one state
        gi = hotspot_st_from_bins(
            bins_io.read_version(batch_id), bits,
            ring=ring, time_ring=time_ring,
        )
        hot_now = gi.filter(F.col("gi_star") >= F.lit(float(hot_z)))
        if prev_hot is not None:
            fresh = hot_now.join(prev_hot, ["x", "y", "tb"], "left_anti")
        else:
            fresh = hot_now
        alerts = fresh.select(
            "x", "y", "tb", "w", "gi_star",
            F.lit(int(batch_id)).alias("batch_id"),
        )
        alert_io.write_version(alerts, batch_id)
        ever_hot = fresh.select("x", "y", "tb")
        if prev_hot is not None:
            ever_hot = prev_hot.select("x", "y", "tb").unionByName(ever_hot)
        hot_io.write_version(ever_hot, batch_id)

    return start_foreach_batch(
        stream, step, checkpoint_dir, available_now, processing_time
    )


def read_hot_now(
    spark: SparkSession,
    state_dir: str,
    bits: int,
    ring: int = 1,
    time_ring: int = 1,
) -> DataFrame:
    """Live view: the current Gi* surface over the accumulated bins —
    equals ``hotspot_cells_st`` over every point seen so far (the
    batch twin) for an in-order stream."""
    bins = read_newest_version(spark, f"{state_dir}/bins")
    return hotspot_st_from_bins(bins, bits, ring=ring, time_ring=time_ring)
