"""Streaming co-travel: continuous convoy detection over a
point-track stream.

Pairs of tracks co-located on >= `min_shared` aligned time-grid
ticks, with the ALERT emitted in the micro-batch where the pair
first crosses the threshold — the live "these two are moving
together" signal that ``operators/cooccur.co_travel`` only produces
after the fact.  Same foreachBatch + versioned-snapshot architecture
as geofence/stops, and the same within-batch code as ``co_travel``:

- Ticks come from ``track_resample``'s core (``tracks._grid_ticks``:
  a segment owns the grid ticks in (es_i, es_{i+1}]) over the batch
  points PLUS one carried row per track (its last raw fix).  The
  carried point contributes only as a segment START — its own tick
  was owned by the batch that delivered it — so every grid tick
  materializes in EXACTLY one micro-batch and per-pair counts add
  across batches with no dedup pass.
- Pairs come from ``co_travel``'s per-tick eps-join
  (``cooccur._tick_pair_counts``).  Two tracks can materialize the
  SAME tick in different batches (their next fixes straddle a
  boundary), so the join's right side also carries the recent ticks
  of earlier batches (a `lag_horizon_s` window — state bounded by
  tracks x horizon/step).  Inter-track lag beyond the horizon is the
  documented divergence from ``co_travel``.
- ACROSS batches, (track_a, track_b) count state accumulates
  (n_shared, first/last tick, alerted flag); a pair crossing
  min_shared in this batch emits ONE alert row.  State is bounded
  by pairs that have EVER co-occurred on a tick (radius-bounded),
  not tracks².

Ordering contract: event-time-ordered batches per track (the
geofence/stops contract).  ``read_pair_counts`` is the live view —
for an in-order stream it equals ``co_travel``'s (n_shared,
first_ts, last_ts) per pair (parity-tested), with alerts = pairs at
n_shared >= min_shared.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geomesa_spark.operators.cooccur import _tick_pair_counts
from geomesa_spark.operators.tracks import _grid_ticks

__all__ = ["cotravel_stream", "read_alerts", "read_pair_counts"]

_LAST_COLS = ["track", "last_ts", "last_lon", "last_lat"]
_PAIR_COLS = ["track_a", "track_b", "n_shared", "first_ts", "last_tick",
              "alerted"]


def _batch_ticks(
    batch: DataFrame,
    last_state: DataFrame | None,
    step_s: int,
    track_col: str,
    ts_col: str,
    lon_col: str,
    lat_col: str,
    tiebreak_col: str | None,
) -> tuple[DataFrame, DataFrame]:
    """New grid ticks owned by this batch (track, tick_ts, lon, lat)
    + the new last-point state."""
    ticks = _grid_ticks(
        batch, track_col, ts_col, step_s, [lon_col, lat_col],
        tiebreak_col, None, carried=last_state,
    ).select("track", "tick_ts", F.col(lon_col).alias("lon"),
             F.col(lat_col).alias("lat"))
    desc = [F.col(ts_col).desc()]
    if tiebreak_col is not None:
        desc.append(F.col(tiebreak_col).desc())
    es = (
        F.unix_timestamp(F.col(ts_col))
        if dict(batch.dtypes)[ts_col].startswith("timestamp")
        else F.col(ts_col).cast("long")
    )
    new_last = batch.select(
        F.col(track_col).alias("track"),
        es.alias("last_ts"),
        F.col(lon_col).cast("double").alias("last_lon"),
        F.col(lat_col).cast("double").alias("last_lat"),
        F.row_number().over(
            Window.partitionBy(track_col).orderBy(*desc)
        ).alias("_rn"),
    ).filter(F.col("_rn") == 1).select(*_LAST_COLS)
    if last_state is not None:
        absent = last_state.join(
            batch.select(F.col(track_col).alias("track")).distinct(),
            "track", "left_anti",
        ).select(*_LAST_COLS)
        new_last = new_last.unionByName(absent)
    return ticks, new_last


def cotravel_stream(
    stream: DataFrame,
    dist_deg: float,
    step_s: int,
    min_shared: int,
    alerts_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    track_col: str,
    ts_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    tiebreak_col: str | None = None,
    lag_horizon_s: int | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Run the continuous convoy detector; returns the
    StreamingQuery. Alerts (one row per pair, in the batch it
    crosses min_shared) land under `alerts_dir`; the accumulating
    pair counts + per-track last points + recent ticks are the
    state (``read_pair_counts``). `lag_horizon_s` (default
    4·step_s) bounds how far apart two tracks' fix cadences may
    straddle batch boundaries while their shared ticks still pair."""
    from geomesa_spark.sources.tableio import ParquetVersionedIO

    spark = stream.sparkSession
    horizon = int(lag_horizon_s if lag_horizon_s is not None
                  else 4 * step_s)
    last_io = ParquetVersionedIO(spark, f"{state_dir}/last")
    pair_io = ParquetVersionedIO(spark, f"{state_dir}/pairs")
    tick_io = ParquetVersionedIO(spark, f"{state_dir}/ticks")
    alert_io = ParquetVersionedIO(spark, alerts_dir)

    def step(batch_df: DataFrame, batch_id: int) -> None:
        last_state = last_io.read_latest(before=batch_id)
        pair_state = pair_io.read_latest(before=batch_id)
        tick_state = tick_io.read_latest(before=batch_id)
        ticks, new_last = _batch_ticks(
            batch_df, last_state, step_s,
            track_col, ts_col, lon_col, lat_col, tiebreak_col,
        )
        ticks = ticks.persist()
        try:
            inc = _tick_pair_counts(
                ticks, dist_deg, carried=tick_state
            ).select(
                "track_a", "track_b",
                F.col("n_shared").alias("d_n"),
                F.col("first_ts").alias("d_first"),
                F.col("last_ts").alias("d_last"),
            )
            if pair_state is not None:
                merged = pair_state.join(
                    inc, ["track_a", "track_b"], "full_outer"
                ).select(
                    "track_a", "track_b",
                    (F.coalesce(F.col("n_shared"), F.lit(0))
                     + F.coalesce(F.col("d_n"), F.lit(0)))
                    .cast("long").alias("n_shared"),
                    F.least(
                        F.col("first_ts"), F.col("d_first")
                    ).alias("first_ts"),
                    F.greatest(
                        F.col("last_tick"), F.col("d_last")
                    ).alias("last_tick"),
                    F.coalesce(F.col("alerted"), F.lit(False))
                    .alias("_was_alerted"),
                )
            else:
                merged = inc.select(
                    "track_a", "track_b",
                    F.col("d_n").alias("n_shared"),
                    F.col("d_first").alias("first_ts"),
                    F.col("d_last").alias("last_tick"),
                    F.lit(False).alias("_was_alerted"),
                )
            merged = merged.withColumn(
                "alerted",
                F.col("_was_alerted")
                | (F.col("n_shared") >= F.lit(int(min_shared))),
            )
            alerts = merged.filter(
                ~F.col("_was_alerted") & F.col("alerted")
            ).select(
                "track_a", "track_b", "n_shared", "first_ts",
                F.col("last_tick").alias("alert_tick"),
            )
            alert_io.write_version(alerts, batch_id)
            pair_io.write_version(merged.select(*_PAIR_COLS), batch_id)
            last_io.write_version(new_last, batch_id)
            # recent-tick buffer: everything within the lag horizon
            # of the newest event time seen (bounded state)
            wm = new_last.agg(F.max("last_ts")).collect()[0][0] or 0
            all_ticks = (
                ticks if tick_state is None
                else ticks.unionByName(tick_state)
            )
            keep = all_ticks.filter(
                F.col("tick_ts") >= F.lit(int(wm) - horizon)
            )
            tick_io.write_version(keep, batch_id)
        finally:
            ticks.unpersist()

    writer = (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def read_alerts(spark: SparkSession, alerts_dir: str) -> DataFrame:
    from functools import reduce

    from geomesa_spark.sources.tableio import ParquetVersionedIO

    io = ParquetVersionedIO(spark, alerts_dir)
    frames = [io.read_version(v) for v in io.versions()]
    if not frames:
        raise ValueError(f"no committed alert versions under {alerts_dir}")
    return reduce(lambda a, b: a.unionByName(b), frames)


def read_pair_counts(spark: SparkSession, state_dir: str) -> DataFrame:
    """Live view: accumulated (track_a, track_b, n_shared, first_ts,
    last_tick, alerted) — equals ``co_travel``'s counts
    for an in-order stream (with min_shared applied by the caller)."""
    from geomesa_spark.sources.tableio import ParquetVersionedIO

    state = ParquetVersionedIO(spark, f"{state_dir}/pairs").read_latest()
    if state is None:
        raise ValueError(f"no committed pair state under {state_dir}")
    return state
