"""Streaming stop (dwell) detection over a point-track stream.

Loitering / port-call / dwell alerts as they CLOSE, plus a "dwelling
right now" live view, instead of a nightly batch scan of
``operators/tracks.stop_detect``.  Same foreachBatch +
versioned-snapshot architecture as ``streaming/geofence.py``:

- WITHIN a micro-batch, segments come from ``stop_detect``'s own
  gaps-and-islands core (``tracks._stop_segments``: one track window,
  one same-key aggregate), fed the carried last points.
- ACROSS micro-batches, ONE carried row per track stitches the
  boundary: the track's last seen point (the core computes the leg
  into the batch's first point against it) plus the OPEN segment's
  running aggregate (start, count, bbox).  A batch whose first point
  stays within `radius` of the carried point CONTINUES the open
  segment (segment 0; aggregates merge); one that jumps CLOSES it —
  the carried segment is emitted (if it meets `min_duration_s`) with
  its carried end time.
- A stop is emitted in exactly one micro-batch, WHEN IT CLOSES; the
  still-open segments are the live state (the newest state version).
  ``flush_open_stops`` converts the final state to emissions so
  closed + flushed == ``stop_detect`` over the whole stream (the
  parity pytest contract).
- State and stops are versioned directories written through
  ``upsert.start_foreach_batch`` (its docstring states the replay
  and visibility rules).

Ordering contract: batches arrive in event-time order per track
(the per-key-ordered topic shape, same as geofence_stream).  State
is O(active tracks); per-batch joins are bounded by batch size or
state size; no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geomesa_spark.operators.tracks import _stop_row, _stop_segments
from geomesa_spark.sources.tableio import (
    ParquetVersionedIO,
    read_newest_version,
)
from geomesa_spark.streaming.upsert import start_foreach_batch

__all__ = ["stop_stream", "flush_open_stops"]

# the track's last point + its open segment's ``_stop_segments``
# aggregate (lo_pos / hi_neg carry the IDL straddle inputs, so
# cross-batch straddling stops center exactly like stop_detect's)
_STATE_COLS = [
    "track", "last_es", "last_lon", "last_lat",
    "seg_start", "seg_n", "lo_x", "hi_x", "lo_y", "hi_y",
    "lo_pos", "hi_neg",
]


def _batch_stops(
    batch: DataFrame,
    state: DataFrame | None,
    radius: float,
    min_duration_s: int,
    track_col: str,
    ts_col: str,
    lon_col: str,
    lat_col: str,
    metric: str,
    tiebreak_col: str | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One micro-batch step -> (stops, new_state, shared).

    stops: closed dwell segments meeting min_duration_s; new_state:
    one row per active track (_STATE_COLS). `shared` is the
    persisted segment aggregate — caller unpersists it after
    materializing both outputs."""
    segs = _stop_segments(
        batch, track_col, ts_col, radius, lon_col, lat_col, metric,
        tiebreak_col, carried=state,
    ).withColumn("_max_seg", F.max("_seg").over(Window.partitionBy("track")))
    if state is not None:
        # segment 0 continues the carried open segment: fold the
        # carried aggregate into it (least/greatest skip NULLs,
        # matching min/max over the union)
        s0 = F.col("_seg") == 0
        merge = {
            "seg_start": lambda b, c: c,
            "seg_n": lambda b, c: b + c,
            "lo_x": F.least, "hi_x": F.greatest,
            "lo_y": F.least, "hi_y": F.greatest,
            "lo_pos": F.least, "hi_neg": F.greatest,
        }
        segs = segs.join(
            state.select("track", *[F.col(k).alias(f"_c_{k}") for k in merge]),
            "track", "left",
        ).select(
            "track", "_seg", "_max_seg", "last_es",
            *[
                F.when(s0, f(F.col(k), F.col(f"_c_{k}")))
                .otherwise(F.col(k)).alias(k)
                for k, f in merge.items()
            ],
        )
    segs = segs.persist()
    stops = segs.filter(F.col("_seg") < F.col("_max_seg")).select(
        "track", *_stop_row()
    )
    present = segs.select("track").distinct()
    if state is not None:
        # a batch that OPENS with an anchor (no segment 0) closes the
        # carried segment at its carried extent
        closed_carried = (
            state.join(present, "track", "left_semi")
            .join(segs.filter(F.col("_seg") == 0), "track", "left_anti")
            .select("track", *_stop_row())
        )
        stops = stops.unionByName(closed_carried)
    stops = stops.filter(F.col("duration_s") >= F.lit(int(min_duration_s)))

    # new state: the OPEN segment + last point per track present in
    # this batch, plus the carried rows of absent tracks
    desc = [F.col(ts_col).desc()]
    if tiebreak_col is not None:
        desc.append(F.col(tiebreak_col).desc())
    last_pt = batch.select(
        F.col(track_col).alias("track"),
        F.col(lon_col).alias("last_lon"),
        F.col(lat_col).alias("last_lat"),
        F.row_number().over(
            Window.partitionBy(track_col).orderBy(*desc)
        ).alias("_rn"),
    ).filter(F.col("_rn") == 1)
    new_state = (
        segs.filter(F.col("_seg") == F.col("_max_seg"))
        .join(last_pt, "track")
        .select(*_STATE_COLS)
    )
    if state is not None:
        absent = state.join(present, "track", "left_anti")
        new_state = new_state.unionByName(absent.select(*_STATE_COLS))
    return stops, new_state, segs


def stop_stream(
    stream: DataFrame,
    radius: float,
    min_duration_s: int,
    stops_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    track_col: str,
    ts_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    metric: str = "haversine",
    tiebreak_col: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Run the continuous dwell detector; returns the
    StreamingQuery. Closed stops land as versioned parquet under
    `stops_dir` (``tableio.read_all_versions``); the
    dwelling-right-now live view — per active track, its open
    segment (seg_start, seg_n, bbox) and last seen point — is
    ``tableio.read_newest_version`` of `state_dir`;
    ``flush_open_stops`` finalizes at stream end (closed + flushed ==
    ``stop_detect``, parity-tested)."""
    spark = stream.sparkSession
    io = ParquetVersionedIO(spark, state_dir)
    stops_io = ParquetVersionedIO(spark, stops_dir)

    def step(batch_df: DataFrame, batch_id: int) -> None:
        state = io.read_latest(before=batch_id)
        stops, new_state, shared = _batch_stops(
            batch_df, state, radius, min_duration_s,
            track_col, ts_col, lon_col, lat_col, metric, tiebreak_col,
        )
        try:
            stops_io.write_version(stops, batch_id)
            io.write_version(new_state, batch_id)
        finally:
            shared.unpersist()

    return start_foreach_batch(
        stream, step, checkpoint_dir, available_now, processing_time
    )


def flush_open_stops(
    spark: SparkSession, state_dir: str, min_duration_s: int
) -> DataFrame:
    """Finalize the open segments (end-of-stream): the state rows as
    stop rows, min-duration filtered — union with the closed stops
    (``tableio.read_all_versions``) to match ``stop_detect`` exactly."""
    st = read_newest_version(spark, state_dir)
    return st.select("track", *_stop_row()).filter(
        F.col("duration_s") >= F.lit(int(min_duration_s))
    )
