"""Streaming geofencing: continuous enter/exit detection over a
point-track stream.

The transition analog of the reference's live Kafka layer
(``LiveKafkaConsumerFeatureSource.scala:136-191`` keeps a live
snapshot the client must poll and diff; here the engine emits the
diff as it happens).  Same foreachBatch + versioned-snapshot
architecture as ``streaming/ingest.py``:

- WITHIN a micro-batch, each step runs ``operators/geofence
  .geofence_events`` itself over the batch, with
  ``include_open=True`` — only CONTAINED rows are ever materialized
  (its pip_join_broadcast output), never |points| × |fences|.
- ACROSS micro-batches, ``_stitch`` joins that output to a tiny
  carried state: one row per (track, fence) the track was inside AT
  ITS LAST SEEN POINT — the batch operator's 'open' rows — carrying
  that point's event time. A batch whose first track point is
  outside such a fence emits the deferred 'exit' at the carried
  time; a batch whose first point is inside it drops the would-be
  duplicate 'enter'. Tracks absent from a batch keep their state
  rows verbatim.
- State and emitted events are versioned directories written
  through ``upsert.start_foreach_batch`` (its docstring states the
  replay and visibility rules); the newest state version IS the
  "who is inside right now" live view (the include_open analog).

Ordering contract: batches must arrive in event-time order per
track (the ingest_dedup/replay contract — the Kafka per-key-ordered
topic shape). A late point older than its track's carried state
would stitch against the wrong predecessor, the same divergence
every watermarkless stateful stream has; for in-order batches the
stitched events equal ``geofence_events`` over the whole stream
(parity-tested).

State size is O(tracks currently inside >=1 fence), not O(history);
every per-batch join is bounded by batch size or state size, and
none of it is per-row Python."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geomesa_spark.functions import cells as C
from geomesa_spark.operators.geofence import geofence_events
from geomesa_spark.sources.tableio import ParquetVersionedIO
from geomesa_spark.streaming.upsert import start_foreach_batch

__all__ = ["geofence_stream"]


def _stitch(
    local: DataFrame,
    state: DataFrame | None,
    batch: DataFrame,
    track_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Stitch one micro-batch's ``geofence_events(...,
    include_open=True)`` output (`local`) to the carried state ->
    (events, new_state).

    events: (track, fence_id, event, ts); new_state: (track,
    fence_id, last_ts) — the 'open' rows, i.e. inside pairs as of
    each track's last batch point, plus the carried rows of tracks
    absent from the batch."""
    opened = local.filter(F.col("event") == "open").select(
        "track", "fence_id", F.col("ts").alias("last_ts")
    )
    events = local.filter(F.col("event") != "open")
    if state is None:
        return events.select("track", "fence_id", "event", "ts"), opened
    carried = state.select("track", "fence_id", "last_ts")
    batch_tracks = batch.select(F.col(track_col).alias("track")).distinct()
    # the track was already inside at its previous (cross-batch)
    # point: a batch opening inside the same fence is no new 'enter'
    events = events.join(
        carried.select("track", "fence_id", F.lit(True).alias("_was_in")),
        ["track", "fence_id"],
        "left",
    ).filter(
        ~(
            (F.col("event") == "enter")
            & (F.col("seq") == 1)
            & F.col("_was_in").isNotNull()
        )
    )
    # deferred boundary exits: carried pairs whose track appears in
    # this batch but does NOT open inside that fence (every event
    # row sits on an inside point, so seq 1 rows are the openings)
    opens_inside = local.filter(F.col("seq") == 1).select(
        "track", "fence_id"
    )
    boundary_exits = (
        carried.join(batch_tracks, "track", "left_semi")
        .join(opens_inside, ["track", "fence_id"], "left_anti")
        .select(
            "track", "fence_id", F.lit("exit").alias("event"),
            F.col("last_ts").alias("ts"),
        )
    )
    events = events.select(
        "track", "fence_id", "event", "ts"
    ).unionByName(boundary_exits)
    kept = carried.join(batch_tracks, "track", "left_anti")
    return events, kept.unionByName(opened)


def geofence_stream(
    stream: DataFrame,
    fences: list[tuple[str, str]],
    events_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    track_col: str,
    ts_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    cell_col: str = "cell",
    cell_bits: int = C.XY_BITS,
    tiebreak_col: str | None = None,
    bits: int = 8,
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Run the continuous geofence pipeline; returns the
    StreamingQuery. `stream` must carry track/ts/lon/lat (+ cell —
    derive with cells.z2_cell if absent). Transition events land as
    versioned parquet under `events_dir`
    (``tableio.read_all_versions``); the inside-right-now live view,
    (track, fence_id, last_ts) rows, is
    ``tableio.read_newest_version`` of `state_dir`."""
    spark = stream.sparkSession
    io = ParquetVersionedIO(spark, state_dir)
    events_io = ParquetVersionedIO(spark, events_dir)

    def step(batch_df: DataFrame, batch_id: int) -> None:
        state = io.read_latest(before=batch_id)
        # events and new_state branch from one persisted pass of the
        # batch operator — the pipeline runs once for both writes,
        # and the cache is released before the next micro-batch
        # (unlike a localCheckpoint, whose blocks would accumulate
        # across a long-running stream — the ingest.py lesson)
        local = geofence_events(
            batch_df, fences, track_col, ts_col, lon_col, lat_col,
            cell_col, cell_bits, tiebreak_col, bits, include_open=True,
        ).persist()
        try:
            events, new_state = _stitch(local, state, batch_df, track_col)
            events_io.write_version(events, batch_id)
            io.write_version(new_state, batch_id)
        finally:
            local.unpersist()

    return start_foreach_batch(
        stream, step, checkpoint_dir, available_now, processing_time
    )
