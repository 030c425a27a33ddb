"""Streaming ingest deduplication: exactly-one-copy-per-content
admission for a continuously arriving corpus.

A training-data pipeline ingesting a live feed (crawl output, a
Kafka topic of documents) must admit each distinct content
fingerprint ONCE — the streaming twin of `operators/dedup.py`'s
batch exact-dedup. The reference has no streaming dedup (its Kafka
layer is keyed upsert, geomesa-kafka GeoMessage semantics —
streaming/upsert.py); this extends the same foreachBatch + versioned
snapshot architecture to first-wins admission:

- WITHIN a micro-batch the winner per fingerprint is deterministic:
  the minimum of (order_cols..., full row) — one map-side-combinable
  aggregate, never a "whichever partition ran first" dropDuplicates.
- ACROSS micro-batches, arrival order wins: a fingerprint admitted in
  batch N rejects every later occurrence, even one with an earlier
  event time (exactly `dropDuplicatesWithinWatermark`'s contract —
  the alternative, global event-time order, would mean never emitting
  until the horizon closes).
- The seen-fingerprint state is bounded by an EVENT-TIME horizon
  (`ttl_sec`, the watermark analog): fingerprints FIRST seen more
  than ttl behind the newest event time are evicted (duplicates do
  not refresh the clock — the same state contract as
  `dropDuplicatesWithinWatermark`), so state size tracks the
  horizon, not corpus history. A duplicate arriving after its
  fingerprint was evicted is re-admitted — the same bounded-memory
  trade every watermarked dedup makes; size the horizon to the
  feed's real re-delivery window.

The accepted records and the seen state are versioned directories
written through `upsert.start_foreach_batch`, whose docstring states
the replay and visibility rules. At warehouse scale, compact the
accepted versions periodically (`tableio.compact_versions`: they are
disjoint row sets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geomesa_spark.sources.tableio import ParquetVersionedIO
from geomesa_spark.streaming.upsert import start_foreach_batch


def dedup_batch(
    df: DataFrame,
    fingerprint_cols: list[str],
    order_cols: list[str],
) -> DataFrame:
    """Deterministic first-record-per-fingerprint over one batch: the
    minimum of struct(order_cols..., whole row) per fingerprint — a
    single partial-aggregated groupBy (combiner-reduced before the
    shuffle, unlike a row_number window, which must sort whole
    groups). `order_cols` must totally order rows within a
    fingerprint (include a seq/id tiebreaker) and be non-null; ties
    beyond them fall through to the remaining columns in column
    order, so the result is deterministic regardless."""
    if not fingerprint_cols or not order_cols:
        raise ValueError("fingerprint_cols and order_cols are required")
    payload = F.struct(*[F.col(c) for c in df.columns]).alias("_row")
    winner = F.min(
        F.struct(*[F.col(c) for c in order_cols], payload)
    ).alias("_w")
    return (
        df.groupBy(*fingerprint_cols).agg(winner).select("_w._row.*")
    )


def replay_dedup(
    log: DataFrame,
    fingerprint_cols: list[str],
    order_cols: list[str],
) -> DataFrame:
    """Batch replay twin: the state `ingest_dedup_stream` converges to
    when every duplicate arrives within the horizon AND batches arrive
    in event order (the normal ingest case) — the global event-order
    first record per fingerprint. Pytest drives the divergence case
    (a late-arriving earlier-ordered duplicate loses to the
    already-admitted copy) explicitly."""
    return dedup_batch(log, fingerprint_cols, order_cols)


def ingest_dedup_stream(
    stream: DataFrame,
    accepted_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    fingerprint_cols: list[str],
    order_cols: list[str],
    ts_col: str | None = None,
    ttl_sec: float | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Run the streaming admission pipeline; returns the
    StreamingQuery. `stream` is any streaming DataFrame carrying the
    fingerprint/order columns. Accepted records land in versioned
    parquet under `accepted_dir` (read them with
    `tableio.read_all_versions`); the seen-fingerprint state lives
    under `state_dir`. `ts_col` (default: first of `order_cols`) is
    the event-time column the `ttl_sec` horizon is measured on — it
    must be numeric (epoch seconds) or castable to double."""
    spark = stream.sparkSession
    ts_col = ts_col or order_cols[0]
    io = ParquetVersionedIO(spark, state_dir)
    accepted_io = ParquetVersionedIO(spark, accepted_dir)

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        win = dedup_batch(batch_df, fingerprint_cols, order_cols)
        seen = io.read_latest(before=batch_id)
        if seen is not None:
            fresh = win.join(
                seen.select(*fingerprint_cols), fingerprint_cols, "left_anti"
            )
        else:
            fresh = win
        # the anti-join output feeds BOTH the accepted write and the
        # state union: commit the accepted version first, then derive
        # the state mark from the WRITTEN files — one evaluation, no
        # localCheckpoint blocks accumulating across micro-batches of
        # a long-running stream
        accepted_io.write_version(fresh, batch_id)
        mark = accepted_io.read_version(batch_id).select(
            *fingerprint_cols, F.col(ts_col).cast("double").alias("_seen_ts")
        )
        new_seen = mark if seen is None else seen.unionByName(mark)
        if ttl_sec is not None:
            # event-time horizon: one driver scalar per batch (the
            # newest seen event time), then a plain filter — the
            # watermark analog, keeping state O(horizon) not O(history)
            hi = new_seen.agg(F.max("_seen_ts")).collect()[0][0]
            if hi is not None:
                new_seen = new_seen.where(
                    F.col("_seen_ts") >= float(hi) - float(ttl_sec)
                )
        # seen ∪ mark is fingerprint-disjoint by construction (mark is
        # anti-joined against seen and internally deduped)
        io.write_version(new_seen, batch_id)

    return start_foreach_batch(
        stream, admit, checkpoint_dir, available_now, processing_time
    )
