"""Streaming keyed-upsert view: CreateOrUpdate / Delete / Clear.

Reference semantics (geomesa-kafka): a topic of GeoMessages —
CreateOrUpdate(feature), Delete(id), Clear — applied in log order to
an in-memory keyed cache (GeoMessage.scala; dispatch loop
LiveKafkaConsumerFeatureSource.scala:116-123), with optional TTL
expiration of live features (:146-160, Guava expireAfterWrite) and a
replay view reconstructing state as of a past instant
(ReplayKafkaConsumerFeatureSource.scala).

Spark mapping (SURVEY.md §2.9):
- the changelog is any DataFrame/stream with columns
  (op: 'upsert'|'delete'|'clear', <id>, <ts>, seq, payload...);
  `seq` is the log order (Kafka offset / file row index) — ties in
  `ts` are resolved by `seq`, exactly like log-order application.
- `apply_changelog` is a pure DataFrame function: one window over
  the key (last-write-wins) + a broadcast of the latest clear mark.
  It is the batch AND the foreachBatch body — same code, parity by
  construction.
- live state is a versioned parquet directory written through
  `start_foreach_batch` (the pattern every streaming pipeline here
  shares); the version history doubles as the replay/time-travel
  history (snapshot-as-of analog).
- TTL = a filter on the retained write timestamp; replay = apply
  over log rows with seq <= the replay point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

OP_UPSERT = "upsert"
OP_DELETE = "delete"
OP_CLEAR = "clear"


def apply_changelog(
    state: DataFrame | None,
    batch: DataFrame,
    id_col: str = "doc_id",
    ts_col: str = "ts",
    seq_col: str = "seq",
) -> DataFrame:
    """Fold a changelog batch into the keyed state (pure DataFrame).

    LOG-ORDER semantics, exactly the reference's consumer dispatch
    loop (LiveKafkaConsumerFeatureSource.scala:116-123 applies each
    GeoMessage as it arrives): retained `state` precedes the whole
    batch (`_gen`), and WITHIN a batch ordering is (ts, seq)
    ascending — so a row in a later batch beats existing state even
    if its event ts is older, and a later CreateOrUpdate recreates a
    previously deleted key. A `clear` drops every row not after it.
    For EVENT-TIME ordering across batches (stale replays lose,
    deletes tombstone), use the `streaming.stateful.stateful_upsert`
    variant — the two are intentionally different contracts.
    Returns the new state with the changelog columns (op dropped).
    """
    op = F.col("op")
    if state is not None:
        prev = state.withColumn("op", F.lit(OP_UPSERT))
        # state precedes the batch in log order
        prev = prev.withColumn("_gen", F.lit(0))
        cur = batch.withColumn("_gen", F.lit(1))
        rows = prev.unionByName(cur, allowMissingColumns=True)
    else:
        rows = batch.withColumn("_gen", F.lit(1))

    order = [F.col("_gen"), F.col(ts_col), F.col(seq_col)]
    # latest clear mark (empty -> null): everything at-or-before it dies
    clear = rows.filter(op == OP_CLEAR).agg(
        F.max(F.struct(*order)).alias("_clear_mark")
    )
    rows = rows.crossJoin(F.broadcast(clear))
    live = rows.filter(op != OP_CLEAR).filter(
        F.col("_clear_mark").isNull()
        | (F.struct(*order) > F.col("_clear_mark"))
    )
    w = Window.partitionBy(id_col).orderBy(*[c.desc() for c in order])
    latest = (
        live.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .filter(op != OP_DELETE)
    )
    return latest.drop("_rn", "_gen", "_clear_mark", "op")


def expire_ttl(
    state: DataFrame, now_epoch: float, ttl_sec: float, ts_col: str = "ts"
) -> DataFrame:
    """Drop entries whose last write is older than the TTL
    (LiveKafkaConsumerFeatureSource.scala:146-160 expireAfterWrite)."""
    return state.filter(
        F.col(ts_col).cast("double") > F.lit(now_epoch - ttl_sec)
    )


def replay_state(
    log: DataFrame,
    as_of_ts: float | None = None,
    as_of_seq: int | None = None,
    id_col: str = "doc_id",
    ts_col: str = "ts",
    seq_col: str = "seq",
) -> DataFrame:
    """State as of a past instant, rebuilt from the full log
    (ReplayKafkaConsumerFeatureSource analog)."""
    sub = log
    if as_of_ts is not None:
        sub = sub.filter(F.col(ts_col).cast("double") <= as_of_ts)
    if as_of_seq is not None:
        sub = sub.filter(F.col(seq_col) <= as_of_seq)
    return apply_changelog(None, sub, id_col, ts_col, seq_col)


# ---------------------------------------------------------------------------
# structured-streaming materialization
# ---------------------------------------------------------------------------


def start_foreach_batch(
    stream: DataFrame,
    step,
    checkpoint_dir: str,
    available_now: bool,
    processing_time: str | None,
):
    """Start `stream` with `step(batch_df, batch_id)` as its
    foreachBatch body; returns the StreamingQuery. Every streaming
    pipeline of this package (upsert, ingest dedup, geofence, stops,
    co-travel, hot-spot, flow) runs through here, and each follows
    one versioned-state pattern:

    - every output and every piece of carried state is a versioned
      directory (`sources.tableio.ParquetVersionedIO`): batch N
      writes `v=N` of each;
    - step N folds from the newest committed version BEFORE the
      batch (`read_latest(before=N)`), never from `v=N` itself (the
      path being overwritten, or what a crashed attempt left), so an
      at-least-once replay of batch N (foreachBatch's guarantee)
      recomputes the same versions and overwrites them: idempotent;
    - a reader sees only versions with `_SUCCESS`, so a torn write
      from a crashed batch is invisible. Output dirs are read as the
      union of their versions (`tableio.read_all_versions`), live
      state as the newest one (`tableio.read_newest_version`).

    `available_now=True` drains the source and stops (batch-replay /
    catch-up mode); `available_now=False` keeps the query running —
    the reference's continuous live view — with an optional
    `processing_time` trigger interval (e.g. "1 second"). The live
    readers stay queryable mid-run."""
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


def read_state(
    spark: SparkSession, state_dir: str, io=None
) -> DataFrame | None:
    """Latest committed state version, or None before the first.

    `io` is the same VersionedTableIO seam `upsert_stream` takes —
    default parquet version dirs; pass the matching
    `IcebergVersionedIO` to serve snapshots a catalog-backed stream
    wrote (reading the parquet path for an Iceberg-written state
    would silently return None)."""
    if io is None:
        from geomesa_spark.sources.tableio import ParquetVersionedIO

        io = ParquetVersionedIO(spark, state_dir)
    return io.read_latest()


def upsert_stream(
    changelog: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    ts_col: str = "ts",
    seq_col: str = "seq",
    ttl_sec: float | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    io=None,
):
    """Materialize a streaming changelog into the versioned state dir
    (the `start_foreach_batch` pattern); returns the StreamingQuery.

    `changelog` is a streaming DataFrame with the op/id/ts/seq
    columns. Each micro-batch folds into the previous state version
    with `apply_changelog` and writes the next one; `read_state`
    serves the snapshot, mid-run too.

    `io` is the storage seam (`sources.tableio.VersionedTableIO`
    contract): default `ParquetVersionedIO(spark, state_dir)`; pass
    `IcebergVersionedIO` on a catalog-equipped cluster to commit each
    batch as an Iceberg snapshot instead (SURVEY §1.2 mapping).
    """
    spark = changelog.sparkSession
    if io is None:
        from geomesa_spark.sources.tableio import ParquetVersionedIO

        io = ParquetVersionedIO(spark, state_dir)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        state = io.read_latest(before=batch_id)
        new = apply_changelog(state, batch_df, id_col, ts_col, seq_col)
        if ttl_sec is not None:
            import time as _t

            new = expire_ttl(new, _t.time(), ttl_sec, ts_col)
        io.write_version(new, batch_id)

    return start_foreach_batch(
        changelog, fold, checkpoint_dir, available_now, processing_time
    )
