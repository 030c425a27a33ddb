"""Streaming flow-anomaly monitor: continuous anomalous-mover
alerts against an accumulating traffic flow field.

The streaming twin of ``operators/tracks.flow_anomaly`` — the
monitor form of "who is moving against traffic RIGHT NOW": the
per-cell motion field accumulates under the stream, every new leg is
scored the moment it closes, and legs that cut against (or blow
past) the local flow land in an alert table.  Runs through
``upsert.start_foreach_batch`` like the other streaming twins (its
docstring states the versioned-state pattern).

State (both bounded, both exact int64 so merge order cannot matter):

- ``field`` — per-cell (n_legs, sum_dt_s, sum_fp_dx, sum_fp_dy),
  bounded by 4^bits, merged by full-outer sum each batch;
- ``last`` — each track's most recent fix, bounded by active tracks
  (``last_ttl_s`` expires dormant ones), so a leg that straddles a
  micro-batch boundary still materializes (carried fix → first new
  fix), exactly once — the carried point closed no leg in its own
  batch.

Scoring semantics — the monitor contract: a leg is scored against
the field accumulated up to AND INCLUDING its own batch (a monitor
cannot consult the future), leave-one-out like the batch operator
(its own int64 contribution subtracted exactly).  Therefore the
accumulated FIELD state equals the batch ``flow_field`` over all
points seen (parity-tested exactly), while per-leg scores are
prefix-relative: a leg's score equals ``flow_anomaly`` run over the
stream's prefix through its batch (also parity-tested exactly).
Event-time order across batches is the input contract (the
stops/cotravel convention) — a fix older than its track's carried
last would fabricate an out-of-order leg.

Alerts: a leg lands in the alert table when its cell has real
support (``min_support`` legs) and it reads anomalous —
``cos_sim <= alert_cos_below`` (cutting against flow) or
``speed_ratio >= alert_ratio_above`` (blowing past it).  Legs are
unique (one per consecutive fix pair), so alert-once needs no
cross-batch memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geomesa_spark.operators.tracks import (
    FLOW_COS_SQL,
    FLOW_MAGR_SQL,
    FLOW_MEAN_SQL,
    _cell_legs,
)
from geomesa_spark.sources.tableio import (
    ParquetVersionedIO,
    read_newest_version,
)
from geomesa_spark.streaming.upsert import start_foreach_batch

__all__ = ["flow_stream", "read_flow_field_now"]

_FIELD_COLS = ["x", "y", "n_legs", "sum_dt_s", "sum_fp_dx", "sum_fp_dy"]


def _to_es(df: DataFrame, ts_col: str) -> DataFrame:
    es = (
        F.unix_timestamp(F.col(ts_col))
        if dict(df.dtypes)[ts_col].startswith("timestamp")
        else F.col(ts_col).cast("long")
    )
    return df.withColumn("_es_n", es)


def _batch_flow(
    batch_df: DataFrame,
    prev_field: DataFrame | None,
    prev_last: DataFrame | None,
    track_col: str,
    ts_col: str,
    lon_col: str,
    lat_col: str,
    bits: int,
    fp_scale: int,
    max_gap_s: int | None,
    last_ttl_s: int | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One micro-batch of ``flow_stream`` without its I/O: the legs
    that close in this batch, the field merged with their sums, and
    each track's newest fix.  Returns (legs, field, last)."""
    pts = _to_es(batch_df, ts_col).select(
        F.col(track_col).alias("_t"),
        F.col("_es_n").alias("_e"),
        F.col(lon_col).alias("_x"),
        F.col(lat_col).alias("_y"),
    )
    if prev_last is not None:
        pts = pts.unionByName(
            prev_last.select(
                F.col("track").alias("_t"), F.col("es").alias("_e"),
                F.col("lon").alias("_x"), F.col("lat").alias("_y"),
            )
        )
    pts = pts.localCheckpoint(eager=False)
    # legs close over carried ∪ batch: the carried fix had no
    # successor in its own batch, so every leg here is new
    legs = _cell_legs(
        pts, "_t", "_e", "_x", "_y", bits, fp_scale, max_gap_s,
        tiebreak_col=None,
    ).localCheckpoint(eager=False)
    delta = legs.groupBy("x", "y").agg(
        F.count("*").cast("long").alias("n_legs"),
        F.sum("_dt").cast("long").alias("sum_dt_s"),
        F.sum("_fdx").alias("sum_fp_dx"),
        F.sum("_fdy").alias("sum_fp_dy"),
    )
    if prev_field is not None:
        field = (
            prev_field.select(
                "x", "y",
                F.col("n_legs").alias("_pn"),
                F.col("sum_dt_s").alias("_pd"),
                F.col("sum_fp_dx").alias("_px"),
                F.col("sum_fp_dy").alias("_py"),
            )
            .join(delta, ["x", "y"], "full_outer")
            .select(
                "x", "y",
                *[
                    (F.coalesce(F.col(a), F.lit(0))
                     + F.coalesce(F.col(b), F.lit(0)))
                    .cast("long").alias(b)
                    for a, b in (
                        ("_pn", "n_legs"), ("_pd", "sum_dt_s"),
                        ("_px", "sum_fp_dx"), ("_py", "sum_fp_dy"),
                    )
                ],
            )
        )
    else:
        field = delta

    # carried state: each track's newest fix (max by es; equal
    # timestamps within one batch are the caller's contract)
    last = (
        pts.groupBy(F.col("_t").alias("track"))
        .agg(
            F.max(
                F.struct(
                    F.col("_e").alias("es"),
                    F.col("_x").alias("lon"),
                    F.col("_y").alias("lat"),
                )
            ).alias("_m")
        )
        .select(
            "track", F.col("_m.es").alias("es"),
            F.col("_m.lon").alias("lon"), F.col("_m.lat").alias("lat"),
        )
    )
    if last_ttl_s is not None:
        horizon = F.broadcast(last.agg(F.max("es").alias("_hz")))
        last = (
            last.crossJoin(horizon)
            .filter(F.col("es") >= F.col("_hz") - F.lit(int(last_ttl_s)))
            .drop("_hz")
        )
    return legs, field.select(*_FIELD_COLS), last


def flow_stream(
    stream: DataFrame,
    track_col: str,
    ts_col: str,
    alerts_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    bits: int = 6,
    fp_scale: int = 1_000_000,
    max_gap_s: int | None = None,
    min_support: int = 10,
    alert_cos_below: float = 0.0,
    alert_ratio_above: float | None = None,
    last_ttl_s: int | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Run the continuous flow-anomaly monitor; returns the
    StreamingQuery.  Anomalous legs land under `alerts_dir`
    (``tableio.read_all_versions``); the accumulated field and
    per-track last fixes live under `state_dir`
    (``read_flow_field_now`` serves the live field)."""
    spark = stream.sparkSession
    field_io = ParquetVersionedIO(spark, f"{state_dir}/field")
    last_io = ParquetVersionedIO(spark, f"{state_dir}/last")
    alert_io = ParquetVersionedIO(spark, alerts_dir)

    def step(batch_df: DataFrame, batch_id: int) -> None:
        legs, field, last = _batch_flow(
            batch_df,
            field_io.read_latest(before=batch_id),
            last_io.read_latest(before=batch_id),
            track_col, ts_col, lon_col, lat_col, bits, fp_scale,
            max_gap_s, last_ttl_s,
        )
        field_io.write_version(field, batch_id)

        # score this batch's legs against the COMMITTED field —
        # leave-one-out, identical strings to the batch operator
        fld = F.broadcast(field_io.read_version(batch_id))
        fmt = dict(fx="_fdx", fy="_fdy", SX="sum_fp_dx",
                   SY="sum_fp_dy", dt="_dt", SD="sum_dt_s")
        scored = (
            legs.join(fld, ["x", "y"])
            .select(
                F.col("_trk").alias("track"),
                F.col("_es").alias("es"),
                "x", "y",
                F.col("_dt").alias("dt_s"),
                F.col("_fdx").alias("fp_dx"),
                F.col("_fdy").alias("fp_dy"),
                F.col("n_legs").alias("n_cell_legs"),
                F.expr(FLOW_COS_SQL.format(**fmt)).alias("cos_sim"),
                F.expr(FLOW_MAGR_SQL.format(**fmt)).alias("speed_ratio"),
            )
        )
        cond = (
            F.col("cos_sim").isNotNull()
            & (F.col("cos_sim") <= F.lit(float(alert_cos_below)))
        )
        if alert_ratio_above is not None:
            cond = cond | (
                F.col("speed_ratio").isNotNull()
                & (F.col("speed_ratio") >= F.lit(float(alert_ratio_above)))
            )
        alerts = scored.filter(
            (F.col("n_cell_legs") >= F.lit(int(min_support))) & cond
        ).withColumn("batch_id", F.lit(int(batch_id)))
        alert_io.write_version(alerts, batch_id)
        last_io.write_version(last, batch_id)

    return start_foreach_batch(
        stream, step, checkpoint_dir, available_now, processing_time
    )


def _with_means(field: DataFrame) -> DataFrame:
    """Field state plus its mean velocity columns, as ``flow_field``
    returns them (same FLOW_MEAN_SQL division)."""
    return field.withColumns(
        {
            "u_fp": F.expr(FLOW_MEAN_SQL.format(X="sum_fp_dx", D="sum_dt_s")),
            "v_fp": F.expr(FLOW_MEAN_SQL.format(X="sum_fp_dy", D="sum_dt_s")),
        }
    )


def read_flow_field_now(spark: SparkSession, state_dir: str) -> DataFrame:
    """Live view: the accumulated flow field — equal to the batch
    ``flow_field`` over every point seen so far for an in-order
    stream (same int64 sums, same FLOW_MEAN_SQL division)."""
    return _with_means(read_newest_version(spark, f"{state_dir}/field"))
