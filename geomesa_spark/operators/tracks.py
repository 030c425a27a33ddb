"""Track dynamics: per-leg motion metrics and per-track summaries.

The reference assembles per-entity point sequences in two places —
``Point2PointProcess.scala:26-111`` (group by an attribute, sort by a
Date field, connect consecutive points into line segments, optionally
breaking on day marks) and the tube-select track builder
(``TubeBuilder.scala``, transform/buffer over a sorted track) — but
stops at geometry construction.  These operators extend that surface
with the motion quantities a trajectory pipeline derives from the
same (group, sort) shape: per-leg distance, elapsed time, speed,
bearing, and cumulative distance, plus a one-row-per-track rollup.

Scale design: everything is ONE shuffle on the track key.
``track_metrics`` is a single window ``partitionBy(track)
orderBy(ts, tiebreak)`` — per-track cost is the sort of that track's
own rows, a hot track never multiplies against anything else.
``track_summary`` groups on the same key, so when composed on top of
``track_metrics`` Catalyst reuses the window's hash partitioning and
the groupBy adds NO second Exchange (asserted in
tests/test_tracks.py).  No Python appears in any physical plan.

Determinism: ``metric="planar"`` legs are sqrt of the exact-double
planar dist2 — +, *, /, sqrt are all IEEE correctly-rounded, so the
values reproduce bit-for-bit on any engine (the knn/dwithin gate
convention; this is the oracle mode).  ``metric="haversine"`` is the
geodesic production mode (``geometry_sql.haversine_m_col``, same
sphere as the reference's GeoTools paths) — trig libm differences
make it tolerance-tested rather than hash-gated.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geomesa_spark.functions import cells as C
from geomesa_spark.functions import geometry_sql as GS

__all__ = [
    "track_metrics", "track_summary", "track_trips", "od_flows",
    "stop_detect", "track_resample", "frequent_places", "speed_filter",
    "flow_field", "flow_anomaly", "FLOW_MEAN_SQL", "FLOW_COS_SQL",
    "FLOW_MAGR_SQL", "TRK_DLON_SQL", "LON_NORM_SQL",
    "lon_interp_sql", "stop_center_sql",
]


# Consecutive-fix longitude delta with the engine's IDL inference
# (GeohashUtils.scala:715-719 parity: a raw diff beyond 180° is a
# dateline wrap, exactly 180 stays planar).  Exact arithmetic — one
# subtraction plus at most one ±360.0 — so Spark and the DuckDB
# oracle produce bit-equal doubles from the same string.
#
# Scope: this applies to DISPLACEMENT/INTERPOLATION quantities
# (flow_field, track_resample, stop centers), which have no geodesic
# fallback.  The planar DISTANCE metric (_leg_dist / point_dist2_col)
# deliberately stays flat-earth: it is the exact-double oracle mode,
# and the wrap-safe production metric there is 'haversine' (whose
# trig is periodic in Δλ).
TRK_DLON_SQL = (
    "CASE WHEN ({b}) - ({a}) > 180.0 THEN (({b}) - ({a})) - 360.0"
    " WHEN ({b}) - ({a}) < -180.0 THEN (({b}) - ({a})) + 360.0"
    " ELSE ({b}) - ({a}) END"
)

# normalize a (possibly unwrapped) longitude into [-180, 180) —
# fmod is exact, so both engines agree bit-for-bit
LON_NORM_SQL = "((({v}) + 180.0) % 360.0 + 360.0) % 360.0 - 180.0"


def lon_interp_sql(p: str, n: str, frac: str) -> str:
    """Wrap-aware lon interpolation as ONE shared SQL string: when the
    segment's raw lon diff exceeds 180° (an inferred IDL wrap) the
    interpolation runs on the wrapped delta and renormalizes; otherwise
    it is the original exact-double form p + (n - p) * frac,
    bit-identical to the planar path."""
    d = TRK_DLON_SQL.format(a=p, b=n)
    wrapped = LON_NORM_SQL.format(v=f"({p}) + ({d}) * ({frac})")
    return (
        f"CASE WHEN (({n}) - ({p})) > 180.0 OR (({n}) - ({p})) < -180.0"
        f" THEN {wrapped}"
        f" ELSE ({p}) + (({n}) - ({p})) * ({frac}) END"
    )


def stop_center_sql(lo: str, hi: str, lp: str, hn: str) -> str:
    """Stop-center longitude as ONE shared SQL string: the bbox
    midpoint, IDL-aware.  A stop whose raw lon span exceeds 180°
    straddles the dateline (lons in [-180, 180] can only span >180 by
    wrapping), so the midpoint runs in shifted coordinates — min over
    the positive lons ({lp}) to max over the negative lons + 360
    ({hn}) — and renormalizes.  Exact arithmetic both engines."""
    mid = f"(({lp}) + (({hn}) + 360.0)) / 2.0"
    return (
        f"CASE WHEN ({hi}) - ({lo}) > 180.0"
        f" THEN {LON_NORM_SQL.format(v=mid)}"
        f" ELSE (({lo}) + ({hi})) / 2.0 END"
    )


def _leg_dist(
    metric: str, lon0: Column, lat0: Column, lon1: Column, lat1: Column
) -> Column:
    if metric == "planar":
        dx = lon1 - lon0
        dy = lat1 - lat0
        return F.sqrt(dx * dx + dy * dy)
    if metric == "haversine":
        return GS.haversine_m_col(lon0, lat0, lon1, lat1)
    raise ValueError(f"metric must be 'planar' or 'haversine', got {metric!r}")


def track_metrics(
    df: DataFrame,
    track_col: str,
    ts_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    metric: str = "haversine",
    tiebreak_col: str | None = None,
    bearing: bool = False,
) -> DataFrame:
    """Append per-point motion columns to a point-track frame:

    - ``seq``        — 1-based position within the track (by ts);
    - ``leg_dist``   — distance from the previous point (meters for
      ``haversine``, coordinate units for ``planar``; 0.0 at seq 1);
    - ``dt_s``       — whole seconds since the previous point (0 at
      seq 1; sub-second gaps floor to 0);
    - ``speed``      — leg_dist / dt_s where dt_s > 0, else NULL;
    - ``cum_dist``   — running distance from the track start;
    - ``bearing_deg`` (``bearing=True``, haversine only) — initial
      great-circle bearing from the previous point, [0, 360).

    `tiebreak_col` breaks equal timestamps deterministically (default:
    the track's rows must have unique ts, or pass an id column — the
    same contract as Point2PointProcess's sortBy, which is silently
    unstable on ties)."""
    order = [F.col(ts_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(track_col).orderBy(*order)
    plon = F.lag(lon_col).over(w)
    plat = F.lag(lat_col).over(w)
    leg = F.when(
        plon.isNull(), F.lit(0.0)
    ).otherwise(_leg_dist(metric, plon, plat, F.col(lon_col), F.col(lat_col)))
    ticks = (
        F.unix_timestamp(F.col(ts_col))
        if dict(df.dtypes)[ts_col].startswith("timestamp")
        else F.col(ts_col).cast("long")
    )
    pticks = F.lag(ticks).over(w)
    dt = F.when(pticks.isNull(), F.lit(0)).otherwise(ticks - pticks)
    out = (
        df.withColumn("seq", F.row_number().over(w))
        .withColumn("leg_dist", leg)
        .withColumn("dt_s", dt.cast("long"))
        .withColumn(
            "speed",
            F.when(F.col("dt_s") > 0, F.col("leg_dist") / F.col("dt_s")),
        )
        .withColumn(
            "cum_dist",
            F.sum("leg_dist").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    if bearing:
        if metric != "haversine":
            raise ValueError("bearing requires metric='haversine'")
        rl1 = F.radians(plat)
        rl2 = F.radians(F.col(lat_col))
        dlon = F.radians(F.col(lon_col) - plon)
        y = F.sin(dlon) * F.cos(rl2)
        x = F.cos(rl1) * F.sin(rl2) - F.sin(rl1) * F.cos(rl2) * F.cos(dlon)
        out = out.withColumn(
            "bearing_deg",
            F.when(
                plon.isNotNull(),
                F.pmod(F.degrees(F.atan2(y, x)) + F.lit(360.0), F.lit(360.0)),
            ),
        )
    return out


def track_summary(
    df: DataFrame,
    track_col: str,
    ts_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    metric: str = "haversine",
    tiebreak_col: str | None = None,
    fp_scale: int | None = None,
) -> DataFrame:
    """One row per track: point count, time span, total distance,
    mean speed over the moving time, and the track's bbox.

    Composes ``track_metrics`` then groups on the SAME key, so the
    aggregation reuses the window's partitioning — one Exchange total
    (asserted in tests).  ``avg_speed`` is total distance over total
    elapsed seconds (NULL for single-point or zero-duration tracks) —
    the time-weighted mean, not the mean of per-leg speeds.

    ``fp_scale`` adds ``total_dist_fp`` = sum of floor(leg *
    fp_scale) as int64 — float sums depend on partition merge order,
    so this is the column to use when the rollup must reproduce
    bit-for-bit across retries/layouts/engines (the heatmap
    fixed-point convention)."""
    m = track_metrics(
        df, track_col, ts_col, lon_col, lat_col, metric, tiebreak_col
    )
    extra = []
    if fp_scale is not None:
        m = m.withColumn(
            "_leg_fp",
            F.floor(F.col("leg_dist") * F.lit(float(fp_scale))).cast("long"),
        )
        extra.append(F.sum("_leg_fp").cast("long").alias("total_dist_fp"))
    agg = (
        m.groupBy(track_col)
        .agg(
            *extra,
            F.count("*").cast("long").alias("n_points"),
            F.min(ts_col).alias("start_ts"),
            F.max(ts_col).alias("end_ts"),
            F.sum("leg_dist").alias("total_dist"),
            F.sum("dt_s").cast("long").alias("duration_s"),
            F.min(lon_col).alias("min_lon"),
            F.max(lon_col).alias("max_lon"),
            F.min(lat_col).alias("min_lat"),
            F.max(lat_col).alias("max_lat"),
        )
        .withColumn(
            "avg_speed",
            F.when(
                F.col("duration_s") > 0,
                F.col("total_dist") / F.col("duration_s"),
            ),
        )
    )
    return agg


def track_trips(
    df: DataFrame,
    track_col: str,
    ts_col: str,
    gap_seconds: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Split each track into TRIPS at dwell gaps longer than
    `gap_seconds` (``sample.sessionize`` on the track key) and roll
    each trip up to one row: origin/destination point and time,
    point count, and duration.

    Endpoint selection is a deterministic min/max of
    struct(epoch, tiebreak, lon, lat) — a map-side-combinable
    aggregate on the SAME key partitioning the sessionize window
    already produced, so the whole operator is one shuffle on the
    track key.  Returns (track, trip_id, o_ts, o_lon, o_lat, d_ts,
    d_lon, d_lat, n_points, duration_s)."""
    from geomesa_spark.operators.sample import sessionize

    if dict(df.dtypes)[ts_col].startswith("timestamp"):
        es = F.unix_timestamp(F.col(ts_col))
        s = sessionize(df, track_col, ts_col, gap_seconds,
                       session_col="_trip")
    else:
        # sessionize's gap math needs a timestamp column; epoch
        # seconds convert losslessly (ordering identical)
        es = F.col(ts_col).cast("long")
        s = sessionize(
            df.withColumn("_tts", F.timestamp_seconds(es)),
            track_col, "_tts", gap_seconds, session_col="_trip",
        ).drop("_tts")
    tie = (
        [F.col(tiebreak_col)] if tiebreak_col is not None else []
    )
    point = lambda: [es.alias("es"), *tie, F.col(lon_col).alias("plon"),
                     F.col(lat_col).alias("plat")]  # noqa: E731
    agg = (
        s.groupBy(
            F.col(track_col).alias("track"),
            F.col("_trip").alias("trip_id"),
        )
        .agg(
            F.min(F.struct(*point())).alias("_o"),
            F.max(F.struct(*point())).alias("_d"),
            F.count("*").cast("long").alias("n_points"),
        )
        .select(
            "track", "trip_id",
            F.col("_o.es").alias("o_ts"),
            F.col("_o.plon").alias("o_lon"),
            F.col("_o.plat").alias("o_lat"),
            F.col("_d.es").alias("d_ts"),
            F.col("_d.plon").alias("d_lon"),
            F.col("_d.plat").alias("d_lat"),
            "n_points",
            (F.col("_d.es") - F.col("_o.es")).cast("long").alias("duration_s"),
        )
    )
    return agg


def od_flows(
    trips: DataFrame,
    bits: int = 6,
    time_bucket_s: int | None = None,
) -> DataFrame:
    """Origin-destination flow matrix over ``track_trips`` output:
    trips aggregated onto (origin cell, destination cell[, departure
    time bucket]) with trip counts — the classic mobility rollup
    (flows between city cells per hour).

    One partial-aggregated groupBy; output is bounded by
    (4^bits)² × buckets, not trip count.  Returns (ox, oy, dx, dy
    [, tb], n_trips)."""
    keys = [
        C.lon_to_x(F.col("o_lon"), bits).alias("ox"),
        C.lat_to_y(F.col("o_lat"), bits).alias("oy"),
        C.lon_to_x(F.col("d_lon"), bits).alias("dx"),
        C.lat_to_y(F.col("d_lat"), bits).alias("dy"),
    ]
    if time_bucket_s is not None:
        keys.append(
            F.floor(F.col("o_ts") / F.lit(time_bucket_s))
            .cast("long")
            .alias("tb")
        )
    return (
        trips.groupBy(*keys)
        .agg(F.count("*").cast("long").alias("n_trips"))
    )


def stop_detect(
    df: DataFrame,
    track_col: str,
    ts_col: str,
    radius: float,
    min_duration_s: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    metric: str = "haversine",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Stop (dwell) detection: maximal runs of consecutive track
    points that each moved <= `radius` from their predecessor,
    lasting >= `min_duration_s` — the stay-point mining step of every
    trajectory pipeline (home/work inference, port calls, dwell
    analytics).

    Gaps-and-islands (``_stop_segments``, which ``streaming/stops``
    shares): a point ANCHORS a new segment when its leg exceeds the
    radius (or it opens the track); the running count of anchors is
    the segment id; segments reduce to (start/end time, span, point
    count, bbox center).  Everything runs in the windows' track-key
    partitioning plus one same-key groupBy — one shuffle total, no
    Python.

    The run-based criterion is the classic SQL-tractable
    approximation of Li et al. stay points (which re-anchor on the
    stop's FIRST point): a slow drift whose every step is under the
    radius counts as one stop even if it wanders far in total —
    size `radius` for inter-fix noise, not stop diameter.  Center is
    the bbox midpoint (deterministic; a float centroid mean would be
    merge-order dependent), IDL-aware: a stop whose raw lon span
    exceeds 180° straddles the dateline and midpoints in shifted
    coordinates (``stop_center_sql``), so a port call at ±179.9°
    centers near the dateline instead of at lon 0.

    Returns (track, stop_id, start_ts, end_ts, duration_s, n_points,
    center_lon, center_lat)."""
    return (
        _stop_segments(
            df, track_col, ts_col, radius, lon_col, lat_col, metric,
            tiebreak_col,
        )
        .select("track", F.col("_seg").alias("stop_id"), *_stop_row())
        .filter(F.col("duration_s") >= F.lit(int(min_duration_s)))
    )


def _stop_segments(
    df: DataFrame,
    track_col: str,
    ts_col: str,
    radius: float,
    lon_col: str,
    lat_col: str,
    metric: str,
    tiebreak_col: str | None,
    carried: DataFrame | None = None,
) -> DataFrame:
    """The gaps-and-islands core of ``stop_detect`` and
    ``streaming/stops``: a point ANCHORS a new segment when its leg
    from its predecessor exceeds `radius` (or it has none); the
    running anchor count per track is the segment id ``_seg``.

    `carried` (track, last_lon, last_lat) supplies each track's
    predecessor from an earlier micro-batch: a first point within
    `radius` of it does not anchor, so its run is ``_seg`` 0 and
    continues the carried segment.  Without it ``_seg`` counts from 1.

    Returns one row per (track, _seg) with the columns ``_stop_row``
    reads: seg_start / last_es (epoch seconds), seg_n, the bbox
    lo_x/hi_x/lo_y/hi_y, and lo_pos / hi_neg (min positive / max
    negative lon, the IDL straddle inputs)."""
    order = [F.col("_ts").asc()]
    if tiebreak_col is not None:
        order.append(F.col("_tb").asc())
    w = Window.partitionBy("track").orderBy(*order)
    es = (
        F.unix_timestamp(F.col(ts_col))
        if dict(df.dtypes)[ts_col].startswith("timestamp")
        else F.col(ts_col).cast("long")
    )
    pts = df.select(
        F.col(track_col).alias("track"),
        F.col(ts_col).alias("_ts"),
        *([F.col(tiebreak_col).alias("_tb")] if tiebreak_col else []),
        es.alias("es"),
        F.col(lon_col).alias("lon"),
        F.col(lat_col).alias("lat"),
    )
    # only a track's FIRST point anchors for lack of a predecessor; a
    # NULL coordinate elsewhere makes a NULL leg, which never anchors
    first = F.row_number().over(w) == 1
    plon = F.lag("lon").over(w)
    plat = F.lag("lat").over(w)
    if carried is not None:
        pts = pts.join(
            carried.select(
                "track",
                F.col("last_lon").alias("_clon"),
                F.col("last_lat").alias("_clat"),
            ),
            "track", "left",
        )
        plon = F.when(first, F.col("_clon")).otherwise(plon)
        plat = F.when(first, F.col("_clat")).otherwise(plat)
        first = first & F.col("_clon").isNull()
    leg = _leg_dist(metric, plon, plat, F.col("lon"), F.col("lat"))
    anchor = F.when(
        first | (leg > F.lit(float(radius))), F.lit(1)
    ).otherwise(F.lit(0))
    seg = F.sum("_anchor").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        pts.withColumn("_anchor", anchor)
        .withColumn("_seg", seg.cast("long"))
        .groupBy("track", "_seg")
        .agg(
            F.min("es").cast("long").alias("seg_start"),
            F.max("es").cast("long").alias("last_es"),
            F.count("*").cast("long").alias("seg_n"),
            F.min("lon").alias("lo_x"),
            F.max("lon").alias("hi_x"),
            F.min("lat").alias("lo_y"),
            F.max("lat").alias("hi_y"),
            F.min(F.when(F.col("lon") >= 0, F.col("lon"))).alias("lo_pos"),
            F.max(F.when(F.col("lon") < 0, F.col("lon"))).alias("hi_neg"),
        )
    )


def _stop_row() -> list[Column]:
    """A segment aggregate (``_stop_segments`` output, or the stream's
    carried open segment) as stop columns: start/end/duration, point
    count, and the IDL-aware bbox-midpoint center."""
    c = F.col
    return [
        c("seg_start").cast("long").alias("start_ts"),
        c("last_es").cast("long").alias("end_ts"),
        (c("last_es") - c("seg_start")).cast("long").alias("duration_s"),
        c("seg_n").cast("long").alias("n_points"),
        F.expr(
            stop_center_sql("lo_x", "hi_x", "lo_pos", "hi_neg")
        ).alias("center_lon"),
        ((c("lo_y") + c("hi_y")) / F.lit(2.0)).alias("center_lat"),
    ]


def track_resample(
    df: DataFrame,
    track_col: str,
    ts_col: str,
    step_s: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    value_cols: list[str] | None = None,
    tiebreak_col: str | None = None,
    max_gap_s: int | None = None,
) -> DataFrame:
    """Resample each track onto the regular time grid t = k*step_s,
    linearly interpolating position (and any `value_cols`) between
    the bracketing fixes — the alignment step before comparing or
    joining tracks point-for-point (co-travel scoring, grid rollups,
    model features at fixed cadence).

    Each segment (p_i, p_{i+1}) OWNS the grid ticks in the half-open
    interval (es_i, es_{i+1}]; the track's first point additionally
    owns its own tick when exactly aligned.  Every grid tick inside
    [first, last] therefore materializes exactly once, with no
    distinct pass — the stop_detect/cooccur single-owner convention
    applied to time.  Zero-length segments (duplicate timestamps)
    own no ticks.  `max_gap_s` refuses to hallucinate positions
    across long outages: segments with dt > max_gap_s own nothing.

    All JVM: one track window for lead(), one sequence() explode
    whose fan-out per segment is dt/step_s (the caller's cadence
    choice bounds the blow-up; a year-long gap at 1 Hz is the
    pathological case and exactly what max_gap_s is for).

    Interpolation is the exact-double form p + (n - p) * frac with
    frac = (t - es_i) / dt — reproducible against any engine with
    IEEE arithmetic.  Longitude is wrap-aware (``lon_interp_sql``):
    a segment whose raw lon diff exceeds 180° is an inferred IDL
    crossing, so its ticks interpolate the short way and renormalize
    into [-180, 180); non-wrap segments are bit-identical to the
    plain form.  Returns (track, tick_ts, lon, lat, *value_cols)
    with tick_ts in epoch seconds."""
    if step_s <= 0:
        raise ValueError("step_s must be positive")
    return _grid_ticks(
        df, track_col, ts_col, step_s,
        [lon_col, lat_col] + list(value_cols or []),
        tiebreak_col, max_gap_s,
    )


def _grid_ticks(
    df: DataFrame,
    track_col: str,
    ts_col: str,
    step_s: int,
    cols: list[str],
    tiebreak_col: str | None,
    max_gap_s: int | None,
    carried: DataFrame | None = None,
) -> DataFrame:
    """``track_resample``'s tick ownership and interpolation, shared
    with ``streaming/cotravel``.  `cols` starts with lon, lat.

    `carried` (track, last_ts, last_lon, last_lat) holds each track's
    last fix from an earlier micro-batch.  It joins only tracks that
    have rows in `df`, sorts first at its timestamp, and is a segment
    START only: its own aligned tick was owned by the batch that
    delivered it, so every grid tick materializes in exactly one
    batch."""
    lon_col, lat_col = cols[:2]
    order = [F.col("_ts").asc()]
    if tiebreak_col is not None:
        order.append(F.col("_tb").asc())
    es = (
        F.unix_timestamp(F.col(ts_col))
        if dict(df.dtypes)[ts_col].startswith("timestamp")
        else F.col(ts_col).cast("long")
    )
    pts = df.select(
        F.col(track_col).alias("track"),
        F.col(ts_col).alias("_ts"),
        *([F.col(tiebreak_col).alias("_tb")] if tiebreak_col else []),
        es.alias("_es"),
        *[F.col(c).alias(f"_v_{c}") for c in cols],
    )
    keep = ["track", "_es"]
    if carried is not None:
        types = dict(pts.dtypes)
        pts = pts.withColumn("_carried", F.lit(False)).unionByName(
            carried.join(pts.select("track").distinct(), "track", "left_semi")
            .select(
                "track",
                F.lit(None).cast(types["_ts"]).alias("_ts"),
                *(
                    [F.lit(None).cast(types["_tb"]).alias("_tb")]
                    if tiebreak_col else []
                ),
                F.col("last_ts").cast("long").alias("_es"),
                F.col("last_lon").alias(f"_v_{lon_col}"),
                F.col("last_lat").alias(f"_v_{lat_col}"),
                F.lit(True).alias("_carried"),
            )
        )
        # es is non-decreasing in ts, so (es, ts, tiebreak) is the
        # batch order with the carried fix first at its timestamp
        order = [F.col("_es").asc(), F.col("_carried").desc()] + order
        keep.append("_carried")
    w = Window.partitionBy("track").orderBy(*order)
    seg = pts.select(
        *keep,
        F.row_number().over(w).alias("_seq"),
        *[F.col(f"_v_{c}") for c in cols],
        F.lead("_es").over(w).alias("_nes"),
        *[F.lead(f"_v_{c}").over(w).alias(f"_nv_{c}") for c in cols],
    )
    step = F.lit(int(step_s))
    # ticks owned by this segment: es < k*step <= nes  (plus the
    # first point's own tick when exactly on the grid)
    lo = F.floor(F.col("_es") / step) + F.lit(1)
    hi = F.floor(F.col("_nes") / step)
    own_first = (F.col("_seq") == 1) & (F.pmod(F.col("_es"), step) == 0)
    if carried is not None:
        own_first = own_first & ~F.col("_carried")
    ticks_arr = F.when(
        F.col("_nes").isNull()
        | (hi < lo)
        | (
            F.lit(max_gap_s is not None)
            & ((F.col("_nes") - F.col("_es")) > F.lit(max_gap_s or 0))
        ),
        F.array().cast("array<bigint>"),
    ).otherwise(F.sequence(lo.cast("long"), hi.cast("long")))
    ticks_arr = F.when(
        own_first,
        F.concat(
            F.array((F.col("_es") / step).cast("long")), ticks_arr
        ),
    ).otherwise(ticks_arr)
    ex = seg.select(
        "track", "_es", "_nes",
        *[F.col(f"_v_{c}") for c in cols],
        *[F.col(f"_nv_{c}") for c in cols],
        F.explode(ticks_arr).alias("_k"),
    ).withColumn("_t", F.col("_k") * step).withColumn(
        # the own-first tick (t == es) divides by a possibly-zero dt;
        # the CASE keeps ANSI mode happy and matches the oracle's
        # guard (its frac branch only evaluates when t != es)
        "_frac",
        F.when(F.col("_t") == F.col("_es"), F.lit(0.0)).otherwise(
            (F.col("_t") - F.col("_es")).cast("double")
            / (F.col("_nes") - F.col("_es")).cast("double")
        ),
    )
    frac = F.col("_frac")

    def interp(c):
        p = F.col(f"_v_{c}").cast("double")
        nxt = F.col(f"_nv_{c}").cast("double")
        if c == lon_col:
            # wrap-aware: evaluate the ONE shared string
            # (lon_interp_sql — the oracle runs it verbatim), so the
            # two copies of this logic cannot drift
            body = F.expr(
                lon_interp_sql(
                    f"CAST(`_v_{c}` AS DOUBLE)",
                    f"CAST(`_nv_{c}` AS DOUBLE)",
                    "_frac",
                )
            )
            return F.when(frac == 0.0, p).otherwise(body)
        return F.when(frac == 0.0, p).otherwise(p + (nxt - p) * frac)

    return ex.select(
        "track",
        F.col("_t").alias("tick_ts"),
        *[interp(c).alias(c) for c in cols],
    )


def frequent_places(
    df: DataFrame,
    track_col: str,
    ts_col: str,
    radius: float,
    min_duration_s: int,
    k: int = 3,
    bits: int = 6,
    lon_col: str = "lon",
    lat_col: str = "lat",
    metric: str = "haversine",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Top-k dwell locations per track — the home/work/depot
    inference step: ``stop_detect`` stops land on the grid cell of
    their center, dwell time aggregates per (track, cell), and the
    k heaviest cells win (ties broken by (x, y) — deterministic).

    Composition cost: stop_detect's one shuffle + one same-key-ish
    groupBy (track, x, y) + the rank window on the track key —
    output bounded by k x tracks.

    Returns (track, x, y, n_stops, total_dwell_s, rank)."""
    stops = stop_detect(
        df, track_col, ts_col, radius, min_duration_s,
        lon_col, lat_col, metric, tiebreak_col,
    )
    placed = stops.select(
        "track",
        C.lon_to_x(F.col("center_lon"), bits).alias("x"),
        C.lat_to_y(F.col("center_lat"), bits).alias("y"),
        "duration_s",
    )
    agg = placed.groupBy("track", "x", "y").agg(
        F.count("*").cast("long").alias("n_stops"),
        F.sum("duration_s").cast("long").alias("total_dwell_s"),
    )
    w = Window.partitionBy("track").orderBy(
        F.col("total_dwell_s").desc(), F.col("x").asc(), F.col("y").asc()
    )
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(int(k)))
    )


def speed_filter(
    df: DataFrame,
    track_col: str,
    ts_col: str,
    max_speed: float,
    lon_col: str = "lon",
    lat_col: str = "lat",
    metric: str = "haversine",
    tiebreak_col: str | None = None,
    mode: str = "mark",
) -> DataFrame:
    """GPS teleport filtering: flag (or drop) fixes whose implied
    speed from the PREVIOUS fix exceeds `max_speed` — the standard
    noise gate before any track analytics (a 1000 km/h car fix is a
    multipath ghost, and one ghost poisons legs, stops, and trips).

    This is the ONE-PASS window form: each fix is judged against its
    raw predecessor (speed = leg/dt from ``track_metrics``; dt=0
    duplicates are never flagged — speed is NULL there).  The
    sequential form (drop a ghost, then re-judge the next fix against
    the ghost's predecessor) differs when ghosts cluster; it is
    per-track sequential — compose `simplify_tracks`-style
    applyInPandas if that semantics is required.  One shuffle, no
    Python (plan-asserted in tests).

    mode='mark' returns all rows + boolean `is_ghost`;
    mode='drop' returns surviving rows only (columns unchanged)."""
    if mode not in ("mark", "drop"):
        raise ValueError(f"mode must be 'mark' or 'drop', got {mode!r}")
    m = track_metrics(
        df, track_col, ts_col, lon_col, lat_col, metric, tiebreak_col
    )
    ghost = F.coalesce(
        F.col("speed") > F.lit(float(max_speed)), F.lit(False)
    )
    marked = m.withColumn("is_ghost", ghost).drop(
        "seq", "leg_dist", "dt_s", "speed", "cum_dist"
    )
    if mode == "mark":
        return marked
    return marked.filter(~F.col("is_ghost")).drop("is_ghost")


# mean velocity component: one division of two canonical int64 sums
# (the zonal_stats / idw fixed-point convention) — NULL when the cell
# accumulated no elapsed time (single-fix tracks, all-duplicate ts)
FLOW_MEAN_SQL = (
    "CASE WHEN {D} > 0 THEN CAST({X} AS DOUBLE) / CAST({D} AS DOUBLE) END"
)


def _cell_legs(
    df: DataFrame,
    track_col: str,
    ts_col: str,
    lon_col: str,
    lat_col: str,
    bits: int,
    fp_scale: int,
    max_gap_s: int | None,
    tiebreak_col: str | None,
) -> DataFrame:
    """Per-leg frame shared by flow_field/flow_anomaly: one window on
    the track key, each leg keyed by its ORIGIN point's grid cell
    with exact int64 duration and fixed-point IDL-wrapped
    displacement.  Returns (_trk, _es, x, y, _dt, _fdx, _fdy)."""
    order = [F.col(ts_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(track_col).orderBy(*order)
    es = (
        F.unix_timestamp(F.col(ts_col))
        if dict(df.dtypes)[ts_col].startswith("timestamp")
        else F.col(ts_col).cast("long")
    )
    legs = (
        df.select(
            F.col(track_col).alias("_trk"),
            F.col(lon_col).alias("_lon"),
            F.col(lat_col).alias("_lat"),
            es.alias("_es"),
            F.lead(F.col(lon_col)).over(w).alias("_nlon"),
            F.lead(F.col(lat_col)).over(w).alias("_nlat"),
            F.lead(es).over(w).alias("_nes"),
        )
        .filter(F.col("_nes").isNotNull())
    )
    if max_gap_s is not None:
        legs = legs.filter(
            F.col("_nes") - F.col("_es") <= F.lit(int(max_gap_s))
        )
    fp = F.lit(float(fp_scale))
    return legs.select(
        "_trk",
        "_es",
        C.lon_to_x(F.col("_lon"), bits).alias("x"),
        C.lat_to_y(F.col("_lat"), bits).alias("y"),
        (F.col("_nes") - F.col("_es")).alias("_dt"),
        F.floor(
            F.expr(TRK_DLON_SQL.format(a="_lon", b="_nlon")) * fp
        ).cast("long").alias("_fdx"),
        F.floor((F.col("_nlat") - F.col("_lat")) * fp)
        .cast("long").alias("_fdy"),
    )


def flow_field(
    df: DataFrame,
    track_col: str,
    ts_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    bits: int = 6,
    fp_scale: int = 1_000_000,
    max_gap_s: int | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Aggregate motion per grid cell — the traffic flow map: every
    leg (consecutive fixes of one track) contributes its planar
    displacement components and duration to its ORIGIN point's cell,
    so each cell reads as a mean velocity vector (which way and how
    fast traffic moves through it).

    One window on the track key (the track_metrics partitioning) +
    one partial-aggregated groupBy onto cells — output bounded by
    4^bits, never corpus size. Determinism: n_legs / elapsed seconds
    exact int64; displacement sums are fixed-point
    Σ floor(Δdeg·fp_scale) (merge-order-independent); the mean
    velocity components are ONE division of those canonical integers
    (``FLOW_MEAN_SQL``), in fp-scaled degrees/second.

    `max_gap_s` drops legs spanning tracking outages (the
    track_resample rule: a 2-day hole is not a velocity).  Legs with
    dt_s = 0 (duplicate timestamps) contribute displacement but no
    time, matching the exact-integer mean.  Lon displacement applies
    the IDL inference (``TRK_DLON_SQL``): a leg crossing the dateline
    contributes its short-way delta, not ±360°-ish garbage.

    Returns (x, y, n_legs, sum_dt_s, sum_fp_dx, sum_fp_dy, u_fp,
    v_fp)."""
    out = (
        _cell_legs(
            df, track_col, ts_col, lon_col, lat_col, bits, fp_scale,
            max_gap_s, tiebreak_col,
        )
        .groupBy("x", "y")
        .agg(
            F.count("*").cast("long").alias("n_legs"),
            F.sum("_dt").cast("long").alias("sum_dt_s"),
            F.sum("_fdx").alias("sum_fp_dx"),
            F.sum("_fdy").alias("sum_fp_dy"),
        )
    )
    return out.withColumns(
        {
            "u_fp": F.expr(FLOW_MEAN_SQL.format(X="sum_fp_dx", D="sum_dt_s")),
            "v_fp": F.expr(FLOW_MEAN_SQL.format(X="sum_fp_dy", D="sum_dt_s")),
        }
    )


# cosine between a leg's displacement and its cell's LEAVE-ONE-OUT
# aggregate displacement (the leg's own contribution subtracted in
# exact int64 before any float op). NULL when either vector is zero.
# Products run in doubles (int64 cross-products can exceed 2^63);
# both engines execute the identical IEEE sequence.
FLOW_COS_SQL = (
    "CASE WHEN ({fx} <> 0 OR {fy} <> 0)"
    " AND ({SX} - {fx} <> 0 OR {SY} - {fy} <> 0)"
    " THEN (CAST({fx} AS DOUBLE) * CAST({SX} - {fx} AS DOUBLE)"
    " + CAST({fy} AS DOUBLE) * CAST({SY} - {fy} AS DOUBLE))"
    " / (sqrt(CAST({fx} AS DOUBLE) * CAST({fx} AS DOUBLE)"
    " + CAST({fy} AS DOUBLE) * CAST({fy} AS DOUBLE))"
    " * sqrt(CAST({SX} - {fx} AS DOUBLE) * CAST({SX} - {fx} AS DOUBLE)"
    " + CAST({SY} - {fy} AS DOUBLE) * CAST({SY} - {fy} AS DOUBLE))) END"
)

# leg speed over the cell's leave-one-out mean speed — cross-
# multiplied so it is one division of exact-int-derived doubles;
# NULL when the leg is instantaneous (dt=0), the rest of the cell
# carries no time, or the LOO vector is zero.
FLOW_MAGR_SQL = (
    "CASE WHEN {dt} > 0 AND {SD} - {dt} > 0"
    " AND ({SX} - {fx} <> 0 OR {SY} - {fy} <> 0)"
    " THEN (sqrt(CAST({fx} AS DOUBLE) * CAST({fx} AS DOUBLE)"
    " + CAST({fy} AS DOUBLE) * CAST({fy} AS DOUBLE))"
    " * CAST({SD} - {dt} AS DOUBLE))"
    " / (CAST({dt} AS DOUBLE)"
    " * sqrt(CAST({SX} - {fx} AS DOUBLE) * CAST({SX} - {fx} AS DOUBLE)"
    " + CAST({SY} - {fy} AS DOUBLE) * CAST({SY} - {fy} AS DOUBLE))) END"
)


def flow_anomaly(
    df: DataFrame,
    track_col: str,
    ts_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    bits: int = 6,
    fp_scale: int = 1_000_000,
    max_gap_s: int | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Score every leg against its cell's aggregate motion — the
    anomalous-mover detector on top of ``flow_field``: a vessel
    cutting across the shipping lane (cos_sim << 1) or running at 5×
    the local traffic speed (speed_ratio >> 1) surfaces per leg.

    The cell statistics are LEAVE-ONE-OUT — each leg's own int64
    contribution is subtracted exactly before comparison, so a leg
    never vouches for itself (and a cell's only leg scores NULL
    instead of a perfect 1.0).  Costs the flow_field window + ONE
    join of legs against the bounded field frame (4^bits rows —
    broadcast up to bits=10, shuffle join above).  Determinism: the
    scores are the shared ``FLOW_COS_SQL`` / ``FLOW_MAGR_SQL``
    strings over exact int64 leg and cell sums.

    Returns (track, es, x, y, dt_s, fp_dx, fp_dy, n_cell_legs,
    cos_sim, speed_ratio) — one row per leg, es = the leg's origin
    fix (epoch seconds)."""
    legs = _cell_legs(
        df, track_col, ts_col, lon_col, lat_col, bits, fp_scale,
        max_gap_s, tiebreak_col,
    ).localCheckpoint(eager=False)  # two consumers (field build +
    # probe side) share one execution of the track window
    field = legs.groupBy("x", "y").agg(
        F.count("*").cast("long").alias("n_cell_legs"),
        F.sum("_dt").cast("long").alias("_sd"),
        F.sum("_fdx").alias("_sx"),
        F.sum("_fdy").alias("_sy"),
    )
    f = F.broadcast(field) if bits <= 10 else field
    fmt = dict(fx="_fdx", fy="_fdy", SX="_sx", SY="_sy",
               dt="_dt", SD="_sd")
    return (
        legs.join(f, ["x", "y"])
        .select(
            F.col("_trk").alias("track"),
            F.col("_es").alias("es"),
            "x", "y",
            F.col("_dt").alias("dt_s"),
            F.col("_fdx").alias("fp_dx"),
            F.col("_fdy").alias("fp_dy"),
            "n_cell_legs",
            F.expr(FLOW_COS_SQL.format(**fmt)).alias("cos_sim"),
            F.expr(FLOW_MAGR_SQL.format(**fmt)).alias("speed_ratio"),
        )
    )
