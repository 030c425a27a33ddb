"""Spatiotemporal co-occurrence: entity pairs close in space AND time.

The classic "who met whom" query — the reference community runs it as
repeated dwithin scans per entity (or falls back to GeoTools
client-side loops); here it is ONE distributed self-join.  Related
engine surfaces: ``proximity_join`` (point × fixed site layer),
``knn_join_df`` (ranked, not thresholded), ``temporal.overlap_join``
(time only).  This operator is the symmetric space×time threshold
join over a single table.

Scale design — the pair never exists before the predicate:

1. Every row gets a (space cell, time bucket) home key: cell width
   >= the spatial radius, bucket width >= the temporal radius, so
   any qualifying pair sits in same-or-adjacent keys.
2. The LEFT alias explodes to its 3×3 neighbor cells (longitude
   wraps at the antimeridian; latitude clamps) × 3 adjacent time
   buckets; the RIGHT alias stays home.  The join is a plain
   equi-join on the composite key.
3. A pair (a < b) matches EXACTLY ONCE — b's home key is unique and
   appears once in a's 27-key explosion — so no distinct pass, no
   double counting (the overlap_join single-meeting-bucket trick
   extended to 3 dimensions).  The id inequality drops mirror and
   self matches before the exact predicate runs.

Cost is sum over composite keys of |cell|², bounded by the densest
(cell × bucket), never corpus² — the radius chooses the cell, so the
caller controls the density bound.  Hot-key skew shows up exactly
like the PIP hot cells and the same remedies apply (smaller cells +
AQE skew join).

Determinism: planar mode is exact-double arithmetic end-to-end
(dist² compare, no sqrt) — the oracle gate mode.  Haversine mode
refines the same candidates with the geodesic predicate;
``meters_to_safe_degrees`` derives a candidate radius in degrees
that conservatively covers `dist_m` up to ``max_abs_lat`` (lon
degrees shrink by cos(lat); beyond the cap the candidate radius is
insufficient — the knn polar-band caveat, documented not hidden).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geomesa_spark.functions import geometry_sql as GS

__all__ = ["cooccurrence_join", "co_travel", "meters_to_safe_degrees"]

# one degree of great-circle arc on the refine sphere (see
# functions/geometry.py DEG_M): 2*pi*R/360 for R=6371008.8
_DEG_M = 111195.0802340276


def meters_to_safe_degrees(dist_m: float, max_abs_lat: float = 85.0) -> float:
    """Smallest degree radius whose cell grid still covers `dist_m`
    at |lat| <= max_abs_lat: meters -> arc degrees, divided by the
    worst-case cos(lat) for the longitude axis."""
    if not 0.0 <= max_abs_lat < 90.0:
        raise ValueError("max_abs_lat must be in [0, 90)")
    return dist_m / _DEG_M / math.cos(math.radians(max_abs_lat))


def cooccurrence_join(
    df: DataFrame,
    dist_deg: float,
    time_eps_s: int,
    id_col: str,
    ts_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    metric: str = "planar",
    dist_m: float | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with |Δposition| <= radius and
    |Δt| <= time_eps_s seconds.

    `dist_deg` drives BOTH candidate generation and, for
    metric='planar', the exact predicate (squared-degree compare —
    exact doubles, the oracle mode).  metric='haversine' uses
    `dist_m` (meters, required) as the exact geodesic predicate over
    the same candidates — pick dist_deg via meters_to_safe_degrees.

    Returns (id_a, id_b, dist2 | dist_m, dt_s)."""
    if dist_deg <= 0 or time_eps_s <= 0:
        raise ValueError("dist_deg and time_eps_s must be positive")
    if metric not in ("planar", "haversine"):
        raise ValueError(f"unknown metric {metric!r}")
    if metric == "haversine" and dist_m is None:
        raise ValueError("metric='haversine' requires dist_m")
    # integer key grid: nx lon cells of width >= dist_deg (wrapping),
    # ny lat cells, time buckets of width >= eps
    nx = max(1, int(360.0 // dist_deg))
    if 360.0 / nx < dist_deg:  # guard float edge
        nx -= 1
    nx = max(1, nx)
    ny = max(1, int(180.0 // dist_deg))
    if 180.0 / ny < dist_deg:
        ny -= 1
    ny = max(1, ny)

    ticks = (
        F.unix_timestamp(F.col(ts_col))
        if dict(df.dtypes)[ts_col].startswith("timestamp")
        else F.col(ts_col).cast("long")
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(lon_col).alias("lon"),
        F.col(lat_col).alias("lat"),
        ticks.alias("tk"),
    ).withColumns(
        {
            "cx": F.least(
                F.lit(nx - 1),
                F.greatest(
                    F.lit(0),
                    F.floor((F.col("lon") + F.lit(180.0)) / F.lit(360.0 / nx)),
                ),
            ).cast("long"),
            "cy": F.least(
                F.lit(ny - 1),
                F.greatest(
                    F.lit(0),
                    F.floor((F.col("lat") + F.lit(90.0)) / F.lit(180.0 / ny)),
                ),
            ).cast("long"),
            "tb": F.floor(F.col("tk") / F.lit(time_eps_s)).cast("long"),
        }
    )
    left = base.select(
        F.col("id").alias("id_a"),
        F.col("lon").alias("lon_a"),
        F.col("lat").alias("lat_a"),
        F.col("tk").alias("tk_a"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.pmod(F.col("cx") + F.lit(dx), F.lit(nx)).alias("kx"),
                        (F.col("cy") + F.lit(dy)).alias("ky"),
                        (F.col("tb") + F.lit(dt)).alias("kt"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                    for dt in (-1, 0, 1)
                ]
            )
        ).alias("k"),
    ).select(
        "id_a", "lon_a", "lat_a", "tk_a",
        F.col("k.kx").alias("kx"), F.col("k.ky").alias("ky"),
        F.col("k.kt").alias("kt"),
    )
    # out-of-range ky keys never match (harmless); lon keys DUPLICATE
    # under pmod when nx < 3 — only that degenerate grid needs a
    # distinct pass (ky never wraps, so ny is irrelevant)
    dedup_needed = nx < 3
    right = base.select(
        F.col("id").alias("id_b"),
        F.col("lon").alias("lon_b"),
        F.col("lat").alias("lat_b"),
        F.col("tk").alias("tk_b"),
        F.col("cx").alias("kx"), F.col("cy").alias("ky"),
        F.col("tb").alias("kt"),
    )
    cand = left.join(right, ["kx", "ky", "kt"], "inner").filter(
        F.col("id_a") < F.col("id_b")
    )
    dt = F.abs(F.col("tk_a") - F.col("tk_b"))
    if metric == "planar":
        d2 = GS.point_dist2_col(
            F.col("lon_a"), F.col("lat_a"), F.col("lon_b"), F.col("lat_b")
        )
        out = cand.filter(
            (dt <= F.lit(time_eps_s)) & (d2 <= F.lit(float(dist_deg) ** 2))
        ).select(
            "id_a", "id_b", d2.alias("dist2"), dt.cast("long").alias("dt_s")
        )
    else:
        dm = GS.haversine_m_col(
            F.col("lon_a"), F.col("lat_a"), F.col("lon_b"), F.col("lat_b")
        )
        out = cand.filter(
            (dt <= F.lit(time_eps_s)) & (dm <= F.lit(float(dist_m)))
        ).select(
            "id_a", "id_b", dm.alias("dist_m"), dt.cast("long").alias("dt_s")
        )
    return out.distinct() if dedup_needed else out


def co_travel(
    df: DataFrame,
    dist_deg: float,
    step_s: int,
    min_shared: int,
    track_col: str,
    ts_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    tiebreak_col: str | None = None,
    max_gap_s: int | None = None,
) -> DataFrame:
    """Track pairs that travel TOGETHER: co-located on at least
    `min_shared` aligned time-grid ticks.

    Raw co-occurrence (`cooccurrence_join`) fires on any chance
    encounter; sustained proximity needs positions compared at the
    SAME instants, which irregular fixes never give you.  This is
    the classic composition: `track_resample` aligns every track to
    the t = k*step_s grid (linear interpolation, `max_gap_s` guards
    outages), then a per-tick eps-join pairs tracks within
    `dist_deg` (planar), and one count aggregate keeps pairs sharing
    >= min_shared ticks.

    The per-tick join is the single-meeting-cell trick with the tick
    in the composite key: LEFT explodes 3x3 neighbor cells (lon
    wraps), RIGHT stays home, ids ordered — each (pair, tick)
    matches exactly once, cost bounded by the densest (tick x cell).
    A track has ONE interpolated position per tick, so no dedup pass
    exists anywhere.

    Returns (track_a, track_b, n_shared, first_ts, last_ts)."""
    from geomesa_spark.operators.tracks import track_resample

    if dist_deg <= 0 or min_shared < 1:
        raise ValueError("dist_deg must be > 0 and min_shared >= 1")
    r = track_resample(
        df, track_col, ts_col, step_s, lon_col, lat_col,
        tiebreak_col=tiebreak_col, max_gap_s=max_gap_s,
    ).select("track", "tick_ts", F.col(lon_col).alias("lon"),
             F.col(lat_col).alias("lat"))
    return _tick_pair_counts(r, dist_deg).filter(
        F.col("n_shared") >= F.lit(int(min_shared))
    )


def _tick_pair_counts(
    ticks: DataFrame, dist_deg: float, carried: DataFrame | None = None
) -> DataFrame:
    """The per-tick eps-join shared by ``co_travel`` and
    ``streaming/cotravel``: (track, tick_ts, lon, lat) ticks ->
    (track_a, track_b, n_shared, first_ts, last_ts) per pair within
    `dist_deg` (planar) on the same tick.

    `carried` (same columns) holds earlier micro-batches' recent
    ticks.  They join on the RIGHT side only, so every counted pair
    has a tick from `ticks`: new x new pairs order by id, and new x
    carried pairs count once by construction (a carried tick never
    meets another carried tick).  Without `carried` the join is the
    plain single-meeting-cell self-join."""
    nx = max(1, int(360.0 // dist_deg))
    if 360.0 / nx < dist_deg:
        nx -= 1
    nx = max(1, nx)
    ny = max(1, int(180.0 // dist_deg))
    if 180.0 / ny < dist_deg:
        ny -= 1
    ny = max(1, ny)

    def keyed(t):
        return t.select(
            "track", "tick_ts", "lon", "lat",
            F.least(
                F.lit(nx - 1),
                F.greatest(
                    F.lit(0),
                    F.floor((F.col("lon") + F.lit(180.0)) / F.lit(360.0 / nx)),
                ),
            ).cast("long").alias("cx"),
            F.least(
                F.lit(ny - 1),
                F.greatest(
                    F.lit(0),
                    F.floor((F.col("lat") + F.lit(90.0)) / F.lit(180.0 / ny)),
                ),
            ).cast("long").alias("cy"),
        )

    base = keyed(ticks)
    left = base.select(
        F.col("track").alias("track_a"),
        F.col("lon").alias("lon_a"),
        F.col("lat").alias("lat_a"),
        F.col("tick_ts").alias("tk"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.pmod(F.col("cx") + F.lit(dx), F.lit(nx)).alias("kx"),
                        (F.col("cy") + F.lit(dy)).alias("ky"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("k"),
    ).select(
        "track_a", "lon_a", "lat_a", "tk",
        F.col("k.kx").alias("kx"), F.col("k.ky").alias("ky"),
    )

    def right_side(b, *flag):
        return b.select(
            F.col("track").alias("track_b"),
            F.col("lon").alias("lon_b"),
            F.col("lat").alias("lat_b"),
            F.col("tick_ts").alias("tk"),
            F.col("cx").alias("kx"),
            F.col("cy").alias("ky"),
            *flag,
        )

    once = F.col("track_a") < F.col("track_b")
    pair = [F.col("track_a"), F.col("track_b")]
    if carried is None:
        right = right_side(base)
    else:
        right = right_side(base, F.lit(False).alias("_rc")).unionByName(
            right_side(keyed(carried), F.lit(True).alias("_rc"))
        )
        once = F.when(
            F.col("_rc"), F.col("track_a") != F.col("track_b")
        ).otherwise(once)
        pair = [F.least(*pair), F.greatest(*pair)]
    d2 = GS.point_dist2_col(
        F.col("lon_a"), F.col("lat_a"), F.col("lon_b"), F.col("lat_b")
    )
    hits = (
        left.join(right, ["kx", "ky", "tk"], "inner")
        .filter(once)
        .filter(d2 <= F.lit(float(dist_deg) ** 2))
        .select(pair[0].alias("track_a"), pair[1].alias("track_b"), "tk")
    )
    if nx < 3:
        hits = hits.distinct()
    return hits.groupBy("track_a", "track_b").agg(
        F.count("*").cast("long").alias("n_shared"),
        F.min("tk").cast("long").alias("first_ts"),
        F.max("tk").cast("long").alias("last_ts"),
    )
