"""Density-based spatial clustering (DBSCAN) as one distributed plan.

The reference community clusters tracking corpora client-side
(GeoTools loops over a full scan); PostGIS ships it as
ST_ClusterDBSCAN.  Here it is grid-partitioned PySpark: the quadratic
term is bounded by the densest eps-cell, the transitive closure is
the O(log diameter) pointer-jumping component pass the dedup
subsystem already uses (`dedup.dup_components`), and every step is a
plain DataFrame op — no Python in the physical plan.

Stages (each one shuffle, all partial-aggregated):

1. **eps-pair mining** (`eps_pairs`): every row gets an integer home
   cell of width >= eps; the LEFT alias explodes to its 3x3 neighbor
   cells (lon wraps at the antimeridian), the RIGHT stays home, so a
   qualifying pair (id_a < id_b) meets EXACTLY once — the
   `cooccurrence_join` single-meeting-key trick in 2D.  Cost is
   sum(|cell|^2), bounded by the densest cell, never corpus^2.
2. **core test**: neighbor counts from the pair list (both
   directions, map-side combinable count) + 1 for the point itself;
   core iff >= min_pts — sklearn's convention (the point counts
   toward its own neighborhood).
3. **core components**: connected components over core-core pairs
   via min-label propagation WITH pointer jumping
   (`dup_components`) — O(log diameter) rounds, localCheckpointed
   lineage.  Cluster id = the component's minimum core id
   (deterministic under any partitioning).
4. **border attach**: non-core points adopt the MINIMUM cluster id
   among their core neighbors (DBSCAN's classic nondeterminism —
   border ties broken by scan order — replaced with a total order).
   Everything else is noise and is simply absent from the output.

Determinism: metric='planar' compares squared degree distance with
exact IEEE doubles (the oracle gate mode); metric='haversine'
refines the same candidates geodesically (production mode — derive
the candidate eps via `cooccur.meters_to_safe_degrees`).

Reference parity: the reference has no distributed clustering; this
is new §2-adjacent surface (the "analytics a tracking corpus needs"
layer, like operators/hotspot.py).  Scale notes: hot-cell skew shows
up exactly like the PIP hot cells (smaller eps + AQE skew join);
`min_pts` never changes the mining cost, only the core filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geomesa_spark.functions import geometry_sql as GS
from geomesa_spark.operators.dedup import dup_components
from geomesa_spark.session import local_checkpoint as _lckpt

__all__ = ["eps_pairs", "dbscan"]


def eps_pairs(
    df: DataFrame,
    eps: float,
    id_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    metric: str = "planar",
    dist_m: float | None = None,
    t_col: str | None = None,
    eps_t: float | None = None,
    with_dt: bool = False,
    cell_budget: int | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) within eps — each pair exactly once.

    metric='planar': eps is degrees, exact squared-degree compare.
    metric='haversine': eps (degrees) generates candidates; `dist_m`
    (meters, required) is the exact geodesic predicate.

    `t_col`/`eps_t` add the spatiotemporal neighborhood (the
    ST-DBSCAN two-eps rule, Birant & Kut 2007): a pair must ALSO
    satisfy |t_a - t_b| <= eps_t.  The time axis becomes a third key
    dimension (bucket width >= eps_t, left explodes +-1, no wrap),
    so the quadratic term is bounded by the densest (cell x time
    bucket) — temporally spread-out hot cells stop being hot.
    `with_dt` (requires t_col) appends the pair's |t_a - t_b| as
    `dt` (space_time_k consumes it).  `t_col` WITHOUT `eps_t` is the
    carry-only mode: no time key dimension and no time filter, just
    the dt output column (knox_test's single-pass mining).
    Returns (id_a, id_b, dist2 | dist_m [, dt]).

    ``cell_budget`` is the hot-cell guard (the `spatial_join.
    hot_cell_salts` precedent for the SELF-join shape): when set,
    one cheap pre-aggregate finds the densest home cell n_max and
    the call RAISES if n_max² exceeds the budget — a duplicate-
    coordinate POI with 10⁵ co-located points yields 10¹⁰ true
    pairs no matter how the mining is partitioned (the OUTPUT is
    quadratic, so sub-gridding cannot help), and a loud error
    beats an executor-OOM hours into a 100 TB run.  Remedies the
    message points to: collapse exact-duplicate coordinates first
    (``dbscan`` does this automatically; co-located points share
    every neighborhood), shrink eps, or raise the budget when the
    quadratic output is genuinely wanted.  Costs one counting
    aggregate over the point table; default None = off."""
    if eps <= 0:
        raise ValueError("eps must be positive")
    if metric not in ("planar", "haversine"):
        raise ValueError(f"unknown metric {metric!r}")
    if metric == "haversine" and dist_m is None:
        raise ValueError("metric='haversine' requires dist_m")
    if eps_t is not None and t_col is None:
        raise ValueError("eps_t requires t_col")
    if t_col is not None and eps_t is None and not with_dt:
        raise ValueError("t_col without eps_t is only for with_dt")
    if eps_t is not None and eps_t <= 0:
        raise ValueError("eps_t must be positive")
    if with_dt and t_col is None:
        raise ValueError("with_dt requires t_col")
    nx = max(1, int(360.0 // eps))
    if 360.0 / nx < eps:
        nx -= 1
    nx = max(1, nx)
    ny = max(1, int(180.0 // eps))
    if 180.0 / ny < eps:
        ny -= 1
    ny = max(1, ny)

    tcols = (
        [F.col(t_col).cast("double").alias("t")] if t_col else []
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(lon_col).alias("lon"),
        F.col(lat_col).alias("lat"),
        *tcols,
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
        }
    )
    # eps_t adds the time KEY dimension + filter; t_col alone (the
    # with_dt carry mode) just transports t for the dt output column
    t_keyed = eps_t is not None
    if t_keyed:
        base = base.withColumn(
            "ct", F.floor(F.col("t") / F.lit(float(eps_t))).cast("long")
        )
    if cell_budget is not None:
        cell_cols = ["cx", "cy"] + (["ct"] if t_keyed else [])
        row = (
            base.groupBy(*cell_cols)
            .agg(F.count(F.lit(1)).alias("_n"))
            .agg(F.max("_n").alias("_mx"))
            .first()
        )
        n_max = row["_mx"] or 0
        if n_max * n_max > int(cell_budget):
            raise ValueError(
                f"eps_pairs hot-cell budget exceeded: densest cell "
                f"holds {n_max} points -> up to {n_max * n_max} "
                f"candidate pairs > cell_budget={cell_budget}. The "
                "pair OUTPUT of a co-located hot spot is quadratic; "
                "collapse duplicate coordinates first (dbscan does), "
                "shrink eps, or raise cell_budget deliberately."
            )
    dts = (-1, 0, 1) if t_keyed else (0,)
    keys = ["kx", "ky"] + (["kt"] if t_keyed else [])
    left = base.select(
        F.col("id").alias("id_a"),
        F.col("lon").alias("lon_a"),
        F.col("lat").alias("lat_a"),
        *([F.col("t").alias("t_a")] if t_col else []),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.pmod(F.col("cx") + F.lit(dx), F.lit(nx)).alias("kx"),
                        (F.col("cy") + F.lit(dy)).alias("ky"),
                        *([
                            (F.col("ct") + F.lit(dt)).alias("kt")
                        ] if t_keyed else []),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                    for dt in dts
                ]
            )
        ).alias("k"),
    ).select(
        "id_a", "lon_a", "lat_a",
        *(["t_a"] if t_col else []),
        *[F.col(f"k.{k}").alias(k) for k in keys],
    )
    # lon keys duplicate under pmod only when nx < 3 (ky/kt never wrap)
    dedup_needed = nx < 3
    right = base.select(
        F.col("id").alias("id_b"),
        F.col("lon").alias("lon_b"),
        F.col("lat").alias("lat_b"),
        *([F.col("t").alias("t_b")] if t_col else []),
        F.col("cx").alias("kx"),
        F.col("cy").alias("ky"),
        *([F.col("ct").alias("kt")] if t_keyed else []),
    )
    cand = left.join(right, keys, "inner").filter(
        F.col("id_a") < F.col("id_b")
    )
    if t_keyed:
        cand = cand.filter(
            F.abs(F.col("t_a") - F.col("t_b")) <= F.lit(float(eps_t))
        )
    extra = (
        [F.abs(F.col("t_a") - F.col("t_b")).alias("dt")] if with_dt else []
    )
    if metric == "planar":
        d2 = GS.point_dist2_col(
            F.col("lon_a"), F.col("lat_a"), F.col("lon_b"), F.col("lat_b")
        )
        out = cand.filter(d2 <= F.lit(float(eps) ** 2)).select(
            "id_a", "id_b", d2.alias("dist2"), *extra
        )
    else:
        dm = GS.haversine_m_col(
            F.col("lon_a"), F.col("lat_a"), F.col("lon_b"), F.col("lat_b")
        )
        out = cand.filter(dm <= F.lit(float(dist_m))).select(
            "id_a", "id_b", dm.alias("dist_m"), *extra
        )
    return out.distinct() if dedup_needed else out


def dbscan(
    df: DataFrame,
    eps: float,
    min_pts: int,
    id_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    metric: str = "planar",
    dist_m: float | None = None,
    max_iter: int = 50,
    t_col: str | None = None,
    eps_t: float | None = None,
) -> DataFrame:
    """DBSCAN over a point table -> (id, cluster, is_core).

    `t_col`/`eps_t` turn it into ST-DBSCAN (Birant & Kut 2007, the
    two-eps core): neighbors must be within eps spatially AND eps_t
    temporally, so a place that is busy every day stops being one
    giant cluster and splits into its temporal episodes.  Everything
    downstream (core test, components, border attach) is unchanged —
    only the neighborhood predicate tightens.

    max_iter bounds the component rounds: min-label propagation with
    pointer jumping reaches ~2^k hops after k rounds, so 50 covers
    any physical chain (a 2^50-hop component); the loop exits at
    convergence, so typical corpora stop in <= ~log2(diameter)+1
    rounds and the bound is never the cost.

    cluster = minimum core id of the component (deterministic);
    border points attach to the minimum cluster among their core
    neighbors; noise points are absent from the output (left-join
    the result back and treat NULL cluster as noise).  min_pts
    counts the point itself (sklearn min_samples convention).

    Hot-spot guard (the duplicate-coordinate quadratic): exact-
    duplicate coordinates (lon, lat[, t]) COLLAPSE to one weighted
    representative before pair mining, so a POI with 10⁵ check-ins
    at one coordinate contributes ONE mining row instead of 10¹⁰
    pairs.  This is exact, not approximate: co-located points have
    identical eps-neighborhoods, hence identical core-ness, the
    same component (they are mutual neighbors once any is core,
    and min_pts duplicates make all of them core), and the same
    border attachment; the representative id is the location's
    minimum point id, so the min-id cluster labels are unchanged.
    The per-point neighbor count becomes (cnt_self - 1) + Σ
    neighbor-rep counts.  The quadratic mining term is therefore
    bounded by the densest cell's DISTINCT-coordinate count.

    Eager: the component pass is a driver-side loop, so the result
    materializes inside this call (localCheckpointed — O(1) lineage,
    intermediate caches released before returning)."""
    if min_pts < 1:
        raise ValueError("min_pts must be >= 1")
    tsel = [F.col(t_col).alias("t")] if t_col is not None else []
    gcols = ["lon", "lat"] + (["t"] if t_col is not None else [])
    pts = df.select(
        F.col(id_col).alias("id"),
        F.col(lon_col).alias("lon"),
        F.col(lat_col).alias("lat"),
        *tsel,
    )
    # ONE coordinate-keyed window assigns every point its
    # representative id and duplicate count — cheaper than a
    # groupBy + coordinate-equality expand join (one wide shuffle
    # instead of two, and the final expand becomes a long-key join)
    wdup = Window.partitionBy(*gcols)
    pts_r = pts.select(
        "id",
        F.min("id").over(wdup).alias("rid"),
        F.count(F.lit(1)).over(wdup).alias("cnt"),
        *gcols,
    ).persist()
    reps = pts_r.filter(F.col("id") == F.col("rid")).select(
        *gcols, "rid", "cnt"
    )
    pairs = eps_pairs(
        reps, eps, "rid", "lon", "lat", metric, dist_m,
        t_col=("t" if t_col is not None else None), eps_t=eps_t,
    ).select("id_a", "id_b").persist()
    # both directions once; reused for degree AND border attach
    both = pairs.unionByName(
        pairs.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
        )
    )
    wts = reps.select(
        F.col("rid").alias("id_b"), F.col("cnt").alias("_w")
    )
    deg = (
        both.join(wts, "id_b")
        .groupBy(F.col("id_a").alias("rid"))
        .agg(F.sum("_w").alias("_nb"))
    )
    core = (
        reps.join(deg, "rid", "left")
        .filter(
            F.coalesce(F.col("_nb"), F.lit(0))
            + F.col("cnt") - F.lit(1) + F.lit(1)
            >= F.lit(int(min_pts))
        )
        .select(F.col("rid").alias("id"))
    )
    if min_pts <= 1:
        # every point is core, including isolated ones outside `deg`
        core = reps.select(F.col("rid").alias("id"))
    core = core.persist()

    core_edges = (
        pairs.join(core.withColumnRenamed("id", "id_a"), "id_a", "semi")
        .join(core.withColumnRenamed("id", "id_b"), "id_b", "semi")
        .select("id_a", "id_b")
    )
    comp = dup_components(
        core_edges, max_iter=max_iter, a_col="id_a", b_col="id_b",
        unique_pairs=True,  # eps_pairs emits each a<b pair exactly once
    )
    core_labels = (
        core.join(comp, core["id"] == comp["doc"], "left")
        .select(
            core["id"],
            F.coalesce(F.col("canon"), core["id"]).alias("cluster"),
        )
        .persist()
    )

    nb_clusters = core_labels.select(
        F.col("id").alias("id_b"), F.col("cluster").alias("nb_cluster")
    )
    border = (
        both.join(core, both["id_a"] == core["id"], "left_anti")
        .join(nb_clusters, "id_b")
        .groupBy(F.col("id_a").alias("id"))
        .agg(F.min("nb_cluster").alias("cluster"))
    )
    rep_out = core_labels.withColumn("is_core", F.lit(True)).unionByName(
        border.withColumn("is_core", F.lit(False))
    )
    # expand representatives back to every original point: same
    # coordinate -> same cluster/is_core (the collapse equivalence);
    # the window above already stamped each point's rid, so this is
    # one long-key join, not a coordinate-equality join
    out = _lckpt(
        pts_r.select("id", "rid")
        .join(rep_out.withColumnRenamed("id", "rid"), "rid")
        .select("id", "cluster", "is_core")
    )
    pts_r.unpersist()
    pairs.unpersist()
    core.unpersist()
    core_labels.unpersist()
    return out
