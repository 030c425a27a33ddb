"""Spatial joins: point-in-polygon, proximity (dwithin).

The core deliverable (SURVEY.md §2.3). The reference composes a
coarse geohash/Z cover with an exact JTS predicate evaluated in
server-side iterators (cover: GeohashUtils.scala:779-794; exact:
KryoLazyFilterTransformIterator.scala:84-94; OR-of-dwithin
composition: ProximitySearchProcess.scala:98-114). Here the same
two-phase shape becomes:

1. **cover phase** — polygons → cell covers (``polyfill_detail``),
   joined to points on a parent-cell key. Two physical strategies:

   - *broadcast* (small polygon layer): driver-side polyfill, salted
     ``broadcast()`` hash join — zero shuffle of the point table.
   - *partitioned* (large polygon layer): distributed polyfill via
     ``mapInPandas``, then a cell-keyed shuffle join with **explicit
     skew salting** (hot-cell histogram → per-cell salt factor —
     the DataFrame analog of the reference's ``%999#r`` random-shard
     key prefix, IndexSchema.scala:109-113).

2. **refine phase** — exact point-in-polygon via one vectorized
   pandas UDF. Cells fully interior to a polygon skip evaluation
   (covering-index fast path, IteratorTrigger.scala:66-76).

False positives from the cover are eliminated by refine; the cover
is a provable superset, so results equal a brute-force theta join.

Antimeridian-crossing polygons (expressed with jumping or
out-of-range longitudes) are split into in-range pieces
automatically (geometry.normalize_idl — the GeohashUtils.scala:
721-773 translate+intersect analog) in every cover and edge path;
site buffers in the proximity join wrap the same way.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_spark.functions import cells as C
from geomesa_spark.functions import geometry as G
from geomesa_spark.functions import geometry_sql as GS
from geomesa_spark.plans import cover as V

DEFAULT_COVER_BITS = 12
BROADCAST_MAX_POLYS = 10_000
HOT_CELL_THRESHOLD = 2_000_000  # rows per cell before salting kicks in
MAX_SALT = 64


def _refine_pip(lon_col: str, lat_col: str):
    """Exact PIP refine predicate: interior cells short-circuit (the
    covering-index fast path, IteratorTrigger.scala:66-76); boundary
    cells run the even-odd edge aggregate — all JVM-side, zero
    Python (GS.contains_col)."""
    return F.col("interior") | GS.contains_col(
        F.col("edges"), F.col(lon_col), F.col(lat_col)
    )


def _cover_pdf(polys: list[tuple[str, str]], bits: int, budget: int) -> pd.DataFrame:
    """Driver-side cover table for the broadcast path."""
    rows = []
    for pid, wkt in polys:
        geom = G.normalize_idl(G.parse_wkt(wkt))
        # each polygon covers at the finest resolution its budget
        # allows (coarse polygons emit coarse cells); the join runs
        # once per distinct resolution group
        cells_, interior, used = V.polyfill_detail(geom, bits, budget)
        rows.append(
            pd.DataFrame(
                {
                    "pcell": cells_,
                    "pbits": used,
                    "interior": interior,
                    "poly_id": pid,
                }
            )
        )
    return pd.concat(rows, ignore_index=True)


def pip_join_broadcast(
    points: DataFrame,
    polys: list[tuple[str, str]],
    bits: int = DEFAULT_COVER_BITS,
    budget: int = V.DEFAULT_POLYFILL_BUDGET,
    lon_col: str = "lon",
    lat_col: str = "lat",
    cell_col: str = "cell",
    cell_bits: int = C.XY_BITS,
) -> DataFrame:
    """Point-in-polygon join, broadcast strategy (small polygon layer).

    `polys`: [(poly_id, wkt)]. Result: points columns + `poly_id`.
    The point table is never shuffled — one broadcast hash join plus
    a vectorized refine. Multi-resolution covers join per distinct
    `pbits` group (coarse polygons emit coarse cells).
    """
    spark = points.sparkSession
    if not polys:
        return points.limit(0).withColumn("poly_id", F.lit(None).cast("string"))
    cover = _cover_pdf(polys, bits, budget)
    edges = F.broadcast(GS.poly_edges_df(spark, polys))
    out = None
    for pbits, grp in cover.groupby("pbits"):
        cov_df = spark.createDataFrame(grp[["pcell", "interior", "poly_id"]])
        pts = points.withColumn(
            "_pcell", C.cell_parent(F.col(cell_col), cell_bits, int(pbits))
        )
        joined = pts.join(
            F.broadcast(cov_df), pts["_pcell"] == cov_df["pcell"], "inner"
        ).join(edges, "poly_id")
        refined = joined.filter(_refine_pip(lon_col, lat_col)).drop(
            "_pcell", "pcell", "interior", "edges"
        )
        out = refined if out is None else out.unionByName(refined)
    return out


def _distributed_cover(
    polys: DataFrame,
    bits: int,
    budget: int,
    poly_id_col: str = "poly_id",
    wkt_col: str = "geom_wkt",
) -> DataFrame:
    """Large polygon layer -> exploded (pcell, interior, poly_id).

    Runs polyfill inside mapInPandas so the cover itself is computed
    in parallel across executors (no driver bottleneck at 10^6+
    polygons). The layer is repartitioned to ~its own row count so a
    small layer doesn't fan out to one Python worker per core (the
    per-worker startup would dwarf the work)."""
    n_polys = polys.count()
    par = max(1, min(polys.sparkSession.sparkContext.defaultParallelism, n_polys // 4 + 1))
    polys = polys.repartition(par)
    schema = T.StructType(
        [
            T.StructField("pcell", T.LongType()),
            T.StructField("interior", T.BooleanType()),
            T.StructField("poly_id", T.StringType()),
            T.StructField("pbits", T.IntegerType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            out = []
            for pid, wkt in zip(pdf[poly_id_col], pdf[wkt_col]):
                geom = G.normalize_idl(G.parse_wkt(wkt))
                cells_, interior, used = V.polyfill_detail(
                    geom, bits, _cover_budget(geom, bits, budget)[0]
                )
                out.append(
                    pd.DataFrame(
                        {
                            "pcell": cells_,
                            "interior": interior,
                            "poly_id": pid,
                            "pbits": np.int32(used),
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True) if out else pd.DataFrame(
                {
                    "pcell": pd.Series(dtype="int64"),
                    "interior": pd.Series(dtype="bool"),
                    "poly_id": pd.Series(dtype="object"),
                    "pbits": pd.Series(dtype="int32"),
                }
            )

    return polys.mapInPandas(gen, schema=schema)


def _cover_budget(geom: G.Geometry, bits: int, budget: int) -> tuple[int, int]:
    """(fill budget, cover resolution) of one polygon of the
    partitioned cover — bbox arithmetic only, no fill.

    A polygon that cannot reach `bits` within `budget` fills at
    `budget * 4`; one that still doesn't fit keeps its coarse cover
    (resolution < bits) and the join runs that group at the coarser
    key with the refine absorbing the looser cover, so one
    pathological geometry can never fail the whole job.
    `_distributed_cover` fills at the budget and the join loops over
    the resolutions, so both read this one rule."""
    used = V.polyfill_resolution(geom, bits, budget)
    if used == bits:
        return budget, used
    return budget * 4, V.polyfill_resolution(geom, bits, budget * 4)


def _resolution_of(wkt: str, bits: int, budget: int) -> int:
    """The resolution `_distributed_cover` will use for one polygon."""
    return _cover_budget(G.normalize_idl(G.parse_wkt(wkt)), bits, budget)[1]


def _cover_resolution_set(
    polys: DataFrame,
    bits: int,
    budget: int,
    wkt_col: str = "geom_wkt",
    driver_limit: int = BROADCAST_MAX_POLYS,
) -> list[int]:
    """Distinct cover resolutions of a polygon layer.

    Small layers (<= driver_limit rows) decide on the driver from the
    collected WKTs — no extra Spark job. Larger layers run one cheap
    distributed bbox-only pass (no cover fill, nothing cached)."""
    head = polys.select(wkt_col).limit(driver_limit + 1).collect()
    if len(head) <= driver_limit:
        return sorted({_resolution_of(r[0], bits, budget) for r in head})
    schema = T.StructType([T.StructField("pbits", T.IntegerType())])

    def gen(batches):
        for pdf in batches:
            vals = [
                np.int32(_resolution_of(wkt, bits, budget))
                for wkt in pdf[wkt_col]
            ]
            yield pd.DataFrame({"pbits": pd.Series(vals, dtype="int32")})

    return sorted(
        r.pbits
        for r in polys.mapInPandas(gen, schema=schema).distinct().collect()
    )


def _distributed_edges(
    polys: DataFrame, poly_id_col: str = "poly_id", wkt_col: str = "geom_wkt"
) -> DataFrame:
    """(poly_id, edges) parsed in parallel — the broadcast side of
    the JVM refine (one row per polygon, not per cover cell)."""
    schema = T.StructType(
        [
            T.StructField("poly_id", T.StringType()),
            T.StructField("edges", GS.EDGE_SCHEMA),
        ]
    )

    def gen(batches):
        for pdf in batches:
            rows = [
                (pid, GS.geom_edges(G.normalize_idl(G.parse_wkt(wkt))))
                for pid, wkt in zip(pdf[poly_id_col], pdf[wkt_col])
            ]
            yield pd.DataFrame(rows, columns=["poly_id", "edges"])

    return polys.mapInPandas(gen, schema=schema)


def hot_cell_salts(
    points: DataFrame,
    pbits: int,
    cell_col: str = "cell",
    cell_bits: int = C.XY_BITS,
    sample_fraction: float = 0.01,
    hot_threshold: int = HOT_CELL_THRESHOLD,
    max_salt: int = MAX_SALT,
) -> pd.DataFrame:
    """Estimate per-cell row counts by sampling; return salt factors.

    The explicit skew-mitigation step demanded by north_rule: cells
    whose estimated row count exceeds `hot_threshold` get a salt
    factor ~ count/threshold (capped), mirroring the reference's
    random shard prefix that spreads hot geohash regions across
    tablets (IndexSchema.scala:109-113, Splitters.scala:16-27).
    """
    est = (
        points.sample(fraction=sample_fraction, seed=42)
        .select(C.cell_parent(F.col(cell_col), cell_bits, pbits).alias("pcell"))
        .groupBy("pcell")
        .count()
        .filter(F.col("count") * (1.0 / sample_fraction) > hot_threshold)
        .toPandas()
    )
    if est.empty:
        return pd.DataFrame(columns=["pcell", "salt_n"])
    est["salt_n"] = (
        (est["count"] / sample_fraction / hot_threshold)
        .clip(1, max_salt)
        .astype(np.int32)
    )
    return est[["pcell", "salt_n"]]


def pip_join_partitioned(
    points: DataFrame,
    polys: DataFrame,
    bits: int = DEFAULT_COVER_BITS,
    budget: int = V.DEFAULT_POLYFILL_BUDGET,
    lon_col: str = "lon",
    lat_col: str = "lat",
    cell_col: str = "cell",
    cell_bits: int = C.XY_BITS,
    salts: pd.DataFrame | None = None,
    hot_threshold: int = HOT_CELL_THRESHOLD,
) -> DataFrame:
    """Point-in-polygon join, cell-partitioned strategy (large layers).

    Both sides shuffle on a salted parent-cell key; hot cells are
    split across `salt_n` reducers (points pick a deterministic salt
    by doc hash; cover rows replicate across all salts of their
    cell). AQE skew-join remains on as a second line of defense.

    Pathological polygons whose cover exceeds the budget at the
    target resolution degrade to a coarser cover instead of failing;
    their (rare) coarse groups join at the coarser cell key without
    salting and the exact refine absorbs the looser cover.
    """
    spark = points.sparkSession
    # the polygon layer is executed several times in this function
    # (count, resolution set, edges, cover) — pin its lineage once so
    # a layer with non-trivial upstream plan (filters/joins) does not
    # re-execute that plan per pass (geom_join_partitioned already
    # does the same for the geoms side)
    polys = polys.localCheckpoint(eager=False)
    cover = _distributed_cover(polys, bits, budget)
    # resolution groups via a cheap bbox-only decision (driver-side
    # for small layers, one distributed pass otherwise); almost
    # always the single target-bits group
    pbits_vals = _cover_resolution_set(polys, bits, budget)
    if len(pbits_vals) > 1:
        # several groups would re-run the distributed polyfill once
        # per group filter: materialize it once
        cover = cover.localCheckpoint(eager=True)
    if not pbits_vals:
        return points.limit(0).withColumn("poly_id", F.lit(None).cast("string"))

    if salts is None:
        salts = hot_cell_salts(
            points, bits, cell_col, cell_bits, hot_threshold=hot_threshold
        )
    salt_schema = T.StructType(
        [T.StructField("pcell", T.LongType()), T.StructField("salt_n", T.IntegerType())]
    )
    salt_df = F.broadcast(
        spark.createDataFrame(
            [(int(c), int(s)) for c, s in zip(salts["pcell"], salts["salt_n"])]
            if len(salts)
            else [],
            schema=salt_schema,
        )
    )
    edges = F.broadcast(_distributed_edges(polys))

    out = None
    for pb in pbits_vals:
        cov_grp = cover.filter(F.col("pbits") == pb).drop("pbits")
        pts = points.withColumn(
            "_pcell", C.cell_parent(F.col(cell_col), cell_bits, int(pb))
        )
        if pb == bits:
            pts = (
                pts.join(salt_df, F.col("_pcell") == salt_df["pcell"], "left")
                .drop(salt_df["pcell"])
                .withColumn(
                    "_salt",
                    F.when(
                        F.col("salt_n").isNotNull(),
                        F.pmod(
                            F.xxhash64(F.col(lon_col), F.col(lat_col)),
                            F.col("salt_n"),
                        ),
                    ).otherwise(F.lit(0)).cast("int"),
                )
                .drop("salt_n")
            )
            cov_grp = (
                cov_grp.join(salt_df, "pcell", "left")
                .withColumn(
                    "_salt",
                    F.explode(
                        F.sequence(
                            F.lit(0), F.coalesce(F.col("salt_n") - 1, F.lit(0))
                        )
                    ),
                )
                .drop("salt_n")
            )
            joined = pts.join(
                cov_grp,
                (pts["_pcell"] == cov_grp["pcell"])
                & (pts["_salt"] == cov_grp["_salt"]),
                "inner",
            ).drop("_salt")
        else:
            joined = pts.join(
                cov_grp, pts["_pcell"] == cov_grp["pcell"], "inner"
            )
        refined = (
            joined.join(edges, "poly_id")
            .filter(_refine_pip(lon_col, lat_col))
            .drop("_pcell", "pcell", "interior", "edges")
        )
        out = refined if out is None else out.unionByName(refined)
    # the empty-layer case already returned above (pbits_vals empty),
    # so the loop always assigns out
    return out


def write_points_bucketed(
    points: DataFrame,
    table_name: str,
    bits: int = DEFAULT_COVER_BITS,
    n_buckets: int = 64,
    cell_col: str = "cell",
    cell_bits: int = C.XY_BITS,
    clear_stale_location: bool = False,
    salt_buckets: int = 1,
) -> None:
    """Materialize the point table with its parent-cell join key,
    bucketed + sorted on it (`sources.bucketed.write_bucketed`).
    Pair with `write_cover_bucketed` at the SAME bits/n_buckets (and
    `salt_buckets`) for `pip_join_bucketed`'s zero-Exchange join.

    `salt_buckets > 1` adds a deterministic per-row salt to the
    bucket key (pcell, psalt): a pathological hot CELL then spreads
    across up to `salt_buckets` different buckets instead of landing
    in one bucket's merge — the stored-layout analog of the
    partitioned join's explicit salting (IndexSchema.scala:109-113
    random shard prefix); the cover side replicates each cell across
    all salts, so results are identical."""
    from geomesa_spark.sources.bucketed import write_bucketed

    pts = points.withColumn(
        "pcell", C.cell_parent(F.col(cell_col), cell_bits, bits)
    )
    if salt_buckets > 1:
        # salt mixes the FINE cell with a per-row unique id: a hot
        # parent cell spreads by fine-grid position, AND many rows
        # sharing one exact coordinate (duplicate-coordinate hot
        # spots — the case a cell-only hash cannot spread) still fan
        # out across salts. The id only affects storage placement;
        # join results are salt-invariant (cover rows replicate
        # across every salt), so write-to-write id nondeterminism is
        # harmless.
        pts = pts.withColumn(
            "psalt",
            F.pmod(
                F.xxhash64(F.col(cell_col), F.monotonically_increasing_id()),
                F.lit(salt_buckets),
            ).cast("int"),
        )
        write_bucketed(
            pts, table_name, bucket_col="pcell", n_buckets=n_buckets,
            sort_cols=["pcell", "psalt"],
            clear_stale_location=clear_stale_location,
            extra_bucket_cols=["psalt"],
            table_properties={"geomesa.salt_buckets": str(salt_buckets)},
        )
        return
    write_bucketed(
        pts, table_name, bucket_col="pcell", n_buckets=n_buckets,
        clear_stale_location=clear_stale_location,
        table_properties={"geomesa.salt_buckets": "1"},
    )


def write_cover_bucketed(
    polys: DataFrame,
    table_name: str,
    bits: int = DEFAULT_COVER_BITS,
    budget: int = V.DEFAULT_POLYFILL_BUDGET,
    n_buckets: int = 64,
    poly_id_col: str = "poly_id",
    wkt_col: str = "geom_wkt",
    clear_stale_location: bool = False,
    salt_buckets: int = 1,
) -> None:
    """Materialize a polygon layer's distributed cell cover
    (pcell, interior, poly_id, pbits) bucketed + sorted on pcell.
    With `salt_buckets > 1`, each cover row replicates across every
    salt value so the salted point layout joins losslessly (see
    `write_points_bucketed`)."""
    from geomesa_spark.sources.bucketed import write_bucketed

    cover = _distributed_cover(
        polys, bits, budget, poly_id_col=poly_id_col, wkt_col=wkt_col
    )
    if salt_buckets > 1:
        cover = cover.withColumn(
            "psalt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
        )
        write_bucketed(
            cover, table_name, bucket_col="pcell", n_buckets=n_buckets,
            sort_cols=["pcell", "psalt"],
            clear_stale_location=clear_stale_location,
            extra_bucket_cols=["psalt"],
            table_properties={"geomesa.salt_buckets": str(salt_buckets)},
        )
        return
    write_bucketed(
        cover, table_name, bucket_col="pcell", n_buckets=n_buckets,
        clear_stale_location=clear_stale_location,
        table_properties={"geomesa.salt_buckets": "1"},
    )


def pip_join_bucketed(
    spark,
    points_table: str,
    cover_table: str,
    polys: DataFrame,
    bits: int = DEFAULT_COVER_BITS,
    lon_col: str = "lon",
    lat_col: str = "lat",
    poly_id_col: str = "poly_id",
    wkt_col: str = "geom_wkt",
) -> DataFrame:
    """PIP join over CO-BUCKETED tables: zero Exchange.

    Both tables must come from `write_points_bucketed` /
    `write_cover_bucketed` with the same `bits` and bucket count —
    then the cell-keyed join is a per-bucket local sort-merge (no
    shuffle of either side; at 100 TB this converts every repeated
    join against the same layer from a full-table shuffle into a
    local merge — the reference's analog is pre-split tablets,
    Splitters.scala:16-37). Layouts written with `salt_buckets > 1`
    join on the composite (pcell, psalt) key automatically, spreading
    a pathological hot cell across buckets.

    Budget-degraded polygons (cover rows with pbits < bits) can't
    use the bucket key — their few coarse cover cells join as a
    BROADCAST hash join on a derived parent key instead, which still
    shuffles nothing. The refine is the same JVM predicate as every
    other PIP path.
    """
    pts = spark.table(points_table)
    cover = spark.table(cover_table)
    edges = F.broadcast(_distributed_edges(polys, poly_id_col, wkt_col))

    # salted layouts (see write_points_bucketed) join on the full
    # composite bucket key; both tables must agree — on PRESENCE and
    # on the COUNT (points salted 8-ways against a 4-way cover would
    # pass a presence-only check yet silently drop every point whose
    # psalt >= 4: no cover replica to join). Both writers record the
    # count in TBLPROPERTIES, so a missing value raises too.
    salted = "psalt" in pts.columns
    if salted != ("psalt" in cover.columns):
        raise ValueError(
            "points and cover tables disagree on salting — rewrite both "
            "with the same salt_buckets"
        )
    if salted:
        from geomesa_spark.sources.bucketed import table_property

        sp_ = table_property(spark, points_table, "geomesa.salt_buckets")
        sc_ = table_property(spark, cover_table, "geomesa.salt_buckets")
        if sp_ is None or sp_ != sc_:
            raise ValueError(
                f"salt_buckets mismatch: {points_table}={sp_} vs "
                f"{cover_table}={sc_} — rewrite both with the same value"
            )
    key = ["pcell", "psalt"] if salted else ["pcell"]
    fine = cover.filter(F.col("pbits") == bits).select(
        *key, "interior", "poly_id"
    )
    joined = pts.join(fine, key)
    out = (
        joined.join(edges, "poly_id")
        .filter(_refine_pip(lon_col, lat_col))
        .drop("pcell", "psalt", "interior", "edges")
    )

    coarse_pbits = [
        r.pbits
        for r in cover.select("pbits").distinct().collect()
        if r.pbits != bits
    ]
    for pb in coarse_pbits:
        # distinct() drops the per-salt replication of a salted cover
        # table (coarse cells join on the parent key, not the salt)
        cov_grp = cover.filter(F.col("pbits") == pb).select(
            F.col("pcell").alias("_ccell"), "interior", "poly_id"
        ).distinct()
        pts_c = pts.withColumn(
            "_ppcell", C.cell_parent(F.col("pcell"), bits, int(pb))
        )
        grp = (
            pts_c.join(
                F.broadcast(cov_grp),
                pts_c["_ppcell"] == cov_grp["_ccell"],
                "inner",
            )
            .join(edges, "poly_id")
            .filter(_refine_pip(lon_col, lat_col))
            .drop("_ppcell", "_ccell", "pcell", "psalt", "interior", "edges")
        )
        out = out.unionByName(grp, allowMissingColumns=True)
    return out


def proximity_join(
    points: DataFrame,
    sites: list[tuple[str, float, float, float]],
    lon_col: str = "lon",
    lat_col: str = "lat",
    cell_col: str = "cell",
    cell_bits: int = C.XY_BITS,
    bits: int = DEFAULT_COVER_BITS,
    radius_in_meters: bool = False,
) -> DataFrame:
    """dwithin OR-join: points within per-site radius.

    `sites`: [(site_id, lon, lat, radius)] with radius in degrees,
    or meters when `radius_in_meters` (the reference's dwithin takes
    meters and rewrites to degrees for the index scan,
    FilterHelper.scala:104-116 — same here: a conservative degree
    buffer plans the cell cover, exact haversine refines). The
    reference builds an OR of dwithin filters per input feature
    (ProximitySearchProcess.scala:98-114); here each site's buffer
    becomes a broadcast cell cover and the exact refine is a pure
    column expression.
    """
    spark = points.sparkSession
    if not sites:
        return points.limit(0).withColumn("site_id", F.lit(None).cast("string"))
    rows = []
    for sid, slon, slat, rad in sites:
        if radius_in_meters:
            # pole- and dateline-safe pruning box for the haversine
            # disc (full longitude once the disc touches a pole;
            # two-step poleward widening on the refine sphere
            # otherwise — converting at the site latitude alone
            # under-buffers the poleward sliver of the disc, and a
            # sub-pole latitude clamp under-buffers high-latitude
            # sites outright)
            xmin, ymin, xmax, ymax = G.geodesic_buffer_box(
                slon, slat, slon, slat, rad
            )
        else:
            # planar-with-lon-wrap refine: flat buffer, wrapped at
            # the antimeridian (xmin>xmax after wrapping signals the
            # split, same as the bbox scan path)
            rad_deg = rad
            xmin, xmax = slon - rad_deg, slon + rad_deg
            if rad_deg < 180.0:
                if xmin < -180.0:
                    xmin += 360.0
                if xmax > 180.0:
                    xmax -= 360.0
            else:
                xmin, xmax = -180.0, 180.0
            ymin = max(slat - rad_deg, -90.0)
            ymax = min(slat + rad_deg, 90.0)
        cell_parts = []
        for bx in G.idl_safe_boxes(xmin, ymin, xmax, ymax):
            box = G.parse_wkt(G.box_wkt(*bx))
            cells_, interior, used = V.polyfill_detail(box, bits)
            cell_parts.append((cells_, used))
        for cells_, used in cell_parts:
            rows.append(
                pd.DataFrame(
                    {
                        "pcell": cells_,
                        "pbits": used,
                        "site_id": sid,
                        "site_x": slon,
                        "site_y": slat,
                        "radius": rad,
                    }
                )
            )
    cover = pd.concat(rows, ignore_index=True)
    # a wrapped site's two IDL boxes cover disjoint LON RANGES, but
    # when the un-buffered gap is narrower than a cover cell the
    # gap-spanning cell is polyfilled by BOTH pieces — dedup or the
    # matching points join (and return) twice for that site
    cover = cover.drop_duplicates(
        subset=["pcell", "pbits", "site_id"], ignore_index=True
    )
    out = None
    for pbits, grp in cover.groupby("pbits"):
        cov_df = spark.createDataFrame(grp.drop(columns=["pbits"]))
        pts = points.withColumn(
            "_pcell", C.cell_parent(F.col(cell_col), cell_bits, int(pbits))
        )
        j = pts.join(F.broadcast(cov_df), pts["_pcell"] == cov_df["pcell"], "inner")
        # exact dwithin for point sites is a plain column expression
        # (FilterHelper dwithin-degrees rewrite, then euclidean —
        # or exact haversine when the radius is in meters)
        if radius_in_meters:
            dist_ok = GS.haversine_m_col(
                F.col(lon_col), F.col(lat_col), F.col("site_x"), F.col("site_y")
            ) <= F.col("radius")
        else:
            # longitude delta wraps (a site at -179.9 is 0.2 deg from
            # a point at 179.9); for non-wrapping configurations the
            # min() is the plain delta, so results are unchanged
            dlon = F.abs(F.col(lon_col) - F.col("site_x"))
            dlon = F.least(dlon, F.lit(360.0) - dlon)
            dlat = F.col(lat_col) - F.col("site_y")
            dist_ok = (dlon * dlon + dlat * dlat) <= F.col("radius") * F.col("radius")
        j = j.filter(dist_ok).drop("_pcell", "pcell", "site_x", "site_y", "radius")
        out = j if out is None else out.unionByName(j)
    # no output dedup needed: cover cells were deduped per site
    # above, so each (point, site) pair appears at most once
    return out
