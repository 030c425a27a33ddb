"""Filter spec → pruned DataFrame scan (the mini query planner).

Replaces the reference's strategy pipeline (SURVEY.md §3.1 steps
2-5: QueryFilterSplitter → QueryStrategyDecider → per-strategy key
planning). There is exactly one table, so strategy *choice* is
obsolete; what remains is emitting **pushable column predicates**
so Catalyst/Parquet prune partitions, files and row groups:

- week partition pruning  (analog: 2-byte epoch-week key prefix,
  Z3Table.scala:120-128)
- cell range predicates   (analog: Z2/geohash row ranges,
  QueryPlanners.scala key plans; ranges merged like MergeQueue)
- dtg interval            (analog: Z3Iterator precise decode,
  Z3Iterator.scala:55-70) with the reference's exclusive-endpoint
  second-rounding semantics (FilterHelper.scala:148-224)
- attribute predicates    (analog: attr_idx lexicoded ranges —
  plain column predicates here, AttributeIdxStrategy.scala:204-311)
- whole-world filter elimination (FilterHelper.scala:64-82)
- residual exact-geometry refine (only when the query geometry is
  not a bbox), a JVM expression for every geometry kind

The time, box and point-in-geometry predicates are each built by one
function here, which `scan`, the ECQL residuals and `geom_scan` share.

Everything emitted is a plain column predicate, so `.explain()`
shows the ranges in PushedFilters at the Parquet scan. A range set is
built as one balanced SQL expression and parsed by the JVM in a
single call (`cell_range_predicate`): building it Column by Column
costs a py4j round trip per literal and operator, and a left-deep OR
of a few thousand terms overflows the stack in Catalyst.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geomesa_spark.functions import cells as C
from geomesa_spark.functions import geometry as G
from geomesa_spark.functions import geometry_sql as GS
from geomesa_spark.plans import cover as V

WHOLE_WORLD = (-180.0, -90.0, 180.0, 90.0)


@dataclass
class QuerySpec:
    """Declarative query filter (the engine's FilterPlan analog)."""

    geometry_wkt: str | None = None      # bbox or polygon WKT
    bbox: tuple[float, float, float, float] | None = None
    t0: datetime | None = None
    t1: datetime | None = None
    t0_exclusive: bool = False
    t1_exclusive: bool = True            # GeoTools `during` is exclusive
    ids: list[str] | None = None
    attr_predicates: list[str] = field(default_factory=list)  # SQL strings


def _utc(dt: datetime) -> datetime:
    """Naive datetimes mean UTC everywhere in this engine."""
    return dt if dt.tzinfo else dt.replace(tzinfo=timezone.utc)


def _epoch(dt: datetime) -> int:
    return int(_utc(dt).timestamp())


def _epoch_lower(dt: datetime) -> int:
    """Largest whole second <= dt: the inclusive lower bound for
    second-granular index structures (week / z3 time component).

    The reference rounds exclusive endpoints *inward* to seconds
    (FilterHelper.scala:148-224) because its stored timestamps are
    second-precision; this engine stores full-precision timestamps,
    so index bounds must round *outward* (stay a superset — a dtg of
    10.7s lives in index second 10 even when t0 is an exclusive
    10.0) and the exact, unrounded dtg predicate refines."""
    return _epoch(dt.replace(microsecond=0))


def _epoch_upper(dt: datetime, exclusive: bool) -> int:
    """Smallest whole second strictly greater than every matching
    dtg: the *exclusive* upper bound for second-granular index
    structures (see `_epoch_lower` for the outward-rounding
    rationale vs FilterHelper.scala:148-224)."""
    floor_e = _epoch(dt.replace(microsecond=0))
    if dt.microsecond > 0:
        return floor_e + 1  # fractional endpoint: ceil
    return floor_e if exclusive else floor_e + 1


def _stored_columns(df: DataFrame) -> set[str]:
    """Names of the physical columns of `df`'s scan leaves (vs derived
    expressions).

    Range predicates on a *stored* cell column are cheap long
    comparisons that reach the parquet reader and prune row groups
    (the Z2 range-scan analog). On a *derived* cell column Catalyst
    collapses the projection and inlines the full bit-interleave
    expression into every OR term — hundreds of ranges then blow up
    Janino codegen — and they can never prune I/O anyway, so we skip
    them: the bbox predicate alone is semantically exact.
    """
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        return {
            name
            for i in range(leaves.size())
            for name in leaves.apply(i).schema().fieldNames()
        }
    except Exception:
        # no _jdf (Spark Connect) or py4j failure: range pruning is
        # silently unavailable — warn ONCE so a degraded deployment
        # has a signal instead of mysteriously slow full scans
        global _WARNED_NO_JDF
        if not _WARNED_NO_JDF:
            _WARNED_NO_JDF = True
            import warnings

            warnings.warn(
                "cannot inspect the physical plan (Spark Connect?); "
                "cell/z3 range pruning disabled — queries fall back "
                "to exact lon/lat/dtg predicates only",
                stacklevel=2,
            )
    return set()


_WARNED_NO_JDF = False


def cell_range_predicate(
    ranges: list[tuple[int, int]], col: str
) -> Column | None:
    """OR-of-BETWEEN over merged cell ranges on the column named `col`.

    The whole set is one SQL string parsed in one `F.expr` call, so
    the py4j cost does not grow with the range count. The OR tree is
    balanced (depth ceil(log2 N)), so Catalyst's recursive rules never
    walk a deep chain; Parquet still receives every term in
    PushedFilters. Terms are `col BETWEEN lo AND hi`, or `col = v`
    when lo == hi, with BIGINT literals."""
    if not ranges:
        return None
    name = "`" + col.replace("`", "``") + "`"
    terms = [
        f"({name} BETWEEN {lo}L AND {hi}L)" if lo != hi else f"({name} = {lo}L)"
        for lo, hi in ranges
    ]
    return F.expr(_balanced_or(terms))


def _balanced_or(terms: list[str]) -> str:
    if len(terms) == 1:
        return terms[0]
    mid = len(terms) // 2
    return f"({_balanced_or(terms[:mid])} OR {_balanced_or(terms[mid:])})"


def time_predicates(
    dtg_col: str,
    t0: datetime | None,
    t1: datetime | None,
    t0_exclusive: bool,
    t1_exclusive: bool,
    week_col: str | None,
) -> list[Column]:
    """The time interval as conjuncts, in filter order.

    The exact predicates compare `dtg_col` with the RAW endpoints
    (full microsecond precision, > / >= and < / <= per exclusivity)
    as UTC-aware literals: a naive one would be read in the host's
    zone. With `week_col`, one more conjunct prunes weeks from
    whichever bounds are set (a t0-only query must not list every
    historical partition); only it rounds to seconds, outward (see
    `_epoch_lower`)."""
    dtg = F.col(dtg_col)
    preds = []
    if t0 is not None:
        lit0 = F.lit(_utc(t0)).cast("timestamp")
        preds.append(dtg > lit0 if t0_exclusive else dtg >= lit0)
    if t1 is not None:
        lit1 = F.lit(_utc(t1)).cast("timestamp")
        preds.append(dtg < lit1 if t1_exclusive else dtg <= lit1)
    if week_col is not None and preds:
        W = C.SECONDS_IN_WEEK
        wpred = None
        if t0 is not None:
            wpred = F.col(week_col) >= F.lit(_epoch_lower(t0) // W)
        if t1 is not None:
            e1 = _epoch_upper(t1, t1_exclusive)
            e_lo = _epoch_lower(t0) if t0 is not None else e1 - 1
            p1 = F.col(week_col) <= F.lit(max(e1 - 1, e_lo) // W)
            wpred = p1 if wpred is None else wpred & p1
        preds.append(wpred)
    return preds


def box_predicate(
    boxes: list[tuple[float, float, float, float]], lon: Column, lat: Column
) -> Column:
    """OR of per-box inclusive lon/lat ranges; `boxes` are already
    split at the antimeridian (`G.idl_safe_boxes`)."""
    pred = None
    for bx in boxes:
        p = lon.between(F.lit(bx[0]), F.lit(bx[2])) & lat.between(
            F.lit(bx[1]), F.lit(bx[3])
        )
        pred = p if pred is None else pred | p
    return pred


def point_in_geom_predicate(geom: G.Geometry, lon: Column, lat: Column) -> Column:
    """Exact point-intersects-geometry test as a JVM expression.

    Polygons: member-OR even-odd (flattened even-odd would cancel
    where overlapping MULTIPOLYGON members stack). A point: equal
    coordinates. Lines and multipoints have no area: the point must
    lie on a segment (minimum squared distance 0)."""
    if geom.kind in ("POLYGON", "MULTIPOLYGON"):
        return GS.contains_geom_col(geom, lon, lat)
    if geom.kind == "POINT":
        x, y = float(geom.rings[0][0, 0]), float(geom.rings[0][0, 1])
        return (lon == F.lit(x)) & (lat == F.lit(y))
    return GS.min_seg_dist2_col(GS.edges_lit(geom), lon, lat) <= F.lit(0.0)


def scan(
    df: DataFrame,
    spec: QuerySpec,
    lon_col: str = "lon",
    lat_col: str = "lat",
    dtg_col: str = "dtg",
    week_col: str = "week",
    cell_col: str = "cell",
    id_col: str = "doc_id",
    cell_bits: int = C.XY_BITS,
    max_ranges: int = V.DEFAULT_MAX_RANGES,
    z3_col: str = "z3",
) -> DataFrame:
    """Apply the spec as pushable predicates + residual refine.

    Z2 cell-range and Z3 range predicates are emitted only for a
    `cell_col` / `z3_col` that is a stored column (see
    `_stored_columns`).
    """
    out = df
    indexed = {cell_col, z3_col} & set(df.columns)
    stored = _stored_columns(df) & indexed if indexed else set()

    # --- ID scan (RecordIdxStrategy analog) ---
    if spec.ids is not None:
        out = out.filter(F.col(id_col).isin(spec.ids))

    # --- spatial ---
    bbox = spec.bbox
    boxes = list(G.idl_safe_boxes(*bbox)) if bbox is not None else None
    geom = None
    if spec.geometry_wkt is not None:
        # IDL-crossing polygons split into in-range pieces
        # (GeohashUtils.scala:721-773 analog); each piece prunes with
        # its OWN bbox — the combined bounds of a split polygon span
        # the world and would prune nothing
        pg = G.normalize_idl(G.parse_wkt(spec.geometry_wkt))
        geom = pg
        if pg.kind == "POLYGON" and len(pg.rings) == 1 and len(pg.rings[0]) == 5:
            r = pg.rings[0]
            xs, ys = set(r[:, 0].tolist()), set(r[:, 1].tolist())
            # 2x2 distinct coords alone also matches a self-
            # intersecting bowtie; require rectangle adjacency
            # (consecutive vertices share exactly one coordinate)
            rectangular = len(xs) == 2 and len(ys) == 2 and all(
                (r[i, 0] == r[i + 1, 0]) != (r[i, 1] == r[i + 1, 1])
                for i in range(4)
            )
            if rectangular:
                geom = None  # axis-aligned box: bbox predicate is exact
        gboxes = []
        for mb in G.member_bounds(pg):
            gboxes.extend(G.idl_safe_boxes(*mb))
        if bbox is not None:
            # geometry AND bbox: the pruning boxes are the pairwise
            # intersections (the refine handles the geometry side,
            # the box predicate below enforces the bbox side)
            clipped = []
            for gb in gboxes:
                for bb in boxes:
                    ix = (max(gb[0], bb[0]), max(gb[1], bb[1]),
                          min(gb[2], bb[2]), min(gb[3], bb[3]))
                    if ix[0] <= ix[2] and ix[1] <= ix[3]:
                        clipped.append(ix)
            boxes = clipped
            if not boxes:
                return out.filter(F.lit(False))
        else:
            boxes = gboxes
        bbox = pg.bounds
    if bbox is not None and len(boxes) == 1:
        # whole-world filter elimination (FilterHelper.scala:64-82).
        # Keyed on the actual PRUNING box, not the geometry's bounds:
        # when spec.bbox is combined with a geometry, `boxes` holds
        # the clipped intersections and is the only predicate
        # enforcing the bbox side — a world-spanning geometry must
        # not eliminate it.
        bx0 = boxes[0]
        if (
            bx0[0] <= WHOLE_WORLD[0]
            and bx0[1] <= WHOLE_WORLD[1]
            and bx0[2] >= WHOLE_WORLD[2]
            and bx0[3] >= WHOLE_WORLD[3]
        ):
            bbox = None
            boxes = None
    if bbox is not None:
        out = out.filter(box_predicate(boxes, F.col(lon_col), F.col(lat_col)))
        # cell ranges: redundant with lon/lat semantically, but they
        # align with the table's cell sort order so Parquet row-group
        # stats skip (the Z2 range-scan analog)
        if cell_col in stored:
            ranges = []
            for bx in boxes:
                ranges.extend(
                    V.zranges_2d(*bx, bits=cell_bits, max_ranges=max_ranges)
                )
            pred = cell_range_predicate(
                V.merge_ranges(ranges, max_ranges), cell_col
            )
            if pred is not None:
                out = out.filter(pred)

    # --- space+time: Z3 range predicates per week (z3-table analog,
    # Z3IdxStrategy.scala:127-178) — emitted only for a stored z3
    # column, same reasoning as the Z2 ranges above ---
    if (
        bbox is not None
        and spec.t0 is not None
        and spec.t1 is not None
        and z3_col in stored
    ):
        e0 = _epoch_lower(spec.t0)
        e1 = _epoch_upper(spec.t1, spec.t1_exclusive)  # exclusive bound
        W = C.SECONDS_IN_WEEK
        w0, w1 = e0 // W, max(e1 - 1, e0) // W
        # union of each week's range set, as a PURE z3 predicate: a
        # week-qualified OR would mix the partition column with a
        # data column and lose parquet pushdown entirely. The union
        # is a safe superset (week pruning + the exact dtg interval
        # below refine), and it reaches PushedFilters so row-group
        # z3 min/max stats skip — the Z3 range-scan analog.
        # `max_ranges` bounds each week's and box's BFS, and
        # merge_ranges caps the union too: a multi-week or multi-box
        # union is otherwise 1,000+ terms, slow to evaluate and past
        # Janino's 64 KB method limit.
        ranges = []
        # z3 values are WEEK-RELATIVE interleaves, so every middle
        # week of a multi-week interval needs the identical full-week
        # [0, W-1] range set — compute that BFS once, not per week
        # (a 3-year interval otherwise re-runs ~150 byte-identical
        # planning BFSes on the driver)
        full_week: list | None = None
        for wk in range(w0, w1 + 1):
            t_lo = max(e0 - wk * W, 0) if wk == w0 else 0
            t_hi = min(e1 - 1 - wk * W, W - 1) if wk == w1 else W - 1
            if t_lo == 0 and t_hi == W - 1:
                if full_week is None:
                    full_week = [
                        r
                        for bx in boxes
                        for r in V.zranges_3d(
                            bx[0], bx[1], bx[2], bx[3], 0, W - 1,
                            max_ranges=max_ranges,
                        )
                    ]
                ranges.extend(full_week)
            else:
                for bx in boxes:
                    ranges.extend(
                        V.zranges_3d(
                            bx[0], bx[1], bx[2], bx[3], t_lo, t_hi,
                            max_ranges=max_ranges,
                        )
                    )
        zpred = cell_range_predicate(V.merge_ranges(ranges, max_ranges), z3_col)
        if zpred is not None:
            out = out.filter(zpred)

    # --- temporal (interval + week pruning) ---
    for p in time_predicates(
        dtg_col, spec.t0, spec.t1, spec.t0_exclusive, spec.t1_exclusive,
        week_col if week_col in df.columns else None,
    ):
        out = out.filter(p)

    # --- attributes ---
    for pred_sql in spec.attr_predicates:
        out = out.filter(F.expr(pred_sql))

    # --- residual exact geometry ---
    if geom is not None:
        out = out.filter(
            point_in_geom_predicate(geom, F.col(lon_col), F.col(lat_col))
        )
    return out


def union_by_id(df: DataFrame, parts: list[DataFrame], id_col: str) -> DataFrame:
    """OR of disjunct scans of `df`: their union, deduped by id.

    The reference splits OR filters into disjoint scans with NOT
    rewriting to avoid duplicates (QueryFilterSplitter.scala:210-225)
    because its scanners cannot dedup cheaply; Spark's hash
    `dropDuplicates` makes the simple union + dedup strictly better
    (one shuffle on the id, no filter-complexity blowup).
    """
    if not parts:  # zero disjuncts: empty result, valid schema
        return df.limit(0)
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    # a single scan of one table has no duplicates — skip the dedup's
    # full hash-partition shuffle
    return out if len(parts) == 1 else out.dropDuplicates([id_col])


def scan_or(
    df: DataFrame,
    specs: list[QuerySpec],
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """OR of filter specs: per-disjunct scans, unioned and deduped by
    id (`union_by_id`)."""
    return union_by_id(
        df, [scan(df, spec, id_col=id_col, **kwargs) for spec in specs], id_col
    )
