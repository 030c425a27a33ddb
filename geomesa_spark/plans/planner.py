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
- residual exact-geometry refine (vectorized, only when the query
  geometry is not a bbox)

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

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from geomesa_spark.functions import cells as C
from geomesa_spark.functions import geometry as G
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


def _epoch(dt: datetime) -> int:
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp())


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


def _cell_is_stored(df: DataFrame, cell_col: str) -> bool:
    """True iff `cell_col` is a physical column of a scan leaf (vs a
    derived expression).

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
        for i in range(leaves.size()):
            if cell_col in list(leaves.apply(i).schema().fieldNames()):
                return True
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
    return False


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


@pandas_udf(T.BooleanType())
def _refine_geom(wkt: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
    import numpy as np

    out = np.zeros(len(wkt), dtype=bool)
    lon_v = lon.to_numpy(dtype=np.float64)
    lat_v = lat.to_numpy(dtype=np.float64)
    w = wkt.to_numpy()
    for uw in pd.unique(w):
        geom = G.parse_wkt(uw)
        m = w == uw
        out[m] = G.intersects(geom, lon_v[m], lat_v[m])
    return pd.Series(out)


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
    cell_ranges: bool | None = None,
    z3_col: str = "z3",
) -> DataFrame:
    """Apply the spec as pushable predicates + residual refine.

    `cell_ranges`: force cell-range predicates on/off; default None
    auto-enables them only when `cell_col` is a stored column (see
    `_cell_is_stored`).
    """
    out = df
    if cell_ranges is None:
        cell_ranges = cell_col in df.columns and _cell_is_stored(df, cell_col)

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
        for i, bx in enumerate(boxes):
            p = (
                F.col(lon_col).between(F.lit(bx[0]), F.lit(bx[2]))
                & F.col(lat_col).between(F.lit(bx[1]), F.lit(bx[3]))
            )
            box_pred = p if i == 0 else box_pred | p
        out = out.filter(box_pred)
        # cell ranges: redundant with lon/lat semantically, but they
        # align with the table's cell sort order so Parquet row-group
        # stats skip (the Z2 range-scan analog)
        if cell_ranges:
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
        and z3_col in df.columns
        and _cell_is_stored(df, z3_col)
    ):
        # gated on the z3 column being STORED regardless of the
        # cell_ranges override: hundreds of OR'd BETWEENs inlining a
        # derived 62-bit interleave expression is the documented
        # Janino/codegen blowup, and derived columns can never prune
        # I/O anyway
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

    # --- temporal (week pruning + interval) ---
    # the exact predicate uses the RAW endpoints (full microsecond
    # precision, correct >/>= and </<= per exclusivity); only the
    # week/z3 index bounds round to seconds (outward — see
    # _epoch_lower/_epoch_upper)
    if spec.t0 is not None or spec.t1 is not None:
        if spec.t0 is not None:
            t0 = spec.t0 if spec.t0.tzinfo else spec.t0.replace(tzinfo=timezone.utc)
            cmp0 = F.col(dtg_col) > F.lit(t0).cast("timestamp") if spec.t0_exclusive \
                else F.col(dtg_col) >= F.lit(t0).cast("timestamp")
            out = out.filter(cmp0)
        if spec.t1 is not None:
            t1 = spec.t1 if spec.t1.tzinfo else spec.t1.replace(tzinfo=timezone.utc)
            cmp1 = F.col(dtg_col) < F.lit(t1).cast("timestamp") if spec.t1_exclusive \
                else F.col(dtg_col) <= F.lit(t1).cast("timestamp")
            out = out.filter(cmp1)
        if week_col in df.columns:
            # one-sided bounds prune too: a t0-only query on a
            # week-partitioned table must not list every historical
            # partition (week >= w0 skips them all)
            wpred = None
            if spec.t0 is not None:
                w0 = _epoch_lower(spec.t0) // C.SECONDS_IN_WEEK
                wpred = F.col(week_col) >= F.lit(w0)
            if spec.t1 is not None:
                e1 = _epoch_upper(spec.t1, spec.t1_exclusive)
                e_lo = _epoch_lower(spec.t0) if spec.t0 is not None else e1 - 1
                w1 = max(e1 - 1, e_lo) // C.SECONDS_IN_WEEK
                p1 = F.col(week_col) <= F.lit(w1)
                wpred = p1 if wpred is None else wpred & p1
            if wpred is not None:
                out = out.filter(wpred)

    # --- attributes ---
    for pred_sql in spec.attr_predicates:
        out = out.filter(F.expr(pred_sql))

    # --- residual exact geometry ---
    if geom is not None:
        if geom.kind in ("POLYGON", "MULTIPOLYGON"):
            # JVM-side even-odd refine, member-OR for MULTIPOLYGON
            # (flattened even-odd would cancel where overlapping
            # members stack; no Python in the scan path)
            from geomesa_spark.functions import geometry_sql as GS

            out = out.filter(
                GS.contains_geom_col(geom, F.col(lon_col), F.col(lat_col))
            )
        else:
            out = out.filter(
                _refine_geom(
                    F.lit(spec.geometry_wkt), F.col(lon_col), F.col(lat_col)
                )
            )
    return out


def scan_or(
    df: DataFrame,
    specs: list[QuerySpec],
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """OR of filter specs: union of per-disjunct scans, deduped by id.

    The reference splits OR filters into disjoint scans with NOT
    rewriting to avoid duplicates (QueryFilterSplitter.scala:210-225)
    because its scanners cannot dedup cheaply; Spark's hash
    `dropDuplicates` makes the simple union + dedup strictly better
    (one shuffle on the id, no filter-complexity blowup).
    """
    if not specs:  # zero disjuncts: empty result, valid schema
        return df.limit(0)
    if len(specs) == 1:
        # a single scan of one table has no duplicates — skip the
        # dedup's full hash-partition shuffle
        return scan(df, specs[0], id_col=id_col, **kwargs)
    out = None
    for spec in specs:
        part = scan(df, spec, id_col=id_col, **kwargs)
        out = part if out is None else out.unionByName(part)
    return out.dropDuplicates([id_col])
