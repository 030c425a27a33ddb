"""Physical-plan shape assertions: the scale guarantees.

These tests pin the properties that make the engine viable at 100 TB:
predicate/partition pruning reaches the parquet scan, small sides
broadcast, and the hot paths contain no Python evaluation nodes.
"""

import pytest
from pyspark.sql import functions as F

from geomesa_spark.operators.spatial_join import pip_join_broadcast
from geomesa_spark.plans.planner import QuerySpec, scan
from geomesa_spark.sources.docs import synth_docs, write_docs_table


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def stored(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("docs") / "tbl")
    write_docs_table(synth_docs(spark, 5000), path)
    return spark.read.parquet(path)


def test_week_partition_pruning(spark, stored, pushed_filters):
    from datetime import datetime, timezone

    spec = QuerySpec(
        bbox=(-10, -10, 10, 10),
        t0=datetime(2010, 5, 2, tzinfo=timezone.utc),
        t1=datetime(2010, 5, 9, tzinfo=timezone.utc),
    )
    p = plan_of(scan(stored, spec))
    # week is a directory-partition column: the filter must appear as
    # a partition filter on the scan, not a post-scan filter
    assert "PartitionFilters" in p
    assert "week" in p.split("PartitionFilters", 1)[1][:400]
    # the exact dtg bounds reach Parquet too; they follow the Z2 and
    # Z3 range sets at the end of a ~14,000-character list
    pushed = pushed_filters(p)
    assert "GreaterThanOrEqual(dtg,2010-05-02 00:00:00.0)" in pushed
    assert "LessThan(dtg,2010-05-09 00:00:00.0)" in pushed


def test_cell_range_predicates_pushed(spark, stored, pushed_filters):
    from geomesa_spark.plans import cover as V

    spec = QuerySpec(bbox=(-10, -10, 10, 10))
    p = plan_of(scan(stored, spec))
    # stored cell column -> range predicates reach PushedFilters so
    # parquet row-group stats skip (the Z2 range-scan analog)
    pushed = pushed_filters(p)
    assert "cell" in pushed and "GreaterThanOrEqual" in pushed
    # every range of the cover is pushed, the last one included
    ranges = V.merge_ranges(
        V.zranges_2d(-10, -10, 10, 10), V.DEFAULT_MAX_RANGES
    )
    for lo, hi in ranges:
        if lo == hi:
            assert f"EqualTo(cell,{lo})" in pushed
        else:
            assert f"GreaterThanOrEqual(cell,{lo})" in pushed
            assert f"LessThanOrEqual(cell,{hi})" in pushed


def test_derived_cell_skips_ranges(spark):
    # derived (non-stored) cell column: no OR-of-ranges is emitted
    # (they cannot prune and they blow up codegen)
    docs = synth_docs(spark, 100)
    from geomesa_spark.sources.docs import extract_geometry

    ge = extract_geometry(docs)
    spec = QuerySpec(bbox=(-10, -10, 10, 10))
    p = plan_of(scan(ge, spec))
    assert p.count("cell#") < 40  # no 200-term OR over the cell expr


def test_column_pruning_projection(spark, stored):
    p = plan_of(stored.select("doc_id", "lon"))
    sched = p.split("ReadSchema", 1)[1][:200]
    assert "doc_id" in sched and "lon" in sched
    assert "spans" not in sched  # covering-index analog: spans unread


def test_pip_broadcast_no_python_no_shuffle(spark, stored):
    out = pip_join_broadcast(
        stored, [("p1", "POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0))")]
    )
    p = plan_of(out)
    assert "BroadcastHashJoin" in p
    # the whole join+refine is JVM-side: no Arrow/Python eval nodes
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    # and no shuffle of the document table
    assert "Exchange hashpartitioning" not in p


def test_pip_output_preserves_spans(spark, stored):
    out = pip_join_broadcast(
        stored, [("p1", "POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0))")]
    )
    assert "spans" in out.columns  # span-sequence invariant carrier
    row = out.select("spans").first()
    assert row is not None and len(row.spans) >= 2


def test_geom_join_refine_is_jvm(spark):
    """After geom_table's one Arrow parse stage, the geometry join
    (cover, dedup, nested-HOF refine) must contain no further Python
    eval nodes, and the polygon cover/edge tables must broadcast."""
    from geomesa_spark.operators import geom_data as GD

    src = spark.createDataFrame(
        [("a", "LINESTRING (0 0, 5 5, 9 2)")], "gid string, geom_wkt string"
    )
    out = GD.geom_join_broadcast(
        GD.geom_table(src), [("p", "POLYGON ((1 1, 8 1, 4 8, 1 1))")], bits=5
    )
    import re

    p = plan_of(out)
    # exactly one Python stage: the WKT parse (ingest); zero in the
    # join/refine pipeline above it (formatted explain prints every
    # node twice — once in the tree, once in the details section —
    # so count distinct node headers)
    assert p.count("ArrowEvalPython") == 0
    assert len(set(re.findall(r"\((\d+)\) MapInPandas", p))) == 1
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_geom_table_native_no_python(spark):
    from geomesa_spark.operators import geom_data as GD

    src = spark.createDataFrame(
        [("a", "POLYGON ((0 0, 5 0, 2 4, 0 0))")], "gid string, geom_wkt string"
    )
    p = plan_of(GD.geom_table_native(src))
    assert "MapInPandas" not in p and "EvalPython" not in p


def test_knn_df_no_python(spark):
    """The DataFrame kNN join is pure JVM: candidate generation is
    explode(sequence), ranking is a window — no Python stages."""
    import pandas as pd
    from geomesa_spark.functions import cells as C
    from geomesa_spark.operators.knn import knn_join_df

    pts = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["a", "b"], "lon": [0.0, 1.0], "lat": [0.0, 1.0]})
    ).withColumn("cell", C.z2_cell(F.col("lon"), F.col("lat")))
    qs = spark.createDataFrame(
        pd.DataFrame({"qid": ["q"], "qlon": [0.5], "qlat": [0.5]})
    )
    out = knn_join_df(pts, qs, 1)
    p = plan_of(out)
    assert "EvalPython" not in p and "MapInPandas" not in p


def test_budgeted_cover_stays_jvm(spark):
    """The budgeted multi-resolution cover (rb column + shifted cell
    array + supercover walk) is pure column ops: over the all-JVM
    parser the whole pipeline has zero Python eval nodes."""
    from geomesa_spark.operators import geom_data as GD

    src = spark.createDataFrame(
        [("a", "LINESTRING (-150 -60, 140 70)"),
         ("b", "POLYGON ((-120 -30, 60 -30, 60 30, -120 30, -120 -30))")],
        "gid string, geom_wkt string",
    )
    plan = (
        GD.geom_cover_cells(GD.geom_table_native(src), 10, budget=128)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


# LINESTRING (0 0, 4 4, 8 0, 10 0): slope +-1 and horizontal segments,
# so every quarter-degree grid point's segment distance is exact in
# doubles and "on the line" is an unambiguous zero
_LINE = [(0.0, 0.0), (4.0, 4.0), (8.0, 0.0), (10.0, 0.0)]


def _line_oracle(x, y):
    """Brute-force numpy: minimum squared distance to the line's
    segments is zero."""
    import numpy as np

    best = np.full(len(x), np.inf)
    for (x0, y0), (x1, y1) in zip(_LINE, _LINE[1:]):
        dx, dy = x1 - x0, y1 - y0
        t = np.clip(((x - x0) * dx + (y - y0) * dy) / (dx * dx + dy * dy), 0, 1)
        best = np.minimum(best, (x - (x0 + t * dx)) ** 2 + (y - (y0 + t * dy)) ** 2)
    return best == 0.0


@pytest.mark.parametrize(
    "wkt,oracle",
    [
        (
            "LINESTRING (" + ", ".join(f"{x:g} {y:g}" for x, y in _LINE) + ")",
            _line_oracle,
        ),
        ("POINT (2 2)", lambda x, y: (x == 2.0) & (y == 2.0)),
        (
            # overlapping members: each member counts on its own
            "MULTIPOLYGON (((0.1 0.1, 3.1 0.1, 3.1 3.1, 0.1 3.1, 0.1 0.1)), "
            "((2.1 2.1, 5.1 2.1, 5.1 4.1, 2.1 4.1, 2.1 2.1)))",
            lambda x, y: ((0.1 < x) & (x < 3.1) & (0.1 < y) & (y < 3.1))
            | ((2.1 < x) & (x < 5.1) & (2.1 < y) & (y < 4.1)),
        ),
    ],
    ids=["linestring", "point", "multipolygon"],
)
def test_ecql_intersects_refine_is_jvm(spark, wkt, oracle):
    """INTERSECTS refines every geometry kind with JVM expressions:
    no Python eval node in the scan, and the rows match a brute-force
    numpy answer for grid points on and off the geometry."""
    import numpy as np

    from geomesa_spark.plans.ecql import ecql_scan

    gx, gy = np.meshgrid(np.arange(-1, 11.25, 0.25), np.arange(-1, 5.25, 0.25))
    x, y = gx.ravel(), gy.ravel()
    pts = spark.createDataFrame(
        [(f"d{i}", float(a), float(b)) for i, (a, b) in enumerate(zip(x, y))],
        "doc_id string, lon double, lat double",
    )
    out = ecql_scan(pts, f"INTERSECTS(geom, {wkt})")
    p = plan_of(out)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    got = {r.doc_id for r in out.select("doc_id").collect()}
    want = {f"d{i}" for i in np.nonzero(oracle(x, y))[0]}
    assert got == want and want
