"""Z3 (space+time) index layout: pruning + correctness parity."""

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from geomesa_spark.plans.planner import QuerySpec, scan
from geomesa_spark.sources.docs import extract_geometry, synth_docs, write_docs_table


@pytest.fixture(scope="module")
def z3_table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("z3docs") / "tbl")
    write_docs_table(synth_docs(spark, 8000), path, layout="z3")
    return spark.read.parquet(path)


SPEC = QuerySpec(
    bbox=(-20.0, -20.0, 25.0, 30.0),
    t0=datetime(2010, 5, 4, tzinfo=timezone.utc),
    t1=datetime(2010, 5, 18, tzinfo=timezone.utc),
)


def test_z3_scan_parity(spark, z3_table):
    got = {r.doc_id for r in scan(z3_table, SPEC).select("doc_id").collect()}
    # oracle: direct filters on the derived columns (no curve preds)
    e0 = int(SPEC.t0.timestamp())
    e1 = int(SPEC.t1.timestamp())
    want = {
        r.doc_id
        for r in z3_table.filter(
            F.col("lon").between(-20.0, 25.0)
            & F.col("lat").between(-20.0, 30.0)
            & (F.unix_timestamp("dtg") >= e0)
            & (F.unix_timestamp("dtg") < e1)
        ).collect()
    }
    assert got == want and len(got) > 0


def test_z3_ranges_in_pushed_filters(spark, z3_table):
    p = z3_table.sparkSession.sparkContext._jvm.PythonSQLUtils.explainString(
        scan(z3_table, SPEC)._jdf.queryExecution(), "formatted"
    )
    pushed = p.split("PushedFilters", 1)[1].split("ReadSchema", 1)[0]
    assert "z3" in pushed  # curve ranges reach the parquet reader


def test_z3_scan_week_boundary(spark, z3_table):
    # interval fully inside one week: single week predicate, parity
    spec = QuerySpec(
        bbox=(-180.0, -90.0, 180.0, 90.0),
        t0=datetime(2010, 5, 10, 6, 0, tzinfo=timezone.utc),
        t1=datetime(2010, 5, 11, 18, 0, tzinfo=timezone.utc),
    )
    got = scan(z3_table, spec).count()
    e0, e1 = int(spec.t0.timestamp()), int(spec.t1.timestamp())
    want = z3_table.filter(
        (F.unix_timestamp("dtg") >= e0) & (F.unix_timestamp("dtg") < e1)
    ).count()
    assert got == want and got > 0


def test_z3_pre_epoch_timestamps(spark, tmp_path):
    """Core-review regression: secs_in_week used Spark's
    sign-following %, so pre-1970 rows stored a clamped t-index of 0
    while the planner's floor-division window expected the offset
    near the TOP of that week — the z3 range predicate silently
    dropped matching rows."""
    from datetime import datetime, timezone

    def doc(doc_id, lon, lat, iso):
        return (doc_id, [("geo", f"POINT ({lon} {lat})", None, 0),
                         ("time", iso, None, 1)])

    rows = [
        doc("old1", 5.0, 5.0, "1969-12-31T23:59:00Z"),
        doc("old2", 5.0, 5.0, "1969-12-29T12:00:00Z"),
        doc("new1", 5.0, 5.0, "1970-01-01T00:01:00Z"),
        doc("faraway", 150.0, -60.0, "1969-12-31T00:00:00Z"),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<"
        "kind:string,text:string,media_ref:string,offset:int>>",
    )
    path = str(tmp_path / "pre_epoch")
    write_docs_table(df, path, layout="z3")
    tbl = spark.read.parquet(path)
    spec = QuerySpec(
        bbox=(0.0, 0.0, 10.0, 10.0),
        t0=datetime(1969, 12, 29, tzinfo=timezone.utc),
        t1=datetime(1970, 1, 1, 1, 0, tzinfo=timezone.utc),
    )
    got = {r.doc_id for r in scan(tbl, spec).select("doc_id").collect()}
    assert got == {"old1", "old2", "new1"}


def test_scan_week_prune_half_open(spark, z3_table):
    """Core-review regression: a t0-only (or t1-only) interval must
    still emit a one-sided week partition bound, or a week-partitioned
    table lists every historical partition."""
    from datetime import datetime, timezone

    spec = QuerySpec(t0=datetime(2010, 5, 4, tzinfo=timezone.utc))
    plan = scan(z3_table, spec)._jdf.queryExecution().optimizedPlan().toString()
    assert "week" in plan and ">=" in plan, plan
    got = scan(z3_table, spec).count()
    want = z3_table.filter(
        F.unix_timestamp("dtg") >= int(spec.t0.timestamp())
    ).count()
    assert got == want > 0

    spec1 = QuerySpec(t1=datetime(2010, 5, 4, tzinfo=timezone.utc))
    got1 = scan(z3_table, spec1).count()
    want1 = z3_table.filter(
        F.unix_timestamp("dtg") < int(spec1.t1.timestamp())
    ).count()
    assert got1 == want1 > 0


def test_scan_or_single_disjunct_no_dedup_shuffle(spark, z3_table):
    """Core-review regression: scan_or([one_spec]) is exactly
    scan(spec) — no dropDuplicates hash-partition exchange."""
    from geomesa_spark.plans.planner import scan_or

    out = scan_or(z3_table, [SPEC], id_col="doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert out.count() == scan(z3_table, SPEC).count()


def test_multipolygon_overlapping_members_refine(spark, z3_table):
    """Core-review regression: even-odd PIP over FLATTENED edges
    cancels where overlapping MULTIPOLYGON members stack (2 shells ->
    2 crossings -> excluded); the refine must OR members like the
    numpy oracle geometry.contains."""
    from geomesa_spark.functions import geometry as G

    mp = (
        "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0)), "
        "((5 5, 15 5, 15 15, 5 15, 5 5)))"
    )
    got = {
        r.doc_id
        for r in scan(z3_table, QuerySpec(geometry_wkt=mp))
        .select("doc_id").collect()
    }
    g = G.parse_wkt(mp)
    import numpy as np

    pdf = z3_table.select("doc_id", "lon", "lat").toPandas()
    mask = G.contains(g, pdf["lon"].to_numpy(), pdf["lat"].to_numpy())
    want = set(pdf["doc_id"][mask])
    assert got == want and want
    # and at least one point genuinely in the overlap region exists
    overlap = pdf[(pdf.lon.between(5, 10)) & (pdf.lat.between(5, 10))]
    assert not overlap.empty


def test_z3_union_capped_at_max_ranges(z3_table, monkeypatch):
    """`max_ranges` caps the union across weeks, not only each week's
    set; the capped set is a superset, so the ids do not change."""
    from geomesa_spark.plans import cover as V
    from geomesa_spark.plans import planner as P

    planned = []
    predicate = P.cell_range_predicate

    def recording(ranges, col):
        planned.append((col, len(ranges)))
        return predicate(ranges, col)

    def z3_ids(df):
        ids = {r.doc_id for r in df.select("doc_id").collect()}
        n = [k for col, k in planned if col == "z3"]
        planned.clear()
        return ids, n

    # crosses the 2010-05-06 week boundary; two week sets of <= 8
    # ranges each merge to more than 8
    spec = QuerySpec(
        bbox=(-7.3, 3.1, 12.7, 21.9),
        t0=datetime(2010, 5, 4, 7, tzinfo=timezone.utc),
        t1=datetime(2010, 5, 8, 3, tzinfo=timezone.utc),
    )
    monkeypatch.setattr(P, "cell_range_predicate", recording)
    capped, n_capped = z3_ids(scan(z3_table, spec, max_ranges=8))
    merge = V.merge_ranges
    monkeypatch.setattr(V, "merge_ranges", lambda r, max_ranges=None: merge(r))
    uncapped, n_uncapped = z3_ids(scan(z3_table, spec, max_ranges=8))
    assert n_capped[0] <= 8 < n_uncapped[0]
    assert capped == uncapped and len(capped) > 0
