"""Scan-planner parity tests.

Fixture ports the reference's Z3IdxStrategyTest feature set
(Z3IdxStrategyTest.scala:35-60): 30 points in 3 decades —
POINT(40 6i) hourly on 2010-05-07; POINT(40 6(i-10)) daily across
weeks; POINT(40 8(i-20)) — asserting exact ID sets per bbox+interval
filter including whole-world and week-crossing cases (:81-119).
"""

from datetime import datetime, timezone

import pandas as pd
import pytest

from geomesa_spark.plans import planner as P
from geomesa_spark.sources import docs as D


def _dt(s):
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S").replace(tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def fixture_df(spark):
    rows = []
    # decade 0: hourly on 2010-05-07, POINT(40, 6+i)
    for i in range(10):
        rows.append((f"f{i}", 40.0, 60.0 + i * 0.1, f"2010-05-07T{i:02d}:00:00"))
    # decade 1: daily from 2010-05-03 (crosses week boundary), POINT(40, 6+(i-10))
    for i in range(10, 20):
        day = 3 + (i - 10)
        rows.append((f"f{i}", 40.0, 60.0 + (i - 10) * 0.1, f"2010-05-{day:02d}T12:00:00"))
    # decade 2: POINT(40, 8+(i-20)) on 2010-05-07
    for i in range(20, 30):
        rows.append((f"f{i}", 40.0, 80.0 + (i - 20) * 0.1, f"2010-05-07T{i-20:02d}:00:00"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "lon", "lat", "iso"])
    # reuse the doc enrichment path: build spans-equivalent columns directly
    from pyspark.sql import functions as F
    from geomesa_spark.functions import cells as C

    df = (
        spark.createDataFrame(pdf)
        .withColumn("dtg", F.to_timestamp("iso", "yyyy-MM-dd'T'HH:mm:ss"))
        .withColumn("week", C.week(F.col("dtg")))
        .withColumn("cell", C.z2_cell(F.col("lon"), F.col("lat")))
        .cache()
    )
    df.count()
    return df


def _ids(df):
    return {r.doc_id for r in df.select("doc_id").collect()}


def test_bbox_and_interval(fixture_df):
    # analog of "whole world" filter: all 30
    spec = P.QuerySpec(
        bbox=(-180, -90, 180, 90),
        t0=_dt("2010-05-01T00:00:00"),
        t1=_dt("2010-05-31T23:59:59"),
    )
    assert len(_ids(P.scan(fixture_df, spec))) == 30

    # bbox selecting decade 0+1 lat band, day of 2010-05-07
    spec = P.QuerySpec(
        bbox=(35.0, 55.0, 45.0, 75.0),
        t0=_dt("2010-05-07T00:00:00"),
        t1=_dt("2010-05-08T00:00:00"),
    )
    got = _ids(P.scan(fixture_df, spec))
    assert got == {f"f{i}" for i in range(10)} | {"f14"}  # f14 = 2010-05-07 daily


def test_exclusive_endpoint(fixture_df):
    # t1 exclusive: hour-10 point excluded
    spec = P.QuerySpec(
        bbox=(35.0, 55.0, 45.0, 75.0),
        t0=_dt("2010-05-07T00:00:00"),
        t1=_dt("2010-05-07T05:00:00"),
        t1_exclusive=True,
    )
    got = _ids(P.scan(fixture_df, spec))
    assert got == {f"f{i}" for i in range(5)}
    spec.t1_exclusive = False
    got = _ids(P.scan(fixture_df, spec))
    assert got == {f"f{i}" for i in range(6)}


def test_week_crossing(fixture_df):
    # week boundary falls within 2010-05-03..2010-05-12 (daily decade)
    spec = P.QuerySpec(
        bbox=(35.0, 55.0, 45.0, 75.0),
        t0=_dt("2010-05-03T00:00:00"),
        t1=_dt("2010-05-13T00:00:00"),
    )
    got = _ids(P.scan(fixture_df, spec))
    assert {f"f{i}" for i in range(10, 20)} <= got


def test_polygon_residual_refine(fixture_df):
    # triangle catching only low-lat decade-0 points
    spec = P.QuerySpec(
        geometry_wkt="POLYGON ((39 59.5, 41 59.5, 40 60.45, 39 59.5))"
    )
    got = _ids(P.scan(fixture_df, spec))
    # decade-0 AND decade-1 share lon 40 / lat 60.0..60.4 inside the apex
    assert got == {f"f{i}" for i in range(5)} | {f"f{i}" for i in range(10, 15)}


def test_id_scan(fixture_df):
    spec = P.QuerySpec(ids=["f3", "f17", "f29"])
    assert _ids(P.scan(fixture_df, spec)) == {"f3", "f17", "f29"}


def test_attr_predicate(fixture_df):
    spec = P.QuerySpec(attr_predicates=["lat >= 80.5"])
    got = _ids(P.scan(fixture_df, spec))
    assert got == {f"f{i}" for i in range(25, 30)}


def test_whole_world_dropped(fixture_df):
    """Whole-world bbox must not emit any lon/lat/cell predicates."""
    spec = P.QuerySpec(bbox=(-180, -90, 180, 90))
    plan = P.scan(fixture_df, spec)._jdf.queryExecution().optimizedPlan().toString()
    assert "lon" not in plan.lower() or "Filter" not in plan


# --- fractional-second endpoint golden tests (FilterHelper.scala:
# 148-224 parity adapted to full-precision storage: index bounds
# round OUTWARD and the exact dtg predicate refines) ---

FRAC_OFFS_US = [
    10_000_000, 10_400_000, 10_500_000, 10_600_000, 11_000_000,
    19_999_000, 20_000_000, 20_400_000, 20_500_000, 20_600_000,
    21_000_000,
]


@pytest.fixture(scope="module")
def frac_df(spark, tmp_path_factory):
    """Stored cell and z3 columns (a Parquet round trip), so the scan
    emits both the Z2 and the Z3 range predicates."""
    from pyspark.sql import functions as F
    from geomesa_spark.functions import cells as C

    base = _dt("2010-05-07T12:00:00")
    rows = [
        (f"u{i}", 40.0, 60.0, base + __import__("datetime").timedelta(microseconds=us))
        for i, us in enumerate(FRAC_OFFS_US)
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "lon", "lat", "dtg"])
    path = str(tmp_path_factory.mktemp("frac") / "docs")
    (
        spark.createDataFrame(pdf)
        .withColumn("week", C.week(F.col("dtg")))
        .withColumn("cell", C.z2_cell(F.col("lon"), F.col("lat")))
        .withColumn("z3", C.z3_cell(F.col("lon"), F.col("lat"), F.col("dtg")))
        .write.parquet(path)
    )
    return spark.read.parquet(path)


def _frac_expected(t0_us, t1_us, t0_excl, t1_excl):
    lo_ok = (lambda us: us > t0_us) if t0_excl else (lambda us: us >= t0_us)
    hi_ok = (lambda us: us < t1_us) if t1_excl else (lambda us: us <= t1_us)
    return {
        f"u{i}" for i, us in enumerate(FRAC_OFFS_US) if lo_ok(us) and hi_ok(us)
    }


@pytest.mark.parametrize(
    "t0_us,t1_us,t0_excl,t1_excl",
    [
        (10_500_000, 20_500_000, True, True),    # during: both exclusive, fractional
        (10_500_000, 20_500_000, False, False),  # between: inclusive, fractional
        (10_000_000, 20_000_000, True, True),    # whole-second exclusive
        (10_000_000, 20_000_000, False, True),   # default spec semantics
        (10_400_000, 20_600_000, False, False),
        (19_999_000, 20_000_000, True, False),   # sub-second-wide interval
    ],
)
def test_fractional_endpoints(frac_df, t0_us, t1_us, t0_excl, t1_excl):
    from datetime import timedelta

    base = _dt("2010-05-07T12:00:00")
    # a box this small lets the Z3 cover resolve single seconds; over
    # an 80-degree box one time bin spans all 11 s of fixes, and a
    # wrong Z3 endpoint goes unseen
    spec = P.QuerySpec(
        bbox=(39.999, 59.999, 40.001, 60.001),
        t0=base + timedelta(microseconds=t0_us),
        t1=base + timedelta(microseconds=t1_us),
        t0_exclusive=t0_excl,
        t1_exclusive=t1_excl,
    )
    out = P.scan(frac_df, spec)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "(cell#" in plan and "(z3#" in plan
    assert _ids(out) == _frac_expected(t0_us, t1_us, t0_excl, t1_excl)


def test_epoch_bound_helpers():
    from datetime import timedelta

    t = _dt("2010-05-07T12:00:10")
    e = P._epoch(t)
    half = t + timedelta(microseconds=500_000)
    # lower bounds always floor (superset for full-precision data)
    assert P._epoch_lower(t) == e
    assert P._epoch_lower(half) == e
    # upper: fractional -> ceil regardless of exclusivity
    assert P._epoch_upper(half, True) == e + 1
    assert P._epoch_upper(half, False) == e + 1
    # whole second: exclusive stops before it, inclusive covers it
    assert P._epoch_upper(t, True) == e
    assert P._epoch_upper(t, False) == e + 1


def test_scan_bbox_and_geometry_conjunction(fixture_df):
    """bbox AND geometry_wkt both constrain (the bbox used to be
    silently discarded when a geometry was present)."""
    spec = P.QuerySpec(
        geometry_wkt="POLYGON ((35 55, 45 55, 45 90, 35 90, 35 55))",
        bbox=(0.0, 0.0, 50.0, 61.0),
    )
    got = _ids(P.scan(fixture_df, spec))
    # geometry alone matches lat 60..90 points; bbox caps lat at 61
    exp = {
        f"f{i}" for i in range(10)
        if 55 < 60 + i * 0.1 < 90 and 60 + i * 0.1 <= 61
    } | {
        f"f{i}" for i in range(10, 20)
        if 55 < 60 + (i - 10) * 0.1 < 90 and 60 + (i - 10) * 0.1 <= 61
    }
    assert got == exp


def test_scan_bowtie_not_treated_as_box(fixture_df):
    """A self-intersecting 5-point ring with 2x2 distinct coords is
    NOT an axis-aligned box; the exact refine must run."""
    spec = P.QuerySpec(geometry_wkt="POLYGON ((30 50, 50 70, 30 70, 50 50, 30 50))")
    got = _ids(P.scan(fixture_df, spec))
    # the bowtie's triangles exclude the vertical center line region
    # where the f0..f9 points sit (lon=40, lat 60..60.9 inside the
    # middle gap except where the triangles cross)
    import numpy as np
    from geomesa_spark.functions import geometry as G

    g = G.parse_wkt("POLYGON ((30 50, 50 70, 30 70, 50 50, 30 50))")
    rows = fixture_df.select("doc_id", "lon", "lat").collect()
    exp = {
        r.doc_id
        for r in rows
        if bool(G.contains(g, np.array([r.lon]), np.array([r.lat]))[0])
    }
    assert got == exp


def test_scan_or_empty(fixture_df):
    assert P.scan_or(fixture_df, [], id_col="doc_id").count() == 0


def test_world_spanning_geometry_keeps_bbox(spark):
    """A geometry whose BOUNDS span the world must not trigger
    whole-world elimination when spec.bbox also constrains: the
    pruning boxes (geometry∩bbox intersections) are the only
    predicate enforcing the bbox side (ADVICE r2, planner.py:209)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from geomesa_spark.functions import cells as C

    pdf = pd.DataFrame(
        [("in_both", 0.5, 0.5), ("in_diamond_only", 100.0, 0.0)],
        columns=["doc_id", "lon", "lat"],
    )
    df = (
        spark.createDataFrame(pdf)
        .withColumn("dtg", F.to_timestamp(F.lit("2010-05-07T00:00:00")))
        .withColumn("week", C.week(F.col("dtg")))
        .withColumn("cell", C.z2_cell(F.col("lon"), F.col("lat")))
    )
    spec = P.QuerySpec(
        geometry_wkt="POLYGON ((-180 0, 0 -90, 180 0, 0 90, -180 0))",
        bbox=(-1.0, -1.0, 1.0, 1.0),
    )
    assert _ids(P.scan(df, spec)) == {"in_both"}
    # sanity: without the bbox, the diamond matches both
    spec_g = P.QuerySpec(
        geometry_wkt="POLYGON ((-180 0, 0 -90, 180 0, 0 90, -180 0))"
    )
    assert _ids(P.scan(df, spec_g)) == {"in_both", "in_diamond_only"}


def test_cell_range_predicate_2000_ranges(spark, tmp_path):
    """2,000 ranges: a left-deep OR of Columns this long overflowed the
    stack in Catalyst; the balanced one-expression form counts right."""
    import numpy as np

    rng = np.random.default_rng(11)
    vals = np.sort(rng.choice(1 << 40, 4000, replace=False))
    path = str(tmp_path / "z")
    spark.createDataFrame(pd.DataFrame({"z": vals})).coalesce(1).write.parquet(path)
    bounds = np.sort(rng.choice(1 << 40, 4000, replace=False))
    ranges = [(int(bounds[2 * i]), int(bounds[2 * i + 1])) for i in range(2000)]
    # every fifth range a single stored value: the `=` form
    for i in range(0, 2000, 5):
        ranges[i] = (int(vals[2 * i]), int(vals[2 * i]))
    want = np.zeros(len(vals), dtype=bool)
    for lo, hi in ranges:
        want |= (vals >= lo) & (vals <= hi)
    pred = P.cell_range_predicate(ranges, "z")
    assert spark.read.parquet(path).filter(pred).count() == int(want.sum()) > 400


def test_cell_range_predicate_constant_py4j_calls(spark, monkeypatch):
    from py4j import protocol as proto

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(command, *a, **kw):
        # py4j's finalizer thread frees collected JavaObjects with
        # memory commands at any moment; count only the predicate's calls
        if not command.startswith(proto.MEMORY_COMMAND_NAME):
            calls.append(1)
        return send(command, *a, **kw)

    monkeypatch.setattr(client, "send_command", counting)
    counts = []
    for n in (10, 1000):
        calls.clear()
        P.cell_range_predicate([(3 * i, 3 * i + 1) for i in range(n)], "z")
        counts.append(len(calls))
    assert counts[0] == counts[1] > 0


def test_cell_range_predicate_quotes_name(spark):
    df = spark.range(10).withColumnRenamed("id", "a`b c")
    pred = P.cell_range_predicate([(2, 4), (7, 7)], "a`b c")
    assert {r[0] for r in df.filter(pred).collect()} == {2, 3, 4, 7}
