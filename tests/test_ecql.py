"""ECQL front-end tests: engine results vs an independent pure-python
oracle over a synthetic point-feature fixture.

The filter corpus mirrors the strings the reference's own tests feed
ECQL.toFilter (AccumuloDataStoreTest.scala, QueryFilterSplitterTest,
Z3IdxStrategyTest) — spatial, temporal, attribute, ID, and compound
forms. The oracle reimplements even-odd containment, segment
distance, and haversine from scratch in this file (no engine code)
so a shared bug cannot hide."""

import contextlib
import math
import os
import re
import time
from datetime import datetime, timedelta, timezone

import pandas as pd
import pytest

from geomesa_spark.plans import ecql as E

EARTH_RADIUS_M = 6371008.8
UTC = timezone.utc


# ---------------------------------------------------------------------------
# independent oracle geometry
# ---------------------------------------------------------------------------

def _rings(wkt: str):
    body = wkt[wkt.index("(") :]
    out = []
    for grp in re.findall(r"\(([^()]+)\)", body):
        vals = [float(v) for v in grp.replace(",", " ").split()]
        out.append([(vals[i], vals[i + 1]) for i in range(0, len(vals), 2)])
    return out


def _pip(ring, x, y):
    inside = False
    for (x0, y0), (x1, y1) in zip(ring, ring[1:]):
        if (y0 > y) != (y1 > y) and x < x0 + (y - y0) * (x1 - x0) / (y1 - y0):
            inside = not inside
    return inside


def poly_contains(wkt, x, y):
    rings = _rings(wkt)
    return _pip(rings[0], x, y) and not any(_pip(r, x, y) for r in rings[1:])


def seg_dist(ring, x, y):
    best = float("inf")
    pts = ring if len(ring) > 1 else ring * 2
    for (x0, y0), (x1, y1) in zip(pts, pts[1:]):
        dx, dy = x1 - x0, y1 - y0
        ln2 = dx * dx + dy * dy or 1.0
        t = min(1.0, max(0.0, ((x - x0) * dx + (y - y0) * dy) / ln2))
        cx, cy = x0 + t * dx, y0 + t * dy
        best = min(best, math.hypot(x - cx, y - cy))
    return best


def haversine_m(lon1, lat1, lon2, lat2):
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dlat = math.radians(lat2 - lat1)
    dlon = math.radians(lon2 - lon1)
    a = math.sin(dlat / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dlon / 2) ** 2
    return 2.0 * EARTH_RADIUS_M * math.asin(math.sqrt(a))


# ---------------------------------------------------------------------------
# fixture: 240 grid points + named edge cases, with dtg/attrs/nulls
# ---------------------------------------------------------------------------

T0 = datetime(2014, 1, 1, tzinfo=UTC)


def _fixture_rows():
    rows = []
    i = 0
    for lon10 in range(-170, 180, 23):
        for lat10 in range(-80, 90, 21):
            lon, lat = lon10 + 0.505, lat10 + 0.505
            dtg = T0 + timedelta(hours=7 * i)
            name = [None, "alpha", "bravo", "baddy", "charlie"][i % 5]
            rows.append((f"f{i}", lon, lat, dtg, name, i % 30, float(i % 7),
                         f"{i % 10}.0", "abc"[i % 3]))
            i += 1
    # edge cases: inside/outside the canonical test polygon, exact
    # DURING endpoints, a point exactly on a polygon edge (TOUCHES),
    # a near-IDL point
    extra = [
        ("e0", 41.5, 28.5, datetime(2014, 1, 10, tzinfo=UTC), "bravo", 3, 1.0, "9.0", "a"),
        ("e1", 41.5, 28.5, datetime(2014, 1, 20, tzinfo=UTC), None, 4, 2.0, "9.0", "b"),
        ("e2", 41.0, 28.5, datetime(2014, 1, 15, tzinfo=UTC), "alpha", 5, 3.0, "1.0", "c"),
        ("e3", 179.9, 0.5, datetime(2014, 1, 15, tzinfo=UTC), "bravo", 6, 4.0, "2.0", "a"),
        ("e4", -179.9, 0.5, datetime(2014, 1, 15, tzinfo=UTC), "baddy", 7, 5.0, "3.0", "b"),
        ("e5", 45.2, 23.1, datetime(2014, 1, 12, tzinfo=UTC), "alpha", 8, 6.0, "4.0", "c"),
    ]
    return rows + extra


@pytest.fixture(scope="module")
def pdf():
    df = pd.DataFrame(
        _fixture_rows(),
        columns=["doc_id", "lon", "lat", "dtg", "name", "age", "count",
                 "height", "high"],
    )
    # naive UTC timestamps: the session timezone is UTC, and naive
    # comparisons keep the oracle free of tz-localize friction
    df["dtg"] = df["dtg"].dt.tz_localize(None)
    return df


@pytest.fixture(scope="module")
def events(spark, pdf):
    from pyspark.sql import functions as F

    from geomesa_spark.functions import cells as C

    df = (
        spark.createDataFrame(pdf)
        .withColumn("week", C.week(F.col("dtg")))
        .withColumn("cell", C.z2_cell(F.col("lon"), F.col("lat")))
        .cache()
    )
    df.count()
    return df


def _engine_ids(events, text):
    return {r.doc_id for r in E.ecql_scan(events, text).select("doc_id").collect()}


def _oracle_ids(pdf, fn):
    return {
        r.doc_id
        for r in pdf.itertuples()
        if fn(r)
    }


POLY = "POLYGON ((41 28, 42 28, 42 29, 41 29, 41 28))"
BIGPOLY = "POLYGON ((30 10, 120 10, 120 80, 30 80, 30 10))"


# ---------------------------------------------------------------------------
# spatial
# ---------------------------------------------------------------------------

def test_include_exclude(events, pdf):
    assert _engine_ids(events, "INCLUDE") == set(pdf.doc_id)
    assert _engine_ids(events, "EXCLUDE") == set()


def test_bbox(events, pdf):
    got = _engine_ids(events, "BBOX(geom, 30, 10, 120, 80)")
    want = _oracle_ids(pdf, lambda r: 30 <= r.lon <= 120 and 10 <= r.lat <= 80)
    assert got == want and got


def test_bbox_with_crs_arg(events, pdf):
    got = _engine_ids(events, "BBOX(geom, 30, 10, 120, 80, 'EPSG:4326')")
    want = _oracle_ids(pdf, lambda r: 30 <= r.lon <= 120 and 10 <= r.lat <= 80)
    assert got == want


def test_intersects_both_arg_orders(events, pdf):
    want = _oracle_ids(pdf, lambda r: poly_contains(BIGPOLY, r.lon, r.lat))
    assert _engine_ids(events, f"INTERSECTS(geom, {BIGPOLY})") == want
    assert _engine_ids(events, f"INTERSECTS({BIGPOLY}, geom)") == want
    assert want


def test_within_contains(events, pdf):
    want = _oracle_ids(pdf, lambda r: poly_contains(BIGPOLY, r.lon, r.lat))
    assert _engine_ids(events, f"WITHIN(geom, {BIGPOLY})") == want
    assert _engine_ids(events, f"CONTAINS({BIGPOLY}, geom)") == want


def test_disjoint(events, pdf):
    got = _engine_ids(events, f"DISJOINT(geom, {BIGPOLY})")
    want = _oracle_ids(pdf, lambda r: not poly_contains(BIGPOLY, r.lon, r.lat))
    assert got == want


def test_touches_point_on_edge(events, pdf):
    got = _engine_ids(events, f"TOUCHES(geom, {POLY})")
    # e2 sits exactly on the x=41 edge
    assert got == {"e2"}


def test_crosses_overlaps_point_data_false(events):
    assert _engine_ids(events, f"CROSSES(geom, {POLY})") == set()
    assert _engine_ids(events, f"OVERLAPS(geom, {POLY})") == set()


def test_dwithin_meters_point(events, pdf):
    got = _engine_ids(events, "DWITHIN(geom, POINT (45 23), 50000.0, meters)")
    want = _oracle_ids(
        pdf, lambda r: haversine_m(r.lon, r.lat, 45.0, 23.0) <= 50000.0
    )
    assert got == want and "e5" in got


def test_dwithin_degrees_point(events, pdf):
    got = _engine_ids(events, "DWITHIN(geom, POINT (45 23), 2.0, degrees)")
    want = _oracle_ids(
        pdf, lambda r: math.hypot(r.lon - 45.0, r.lat - 23.0) <= 2.0
    )
    assert got == want


def test_beyond_meters_point(events, pdf):
    got = _engine_ids(events, "BEYOND(geom, POINT (45 23), 50000.0, meters)")
    want = _oracle_ids(
        pdf, lambda r: haversine_m(r.lon, r.lat, 45.0, 23.0) > 50000.0
    )
    assert got == want


def test_dwithin_linestring_degrees(events, pdf):
    wkt = "LINESTRING (45 23, 48 27)"
    got = _engine_ids(events, f"DWITHIN(geom, {wkt}, 3.0, degrees)")
    want = _oracle_ids(
        pdf, lambda r: seg_dist(_rings(wkt)[0], r.lon, r.lat) <= 3.0
    )
    assert got == want and got


def test_dwithin_polygon_includes_inside(events, pdf):
    got = _engine_ids(events, f"DWITHIN(geom, {BIGPOLY}, 1.0, degrees)")
    want = _oracle_ids(
        pdf,
        lambda r: poly_contains(BIGPOLY, r.lon, r.lat)
        or seg_dist(_rings(BIGPOLY)[0], r.lon, r.lat) <= 1.0,
    )
    assert got == want


# ---------------------------------------------------------------------------
# temporal
# ---------------------------------------------------------------------------

def test_during_is_exclusive(events, pdf):
    got = _engine_ids(
        events,
        "dtg DURING 2014-01-10T00:00:00.000Z/2014-01-20T00:00:00.000Z",
    )
    t0 = datetime(2014, 1, 10)
    t1 = datetime(2014, 1, 20)
    want = _oracle_ids(pdf, lambda r: t0 < r.dtg < t1)
    # e0 (== t0) and e1 (== t1) are on the endpoints: GeoTools During
    # excludes both
    assert "e0" not in got and "e1" not in got
    assert got == want


def test_before_after_and_reversed(events, pdf):
    t = datetime(2014, 1, 15)
    before = _oracle_ids(pdf, lambda r: r.dtg < t)
    after = _oracle_ids(pdf, lambda r: r.dtg > t)
    assert _engine_ids(events, "dtg BEFORE 2014-01-15T00:00:00.000Z") == before
    assert _engine_ids(events, "dtg AFTER 2014-01-15T00:00:00.000Z") == after
    # reversed literal-first forms (AccumuloDataStore attribute tests)
    assert _engine_ids(events, "2014-01-15T00:00:00.000Z BEFORE dtg") == after
    assert _engine_ids(events, "2014-01-15T00:00:00.000Z AFTER dtg") == before


def test_tequals(events, pdf):
    got = _engine_ids(events, "dtg TEQUALS 2014-01-15T00:00:00.000Z")
    want = _oracle_ids(pdf, lambda r: r.dtg == datetime(2014, 1, 15))
    assert got == want and {"e2", "e3", "e4"} <= got


def test_between_inclusive(events, pdf):
    got = _engine_ids(
        events,
        "dtg BETWEEN '2014-01-10T00:00:00.000Z' AND '2014-01-20T00:00:00.000Z'",
    )
    t0 = datetime(2014, 1, 10)
    t1 = datetime(2014, 1, 20)
    want = _oracle_ids(pdf, lambda r: t0 <= r.dtg <= t1)
    assert "e0" in got and "e1" in got
    assert got == want


def test_during_offset_timezone(events, pdf):
    # +02:00 offsets must normalize to UTC
    got = _engine_ids(
        events,
        "dtg DURING 2014-01-10T02:00:00+02:00/2014-01-20T02:00:00+02:00",
    )
    t0 = datetime(2014, 1, 10)
    t1 = datetime(2014, 1, 20)
    want = _oracle_ids(pdf, lambda r: t0 < r.dtg < t1)
    assert got == want


@contextlib.contextmanager
def _process_zone(tz):
    """Run with the Python process in time zone `tz` (the JVM and the
    session zone stay UTC)."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = tz
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


@pytest.fixture(scope="module")
def hourly(spark):
    """25 hourly rows at (0, 0) from 2024-01-10T00:00Z, with a second
    timestamp attribute `seen` one hour after `dtg`."""
    t = datetime(2024, 1, 10, tzinfo=UTC)
    rows = [
        (f"h{h}", 0.0, 0.0, t + timedelta(hours=h), t + timedelta(hours=h + 1), h % 4)
        for h in range(25)
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, lon double, lat double, dtg timestamp, "
        "seen timestamp, age int",
    ).cache()
    df.count()
    return df


def _hours(lo, hi):
    return {f"h{h}" for h in range(lo, hi + 1)}


@pytest.mark.parametrize(
    "text,want",
    [
        # the NOT leaf is a residual time predicate
        ("BBOX(geom, -1, -1, 1, 1) AND dtg AFTER 2024-01-10T08:00:00Z "
         "AND NOT (dtg AFTER 2024-01-10T16:00:00Z)", _hours(9, 16)),
        # a timestamp attribute other than dtg is always residual
        ("seen AFTER 2024-01-10T08:00:00Z AND seen BEFORE 2024-01-10T12:00:00Z",
         _hours(8, 10)),
        # DNF blowup: the whole filter is one residual
        (" AND ".join(["(dtg BEFORE 2024-01-10T05:00:00Z OR age > 5)"] * 8),
         _hours(0, 4)),
    ],
    ids=["not_dtg", "other_attr", "dnf_fallback"],
)
def test_residual_time_ignores_process_zone(hourly, text, want):
    """Residual time literals are UTC instants: the host's time zone
    must not move them (the JVM session zone is UTC either way)."""
    assert _engine_ids(hourly, text) == want
    with _process_zone("America/New_York"):
        assert _engine_ids(hourly, text) == want


# ---------------------------------------------------------------------------
# attributes / IDs / logic
# ---------------------------------------------------------------------------

def test_attr_eq_and_compare(events, pdf):
    assert _engine_ids(events, "name = 'bravo'") == _oracle_ids(
        pdf, lambda r: r.name == "bravo"
    )
    assert _engine_ids(events, "age > 20 AND count <= 3") == _oracle_ids(
        pdf, lambda r: r.age > 20 and r.count <= 3
    )
    assert _engine_ids(events, "name <> 'bravo'") == _oracle_ids(
        pdf, lambda r: r.name is not None and r.name != "bravo"
    )


def test_like_ilike(events, pdf):
    assert _engine_ids(events, "name LIKE 'ba%'") == _oracle_ids(
        pdf, lambda r: r.name is not None and r.name.startswith("ba")
    )
    assert _engine_ids(events, "name ILIKE 'BA%'") == _oracle_ids(
        pdf, lambda r: r.name is not None and r.name.lower().startswith("ba")
    )
    assert _engine_ids(events, "name NOT LIKE 'ba%'") == _oracle_ids(
        pdf, lambda r: not (r.name is not None and r.name.startswith("ba"))
    )


def test_attr_in_and_is_null(events, pdf):
    assert _engine_ids(events, "name IN ('alpha', 'bravo')") == _oracle_ids(
        pdf, lambda r: r.name in ("alpha", "bravo")
    )
    assert _engine_ids(events, "name IS NULL") == _oracle_ids(
        pdf, lambda r: r.name is None
    )
    assert _engine_ids(events, "name IS NOT NULL") == _oracle_ids(
        pdf, lambda r: r.name is not None
    )


def test_feature_id_in(events):
    assert _engine_ids(events, "IN ('f1', 'f5', 'e3')") == {"f1", "f5", "e3"}


def test_not_is_null_safe(events, pdf):
    # GeoTools two-valued NOT: null name rows MATCH NOT(name='bravo')
    got = _engine_ids(events, "NOT (name = 'bravo')")
    want = _oracle_ids(pdf, lambda r: not (r.name == "bravo"))
    null_ids = _oracle_ids(pdf, lambda r: r.name is None)
    assert null_ids <= got
    assert got == want


def test_or_and_nesting(events, pdf):
    text = (
        f"(INTERSECTS(geom, {POLY}) OR name = 'baddy') "
        "AND dtg BEFORE 2014-01-30T00:00:00.000Z"
    )
    tcut = datetime(2014, 1, 30)
    want = _oracle_ids(
        pdf,
        lambda r: (poly_contains(POLY, r.lon, r.lat) or r.name == "baddy")
        and r.dtg < tcut,
    )
    assert _engine_ids(events, text) == want and want


def test_compound_reference_shape(events, pdf):
    # the canonical reference compound: attr OR-list AND bbox AND during
    text = (
        "(name = 'alpha' OR name = 'bravo') "
        "AND BBOX(geom, -180.0, -90.0, 180.0, 90.0) "
        "AND dtg DURING 2014-01-01T00:00:00+00:00/2014-01-25T23:59:59+00:00"
    )
    t0 = datetime(2014, 1, 1)
    t1 = datetime(2014, 1, 25, 23, 59, 59)
    want = _oracle_ids(
        pdf,
        lambda r: r.name in ("alpha", "bravo")
        and t0 < r.dtg < t1,
    )
    assert _engine_ids(events, text) == want and want


def test_not_over_spatial(events, pdf):
    got = _engine_ids(events, f"NOT INTERSECTS(geom, {BIGPOLY})")
    want = _oracle_ids(pdf, lambda r: not poly_contains(BIGPOLY, r.lon, r.lat))
    assert got == want


def test_two_spatial_conjuncts(events, pdf):
    text = f"INTERSECTS(geom, {BIGPOLY}) AND BBOX(geom, 30, 10, 60, 40)"
    want = _oracle_ids(
        pdf,
        lambda r: poly_contains(BIGPOLY, r.lon, r.lat)
        and 30 <= r.lon <= 60
        and 10 <= r.lat <= 40,
    )
    assert _engine_ids(events, text) == want and want


def test_dnf_blowup_fallback(events, pdf):
    # (a OR b) x 8 -> 256 disjuncts > MAX_DISJUNCTS: falls back to
    # one full-scan disjunct with the whole filter as residual
    clause = "(name = 'alpha' OR age > 3)"
    text = " AND ".join([clause] * 8)
    specs = E.compile_ecql(text)
    assert len(specs) == 1 and not specs[0][0].attr_predicates
    want = _oracle_ids(
        pdf, lambda r: r.name == "alpha" or r.age > 3
    )
    assert _engine_ids(events, text) == want


def test_or_dedup_single_ids(events, pdf):
    # overlapping disjuncts must not duplicate rows
    text = "BBOX(geom, 30, 10, 120, 80) OR BBOX(geom, 30, 10, 60, 40)"
    rows = E.ecql_scan(events, text).select("doc_id").collect()
    assert len(rows) == len({r.doc_id for r in rows})
    want = _oracle_ids(pdf, lambda r: 30 <= r.lon <= 120 and 10 <= r.lat <= 80)
    assert {r.doc_id for r in rows} == want


# ---------------------------------------------------------------------------
# parser robustness on the reference's own filter corpus
# ---------------------------------------------------------------------------

REFERENCE_CORPUS = [
    # AccumuloDataStoreTest / Z3IdxStrategyTest / QueryFilterSplitterTest
    "name >= '3name3' AND height = '9.0'",
    "count>=2",
    "(high IN ('a','b','c')) AND BBOX(geom, 40.0,40.0,50.0,50.0) AND "
    "dtg DURING 2014-01-01T00:00:00+00:00/2014-01-01T23:59:59+00:00",
    "bbox(geom,-75,-75,-60,-60) AND dtg DURING "
    "2014-01-01T00:00:00+00:00/2014-01-01T23:59:59+00:00",
    "contains(POLYGON ((40 40, 50 40, 50 50, 40 50, 40 40)), geom) AND "
    "dtg DURING 2014-01-01T00:00:00+00:00/2014-01-01T23:59:59+00:00",
    "name LIKE 'baddy' AND age=21 AND count<5",
    "(age = 15) or (age = 16) or (age = 17)",
    "CROSSES(geom, POLYGON ((41 28, 42 28, 42 29, 41 29, 41 28))) AND "
    "DISJOINT(geom, POLYGON ((44 23, 46 23, 46 25, 44 25, 44 23)))",
    "((INTERSECTS(geom, POLYGON ((41 28, 42 28, 42 29, 41 29, 41 28))) OR "
    "INTERSECTS(geom, POLYGON ((44 23, 46 23, 46 25, 44 25, 44 23)))) AND "
    "(dtg BETWEEN '2014-01-01T00:00:00.000Z' AND '2014-01-31T23:59:59.000Z' "
    "OR name = 'alpha'))",
    "DWITHIN(geom, POINT (45 23), 10000.0, meters)",
    "DWITHIN(geom, LINESTRING (45 23, 48 27), 1000.0, meters)",
    "2013-01-01T12:30:00.000Z BEFORE dtg",
    "2014-01-01T12:30:00.000Z AFTER dtg",
    "WITHIN(geom, POLYGON ((40 20, 50 20, 50 30, 40 30, 40 20))) AND "
    "name = '2nd100001'",
    "INTERSECTS(POLYGON ((-45 -45, -45 45, 45 45, 45 -45, -45 -45)), geom)",
    "AND INTERSECTS(geom, POLYGON ((-30 -30, -30 30, 30 30, 30 -30, -30 -30)))",
]


def test_reference_corpus_parses(events):
    for text in REFERENCE_CORPUS:
        t = text.strip()
        if t.upper().startswith("AND "):  # fragment from string concat
            t = t[4:]
        ast = E.parse(t)
        assert ast is not None
        # compiles and runs end-to-end
        E.ecql_scan(events, t).count()


def test_lowercase_keywords(events, pdf):
    got = _engine_ids(events, "bbox(geom,30,10,120,80) and name is not null")
    want = _oracle_ids(
        pdf, lambda r: 30 <= r.lon <= 120 and 10 <= r.lat <= 80
        and r.name is not None
    )
    assert got == want


def test_quote_escape(events, pdf):
    got = _engine_ids(events, "name = 'it''s'")
    assert got == set()


def test_parse_errors():
    for bad in ["BBOX(geom, 1, 2, 3)", "name =", "DURING x/y",
                "INTERSECTS(geom)", "POLYGON", "name = 'unterminated"]:
        with pytest.raises(E.ECQLError):
            E.parse(bad)


# ---------------------------------------------------------------------------
# plan shape: the primary spatial/temporal push down; no Python UDFs
# ---------------------------------------------------------------------------

def test_pushdown_plan_shape(spark, events, tmp_path, pushed_filters):
    from pyspark.sql import functions as F  # noqa: F401

    path = str(tmp_path / "ecql_events")
    events.write.mode("overwrite").parquet(path)
    stored = spark.read.parquet(path)
    out = E.ecql_scan(
        stored,
        f"INTERSECTS(geom, {BIGPOLY}) AND "
        "dtg DURING 2014-01-05T00:00:00.000Z/2014-01-25T00:00:00.000Z",
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in plan and "lon" in plan
    # the DURING bounds (exclusive) follow the cell ranges, past
    # character 5,000 of the pushed list
    pushed = pushed_filters(plan)
    assert "GreaterThan(dtg,2014-01-05 00:00:00.0)" in pushed
    assert "LessThan(dtg,2014-01-25 00:00:00.0)" in pushed
    # polygon refine is the JVM even-odd aggregate, not a Python UDF
    assert "pythonUDF" not in plan and "BatchEvalPython" not in plan


def test_unknown_geometry_attribute_raises():
    # evaluating an undeclared geometry attribute against lon/lat
    # would return wrong-but-plausible rows; it must refuse instead
    for text in [
        "INTERSECTS(g, POLYGON ((0 0, 1 0, 1 1, 0 0)))",
        "NOT INTERSECTS(g, POLYGON ((0 0, 1 0, 1 1, 0 0)))",
        "BBOX(g, 0, 0, 1, 1)",
    ]:
        with pytest.raises(E.ECQLError):
            E.compile_ecql(text)
    # declared via geom_attrs= it compiles
    assert E.compile_ecql("BBOX(g, 0, 0, 1, 1)", geom_attrs=("g",))


# ---------------------------------------------------------------------------
# r4 self-review regressions: dateline/pole DWITHIN pruning, backslash
# string literals
# ---------------------------------------------------------------------------


def _pts_df(spark, rows):
    from pyspark.sql import functions as F

    from geomesa_spark.functions import cells as C

    return (
        spark.createDataFrame(rows, "doc_id string, lon double, lat double")
        .withColumn("dtg", F.lit("2024-01-01").cast("timestamp"))
        .withColumn("week", C.week(F.col("dtg")))
        .withColumn("cell", C.z2_cell(F.col("lon"), F.col("lat")))
    )


def test_dwithin_meters_wraps_antimeridian(spark):
    """The pushed DWITHIN bbox must wrap across ±180, not clamp: the
    exact haversine residual is dateline-aware, so a clamped prune
    silently dropped matches on the far side (confirmed by running
    the pre-fix code: only near_east came back)."""
    df = _pts_df(spark, [
        ("near_east", 179.99, 0.0),
        ("near_west", -179.99, 0.0),   # ~2.2 km across the dateline
        ("far", 170.0, 0.0),           # ~1100 km
    ])
    got = _engine_ids(df, "DWITHIN(geom, POINT (179.99 0.0), 50, kilometers)")
    assert got == {"near_east", "near_west"}


def test_dwithin_meters_polar_cap(spark):
    """A cap that touches the pole reaches every longitude; the
    pruned box must widen to full longitude there (the haversine
    residual correctly matches over-the-pole points)."""
    df = _pts_df(spark, [
        ("same_side", 0.0, 89.95),
        ("over_pole", 180.0, 89.95),   # ~16.7 km over the pole
        ("low", 0.0, 80.0),            # ~1100 km
    ])
    got = _engine_ids(df, "DWITHIN(geom, POINT (0.0 89.9), 50, kilometers)")
    assert got == {"same_side", "over_pole"}


def test_dwithin_deg_not_clamped_below_the_pole():
    """The meters->degrees radius must be evaluated at the geometry's
    own latitude (reference GeometryUtils.distanceDegrees evaluates
    at envelope corners, no sub-pole clamp): capping at 89 degrees
    under-buffers a geometry at 89.8 by ~5x."""
    import math as _math

    from geomesa_spark.functions import geometry as G

    node = E.parse("DWITHIN(geom, POINT (10 89.8), 50, kilometers)")
    dd = E._dwithin_deg(node, G.parse_wkt(node.wkt))
    need = 50000.0 / (111320.0 * _math.cos(_math.radians(89.8)))
    assert dd >= need


def test_backslash_string_literals(spark):
    r"""ECQL strings have no backslash escape (only '' doubles a
    quote), but Spark SQL literals DO treat backslash as one — the
    compiled predicate must double them or name = 'a\d' silently
    becomes name = 'ad' (confirmed on pre-fix code)."""
    from pyspark.sql import functions as F

    from geomesa_spark.functions import cells as C

    rows = [("bs", "a\\d"), ("plain", "ad")]
    df = (
        spark.createDataFrame(rows, "doc_id string, name string")
        .withColumn("lon", F.lit(0.0))
        .withColumn("lat", F.lit(0.0))
        .withColumn("dtg", F.lit("2024-01-01").cast("timestamp"))
        .withColumn("week", C.week(F.col("dtg")))
        .withColumn("cell", C.z2_cell(F.col("lon"), F.col("lat")))
    )
    assert _engine_ids(df, r"name = 'a\d'") == {"bs"}
    assert _engine_ids(df, r"name IN ('a\d')") == {"bs"}
    assert _engine_ids(df, "name = 'ad'") == {"plain"}


def test_dwithin_nonpoint_meters_near_pole_bounded(spark):
    """Second-review regression: the refine radius for a NON-point
    meter DWITHIN is the final planar match radius, so it must be the
    reference's single-step corner-latitude conversion — a poleward
    two-step saturates to match-everything once |lat|+d0 reaches 90
    (confirmed on intermediate code: a 2 km query at lat 89 returned
    the whole table)."""
    from geomesa_spark.functions import geometry as G

    wkt = "LINESTRING (0 89, 1 89)"
    df = _pts_df(spark, [
        ("on_line", 0.5, 89.0),
        ("near", 0.5, 89.5),       # 0.5 deg < dd (~1.03 deg)
        ("far", 0.5, 80.0),        # 9 deg away: must NOT match
        ("antipodal", 180.0, -89.0),
    ])
    got = _engine_ids(df, f"DWITHIN(geom, {wkt}, 2000.0, meters)")
    node = E.parse(f"DWITHIN(geom, {wkt}, 2000.0, meters)")
    dd = E._dwithin_deg(node, G.parse_wkt(node.wkt))
    assert 1.0 < dd < 1.1  # 2000 m at lat 89: ~1.03 deg, not 403
    assert got == {"on_line", "near"}
    # BEYOND is the complement
    got_b = _engine_ids(df, f"BEYOND(geom, {wkt}, 2000.0, meters)")
    assert got_b == {"far", "antipodal"}


def test_dwithin_meters_cap_extreme_sliver(spark):
    """Second-review regression: the pruning radius converted with
    the 111320 m/deg ellipsoid constant is 0.11% NARROWER than the
    haversine refine sphere's lon span, so a witness at the cap's
    exact lon extreme passed the refine but was pruned. The prune
    now converts on the refine sphere (G.SPHERE_DEG_M)."""
    import math as _math

    R = 6371008.8
    qx, qy, m = 0.0, 10.0, 20000.0
    # analytic cap lon extreme: sin(dlon) = sin(r)/cos(lat) at the
    # tangent latitude; place witnesses just INSIDE the cap there
    r = m / R
    lat_t = _math.asin(_math.sin(_math.radians(qy)) / _math.cos(r))
    dlon = _math.degrees(
        _math.asin(_math.sin(r) / _math.cos(_math.radians(qy)))
    )
    rows = [
        ("east_extreme", qx + dlon * 0.99995, _math.degrees(lat_t)),
        ("west_extreme", qx - dlon * 0.99995, _math.degrees(lat_t)),
        ("outside", qx + dlon * 1.02, _math.degrees(lat_t)),
    ]
    df = _pts_df(spark, rows)
    got = _engine_ids(df, f"DWITHIN(geom, POINT ({qx} {qy}), {m}, meters)")
    assert got == {"east_extreme", "west_extreme"}


def test_like_backslash_escapes_match_geotools(spark):
    r"""Second-review regression: Spark LIKE only allows the escape
    before % _ \\ and THROWS on 'a\d'; GeoTools takes the escaped
    char literally. Patterns re-render to Spark's dialect."""
    from pyspark.sql import functions as F

    from geomesa_spark.functions import cells as C

    rows = [("m1", "ad"), ("m2", "a\\d"), ("m3", "C:\\tmp"), ("m4", "Cxtmp")]
    df = (
        spark.createDataFrame(rows, "doc_id string, name string")
        .withColumn("lon", F.lit(0.0)).withColumn("lat", F.lit(0.0))
        .withColumn("dtg", F.lit("2024-01-01").cast("timestamp"))
        .withColumn("week", C.week(F.col("dtg")))
        .withColumn("cell", C.z2_cell(F.col("lon"), F.col("lat")))
    )
    # \d = literal d (GeoTools), not an error
    assert _engine_ids(df, r"name LIKE 'a\d'") == {"m1"}
    # \\ = literal backslash, % stays a wildcard
    assert _engine_ids(df, r"name LIKE 'C:\\%'") == {"m3"}
    # escaped wildcard is literal
    assert _engine_ids(df, r"name LIKE 'a\%'") == set()
