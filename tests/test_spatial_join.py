"""Spatial join correctness vs brute-force numpy oracle.

Parity model: the reference's strategy tests assert exact feature-ID
sets per spatial filter (Z3IdxStrategyTest.scala:81-119); we assert
exact (doc_id, poly_id) pair sets against an O(N*P) oracle.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geomesa_spark.functions import geometry as G
from geomesa_spark.operators import spatial_join as SJ
from geomesa_spark.sources import docs as D

POLYS = [
    ("box_nyc", G.box_wkt(-75.0, 39.5, -72.5, 41.5)),       # hot-cell city box
    ("box_paris", G.box_wkt(1.0, 47.5, 3.5, 50.0)),
    ("pentagon", "POLYGON ((0 0, 20 5, 25 20, 10 28, -5 15, 0 0))"),
    ("holey", "POLYGON ((100 -20, 140 -20, 140 20, 100 20, 100 -20), (110 -5, 130 -5, 130 5, 110 5, 110 -5))"),
    ("multi", "MULTIPOLYGON (((60 60, 70 60, 70 70, 60 70, 60 60)), ((-60 -70, -50 -70, -50 -60, -60 -60, -60 -70)))"),
]


@pytest.fixture(scope="module")
def enriched(spark):
    df = D.extract_geometry(D.synth_docs(spark, 4000, partitions=8)).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def oracle_pairs(enriched):
    pdf = enriched.select("doc_id", "lon", "lat").toPandas()
    pairs = set()
    for pid, wkt in POLYS:
        geom = G.parse_wkt(wkt)
        hit = G.contains(geom, pdf.lon.values, pdf.lat.values)
        pairs.update((d, pid) for d in pdf.doc_id.values[hit])
    return pairs


def _result_pairs(df):
    return {(r.doc_id, r.poly_id) for r in df.select("doc_id", "poly_id").collect()}


def test_pip_broadcast_matches_oracle(enriched, oracle_pairs):
    out = SJ.pip_join_broadcast(enriched, POLYS, bits=10)
    assert _result_pairs(out) == oracle_pairs


def test_pip_broadcast_coordinate_columns_named_x_y(enriched, oracle_pairs):
    """The refine's lambda variables never capture a caller column:
    coordinates named `x` / `y` give the same pairs as `lon` / `lat`."""
    xy = enriched.withColumnRenamed("lon", "x").withColumnRenamed("lat", "y")
    out = SJ.pip_join_broadcast(xy, POLYS, bits=10, lon_col="x", lat_col="y")
    assert _result_pairs(out) == oracle_pairs


def test_pip_partitioned_matches_oracle(spark, enriched, oracle_pairs):
    polys_df = spark.createDataFrame(pd.DataFrame(POLYS, columns=["poly_id", "geom_wkt"]))
    out = SJ.pip_join_partitioned(enriched, polys_df, bits=8, budget=4096)
    assert _result_pairs(out) == oracle_pairs


def test_pip_partitioned_salted_matches_oracle(spark, enriched, oracle_pairs):
    """Force salting on (low threshold) — result set must not change."""
    polys_df = spark.createDataFrame(pd.DataFrame(POLYS, columns=["poly_id", "geom_wkt"]))
    out = SJ.pip_join_partitioned(
        enriched, polys_df, bits=8, budget=4096, hot_threshold=50
    )
    assert _result_pairs(out) == oracle_pairs


def test_pip_preserves_spans(enriched):
    out = SJ.pip_join_broadcast(enriched, POLYS[:1], bits=10)
    orig = {r.doc_id: r.spans for r in enriched.select("doc_id", "spans").collect()}
    for r in out.select("doc_id", "spans").collect():
        assert r.spans == orig[r.doc_id]


def test_proximity_join_matches_oracle(enriched):
    sites = [("s1", -73.98, 40.75, 1.5), ("s2", 10.0, 10.0, 3.0)]
    out = SJ.proximity_join(enriched, sites)
    got = {(r.doc_id, r.site_id) for r in out.select("doc_id", "site_id").collect()}
    pdf = enriched.select("doc_id", "lon", "lat").toPandas()
    exp = set()
    for sid, slon, slat, rad in sites:
        d2 = (pdf.lon.values - slon) ** 2 + (pdf.lat.values - slat) ** 2
        exp.update((d, sid) for d in pdf.doc_id.values[d2 <= rad * rad])
    assert got == exp


def test_partitioned_budget_overflow_degrades(spark):
    """A polygon whose cover exceeds the budget at the target
    resolution (even after the 4x retry) must degrade to a coarser
    cover group and still return exact results — one pathological
    geometry can never fail the job."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from geomesa_spark.functions import cells as C
    from geomesa_spark.functions import geometry as G
    from geomesa_spark.operators.spatial_join import pip_join_partitioned

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "doc_id": [f"p{i}" for i in range(1500)],
            "lon": rng.uniform(-180, 180, 1500),
            "lat": rng.uniform(-90, 90, 1500),
        }
    )
    pts = spark.createDataFrame(pdf).withColumn(
        "cell", C.z2_cell(F.col("lon"), F.col("lat"))
    )
    # continental-scale pentagon + a small polygon that fits the
    # budget at bits=12 (mixed resolution groups in one layer)
    big = ("POLYGON ((-120.005 -40.005, -60.005 -40.005, -90.005 30.005, "
           "-120.005 -40.005))")
    small = "POLYGON ((10.05 10.05, 11.05 10.05, 10.55 11.05, 10.05 10.05))"
    polys = spark.createDataFrame(
        [("big", big), ("small", small)], "poly_id string, geom_wkt string"
    )
    out = pip_join_partitioned(pts, polys, bits=12, budget=64)
    got = {(r.doc_id, r.poly_id) for r in out.select("doc_id", "poly_id").collect()}
    exp = set()
    for pid, wkt in [("big", big), ("small", small)]:
        g = G.parse_wkt(wkt)
        m = G.contains(g, pdf.lon.to_numpy(), pdf.lat.to_numpy())
        exp |= {(d, pid) for d in pdf.doc_id[m]}
    assert got == exp


def test_wide_band_waypoint_contract(spark):
    """The reference's documented IDL input contract
    (GeohashUtils.scala:715-719): a successive lon diff > 180 deg is
    INFERRED as a dateline wrap; a genuinely wide planar polygon must
    insert waypoints so every diff is <= 180 (a diff of exactly 180
    stays planar)."""
    from geomesa_spark.functions import cells as C

    pts = spark.createDataFrame(
        [(0.0, 0.0), (179.0, 0.0), (-179.0, 0.0)],
        "lon double, lat double",
    ).withColumn("cell", C.z2_cell(F.col("lon"), F.col("lat")))

    # waypointed world band: planar, contains all three points
    band_wp = ("band", "POLYGON((-180 -20, -180 20, 0 20, 180 20, "
               "180 -20, 0 -20, -180 -20))")
    got = {r.lon for r in SJ.pip_join_broadcast(pts, [band_wp]).collect()}
    assert got == {0.0, 179.0, -179.0}

    # same extremes WITHOUT waypoints: the 240-deg jump is inferred
    # as an IDL wrap -> covers 120..180 / -180..-120 only
    band_wrap = ("wrap", "POLYGON((-120 -20, -120 20, 120 20, "
                 "120 -20, -120 -20))")
    got = {r.lon for r in SJ.pip_join_broadcast(pts, [band_wrap]).collect()}
    assert got == {179.0, -179.0}

    # diff of exactly 180 stays planar
    half = ("half", "POLYGON((-90 -20, -90 20, 90 20, 90 -20, -90 -20))")
    got = {r.lon for r in SJ.pip_join_broadcast(pts, [half]).collect()}
    assert got == {0.0}
