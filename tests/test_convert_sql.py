"""Ingest converters, export sinks, SQL function surface."""

import json
import os

import pytest
from pyspark.sql import functions as F

from geomesa_spark.functions import sql_api as S
from geomesa_spark.sources.convert import (
    ConvertSpec,
    delimited_ingest,
    fixed_width_ingest,
    json_ingest,
)
from geomesa_spark.sources.export import export_csv, export_geojson


def test_delimited_ingest(spark, tmp_path):
    p = str(tmp_path / "in.csv")
    with open(p, "w") as f:
        f.write('"a1",3.5,2010-05-01T12:00:00Z,10.5,20.25\n')
        f.write('"b2",4.0,2010-05-02T00:00:00Z,-5.0,0.5\n')
    spec = ConvertSpec(
        fields=[
            ("name", "regexp_replace(_c0, '\"', '')"),
            ("score", "cast(_c1 as double)"),
            ("dtg", "to_timestamp(_c2, \"yyyy-MM-dd'T'HH:mm:ss'Z'\")"),
            ("lon", "cast(_c3 as double)"),
            ("lat", "cast(_c4 as double)"),
            ("fid", "md5(_c0)"),
        ]
    )
    out = delimited_ingest(spark, p, spec).collect()
    assert [r.name for r in out] == ["a1", "b2"]
    assert out[0].score == 3.5 and out[0].lon == 10.5
    assert out[0].dtg.year == 2010
    assert len(out[0].fid) == 32


def test_json_ingest(spark, tmp_path):
    p = str(tmp_path / "in.json")
    with open(p, "w") as f:
        f.write('{"id": "x", "geo": {"lon": 1.5, "lat": 2.5}}\n')
    spec = ConvertSpec(
        fields=[("doc_id", "id"), ("lon", "geo.lon"), ("lat", "geo.lat")]
    )
    r = json_ingest(spark, p, spec).first()
    assert (r.doc_id, r.lon, r.lat) == ("x", 1.5, 2.5)


def test_fixed_width_ingest(spark, tmp_path):
    p = str(tmp_path / "in.txt")
    with open(p, "w") as f:
        f.write("AAA12345\nBBB67890\n")
    out = fixed_width_ingest(
        spark, p, [("code", 1, 3), ("num", 4, 5)],
        ConvertSpec(fields=[("code", "code"), ("num", "cast(num as int)")]),
    ).collect()
    assert {(r.code, r.num) for r in out} == {("AAA", 12345), ("BBB", 67890)}


def test_export_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0], "x")], "id long, arr array<double>, s string"
    )
    path = str(tmp_path / "out_csv")
    export_csv(df, path)
    back = spark.read.options(header=True).csv(path).first()
    assert back.id == "1" and json.loads(back.arr) == [1.0, 2.0]


def test_export_geojson(spark, tmp_path):
    df = spark.createDataFrame(
        [("d1", 10.0, 20.0, "hello")], "doc_id string, lon double, lat double, note string"
    )
    path = str(tmp_path / "out_gj")
    export_geojson(df, path)
    lines = [
        l
        for f in os.listdir(path)
        if f.startswith("part-")
        for l in open(os.path.join(path, f)).read().splitlines()
        if l.strip()
    ]
    assert len(lines) == 1
    gj = json.loads(lines[0])
    assert gj["type"] == "Feature"
    assert gj["geometry"]["coordinates"] == [10.0, 20.0]
    assert gj["properties"]["note"] == "hello"


def test_sql_functions_match_dataframe_api(spark):
    S.register_sql_functions(spark)
    df = spark.createDataFrame(
        [(i, -170.0 + i * 7.3, -80.0 + i * 3.7) for i in range(40)],
        "id long, lon double, lat double",
    )
    df.createOrReplaceTempView("pts_sql_test")

    # bbox
    got = spark.sql(
        "SELECT id FROM pts_sql_test WHERE st_within_bbox(lon, lat, -50, -50, 50, 50)"
    ).collect()
    want = df.filter(F.col("lon").between(-50, 50) & F.col("lat").between(-50, 50))
    assert {r.id for r in got} == {r.id for r in want.collect()}

    # ray-cast contains vs numpy oracle
    import numpy as np

    from geomesa_spark.functions import geometry as G

    wkt = "POLYGON ((-60 -60, 60 -60, 40 50, -40 60, -60 -60))"
    got = spark.sql(
        f"SELECT id FROM pts_sql_test WHERE st_contains_edges({S.edges_sql(wkt)}, lon, lat)"
    ).collect()
    rows = df.collect()
    geom = G.parse_wkt(wkt)
    inside = G.contains(
        geom,
        np.array([r.lon for r in rows]),
        np.array([r.lat for r in rows]),
    )
    want_ids = {r.id for r, keep in zip(rows, inside) if keep}
    assert {r.id for r in got} == want_ids

    # holed polygon: points in the hole are outside
    from tests.test_geom_data import QUERY_POLYS

    holed = QUERY_POLYS[2][1]
    pts = [(i, 100.0 + i * 1.7, -25.0 + i * 1.55) for i in range(40)]
    pts += [(40, 130.0, 5.0), (41, 110.0, 5.0)]  # hole, ring
    hdf = spark.createDataFrame(pts, "id long, lon double, lat double")
    hdf.createOrReplaceTempView("holed_sql_test")
    got = spark.sql(
        "SELECT id FROM holed_sql_test "
        f"WHERE st_contains_edges({S.edges_sql(holed)}, lon, lat)"
    ).collect()
    inside = G.contains(
        G.parse_wkt(holed),
        np.array([p[1] for p in pts]),
        np.array([p[2] for p in pts]),
    )
    want_ids = {p[0] for p, keep in zip(pts, inside) if keep}
    assert 41 in want_ids and 40 not in want_ids
    assert {r.id for r in got} == want_ids

    # z2 parity with the column implementation
    from geomesa_spark.functions import cells as C

    got = spark.sql("SELECT id, st_z2(lon, lat) AS z FROM pts_sql_test").collect()
    want = {
        r.id: r.z
        for r in df.select("id", C.z2_cell(F.col("lon"), F.col("lat")).alias("z")).collect()
    }
    for r in got:
        assert r.z == want[r.id]

    # week parity with the column implementation; floor semantics
    # give week -1 before 1970-01-01
    tdf = spark.createDataFrame(
        [(0, "1969-12-31 23:00:00"), (1, "1970-01-01 00:00:00"),
         (2, "1970-01-08 00:00:00"), (3, "2024-02-29 12:34:56")],
        "id long, s string",
    ).select("id", F.to_timestamp("s").alias("ts"))
    tdf.createOrReplaceTempView("weeks_sql_test")
    got = {r.id: r.w for r in spark.sql(
        "SELECT id, st_week(ts) AS w FROM weeks_sql_test").collect()}
    want = {r.id: r.w for r in tdf.select("id", C.week(F.col("ts")).alias("w")).collect()}
    assert got == want
    assert got[0] == -1 and got[1] == 0 and got[2] == 1


def test_execute_sql_entry(spark):
    from geomesa_spark.functions.sql_api import execute_sql

    df = spark.createDataFrame([(1, 5.0, 5.0)], "id long, lon double, lat double")
    out = execute_sql(
        spark,
        "SELECT count(*) AS n FROM t WHERE st_within_bbox(lon, lat, 0, 0, 10, 10)",
        {"t": df},
    )
    assert out.first().n == 1


def test_xml_ingest_roundtrip(spark, tmp_path):
    from geomesa_spark.sources.convert import ConvertSpec, xml_ingest

    p = tmp_path / "feats.xml"
    p.write_text(
        "<features>"
        "<feature><fid>a</fid><lon>1.25</lon><lat>-2.5</lat><n>3</n></feature>"
        "<feature><fid>b</fid><lon>10.5</lon><lat>20.25</lat><n>7</n></feature>"
        "</features>"
    )
    spec = ConvertSpec(
        fields=[
            ("doc_id", "fid"),
            ("lon", "cast(lon as double)"),
            ("lat", "cast(lat as double)"),
            ("n2", "cast(n as int) * 2"),
        ]
    )
    rows = {
        r.doc_id: r
        for r in xml_ingest(spark, str(p), spec, row_tag="feature").collect()
    }
    assert rows["a"].lon == 1.25 and rows["a"].n2 == 6
    assert rows["b"].lat == 20.25 and rows["b"].n2 == 14


AVRO_SCHEMA = {
    "type": "record",
    "name": "Feature",
    "fields": [
        {"name": "fid", "type": "string"},
        {"name": "lon", "type": "double"},
        {"name": "lat", "type": "double"},
        {"name": "n", "type": "long"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "label", "type": ["null", "string"]},
    ],
}

AVRO_RECORDS = [
    {"fid": "a", "lon": 1.25, "lat": -2.5, "n": 3, "tags": ["x", "y"],
     "label": "L"},
    {"fid": "b", "lon": 10.5, "lat": 20.25, "n": 7, "tags": [], "label": None},
    {"fid": "c", "lon": -179.875, "lat": 89.0, "n": -12345678901,
     "tags": ["z"], "label": "M"},
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_avro_roundtrip_pure(tmp_path, codec):
    from geomesa_spark.sources import avro as AV

    p = tmp_path / f"f_{codec}.avro"
    AV.write_avro_file(str(p), AVRO_SCHEMA, AVRO_RECORDS, codec=codec)
    schema, recs = AV.read_avro_bytes(p.read_bytes())
    assert schema == AVRO_SCHEMA
    assert recs == AVRO_RECORDS


def test_avro_ingest_distributed(spark, tmp_path):
    from geomesa_spark.sources import avro as AV
    from geomesa_spark.sources.convert import ConvertSpec, avro_ingest

    for i in range(3):  # several files -> several tasks
        AV.write_avro_file(
            str(tmp_path / f"part{i}.avro"),
            AVRO_SCHEMA,
            [{**r, "fid": f"{r['fid']}{i}"} for r in AVRO_RECORDS],
            codec="deflate" if i % 2 else "null",
        )
    spec = ConvertSpec(
        fields=[
            ("doc_id", "fid"),
            ("lon", "lon"),
            ("lat", "lat"),
            ("n_tags", "size(tags)"),
            ("label", "coalesce(label, 'none')"),
        ]
    )
    out = avro_ingest(spark, str(tmp_path), spec)  # schema inferred
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == 9
    assert rows["a1"].lon == 1.25 and rows["a1"].n_tags == 2
    assert rows["b2"].label == "none"
    assert rows["c0"].lat == 89.0


def test_sql_geom_geom_functions(spark):
    """st_intersects_edges / st_dwithin_edges agree with the Column
    API (geom_data) and the numpy twins on the random geometry set."""
    from geomesa_spark.functions import sql_api as S
    from geomesa_spark.functions import geometry as G
    from geomesa_spark.operators import geom_data as GD
    from tests.test_geom_data import QUERY_POLYS, _rand_geoms

    gdf = GD.geom_table(
        spark.createDataFrame(_rand_geoms(120), "gid string, geom_wkt string")
    )
    S.register_sql_functions(spark)
    gdf.createOrReplaceTempView("geoms")
    pid, wkt = QUERY_POLYS[2]  # holed polygon
    q = G.parse_wkt(wkt)
    sql = f"""
      SELECT gid,
             st_intersects_edges(edges, {S.edges_sql(wkt)},
               kind IN ('POLYGON','MULTIPOLYGON'), true) AS hit,
             st_dwithin_edges(edges, {S.edges_sql(wkt)}, 3.0,
               kind IN ('POLYGON','MULTIPOLYGON'), true) AS near
      FROM geoms
    """
    rows = {r.gid: r for r in spark.sql(sql).collect()}
    for gid, w in _rand_geoms(120):
        g = G.parse_wkt(w)
        assert rows[gid].hit == G.geom_intersects(g, q), gid
        assert rows[gid].near == G.geom_dwithin(g, q, 3.0), gid


def test_avro_map_enum_fixed_roundtrip(tmp_path):
    from geomesa_spark.sources import avro as AV

    schema = {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "m", "type": {"type": "map", "values": "long"}},
            {"name": "e", "type": {"type": "enum", "name": "E",
                                   "symbols": ["A", "B", "C"]}},
            {"name": "fx", "type": {"type": "fixed", "name": "FX", "size": 4}},
        ],
    }
    recs = [
        {"m": {"k": -7, "zz": 123456789}, "e": "B", "fx": b"\x01\x02\x03\x04"},
        {"m": {}, "e": "C", "fx": b"\xff\x00\xff\x00"},
    ]
    p = tmp_path / "m.avro"
    AV.write_avro_file(str(p), schema, recs)
    _, got = AV.read_avro_bytes(p.read_bytes())
    assert got == recs


def test_sql_intersects_edges_final_vertex(spark):
    """Open LINESTRING whose FINAL vertex lies inside polygon A with
    the entering segment crossing exactly through an A vertex: the
    last vertex appears only as an edge x1, so the SQL function must
    test x1 endpoints on the a_poly branch like its Python twin
    (ADVICE r2, sql_api.py:150)."""
    from geomesa_spark.functions import sql_api as S
    from geomesa_spark.functions import geometry as G

    S.register_sql_functions(spark)
    a_wkt = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    b_wkt = "LINESTRING (-2 -2, 2 2)"  # crosses A exactly at vertex (0,0)
    row = spark.sql(
        f"SELECT st_intersects_edges({S.edges_sql(a_wkt)}, "
        f"{S.edges_sql(b_wkt)}, true, false) AS hit"
    ).collect()[0]
    assert row.hit is True
    assert G.geom_intersects(G.parse_wkt(a_wkt), G.parse_wkt(b_wkt)) is True
