"""SQL-callable spatial functions + the SQL entry point.

The reference exposes a SQL surface through GeoMesaSparkSql
(geomesa-compute/src/main/scala/org/locationtech/geomesa/compute/spark/sql/GeoMesaSparkSql.scala):
CQL spatial predicates are pulled out of the WHERE clause, pushed to
the store, and the residual SQL runs on Spark (:144-159, :311). This
engine collapses that: the spatial predicates ARE Spark SQL
functions, registered as **SQL scalar UDFs** (CREATE TEMPORARY
FUNCTION ... RETURN <expr>, Spark 4) — pure Catalyst expressions, so
they inline into whole-stage codegen, push down where possible, and
involve zero Python.

`register_sql_functions(spark)` installs:

  st_within_bbox(lon, lat, xmin, ymin, xmax, ymax) -> boolean
  st_dwithin_point(lon, lat, x, y, dist_deg)       -> boolean
  st_contains_edges(edges, lon, lat)               -> boolean
      even-odd ray cast over array<struct<x0,y0,x1,y1>>
  st_z2(lon, lat)                                  -> bigint
  st_week(ts)                                      -> int
  st_intersects_edges(a, b, a_poly, b_poly)        -> boolean
      geometry-vs-geometry intersects over two edge arrays
      (vertex-in both directions + proper crossings)
  st_dwithin_edges(a, b, d, a_poly, b_poly)        -> boolean
      distance(A, B) <= d degrees (crossing = 0, else endpoint-
      decomposed segment distance; containment counts)

`edges_sql(wkt)` renders a polygon's edge array as a SQL literal for
use with st_contains_edges in raw SQL strings.

One text per kernel: the bodies of st_contains_edges,
st_intersects_edges and st_dwithin_edges, and `edges_sql`, are the
`geometry_sql` kernel texts the DataFrame refines parse, so the SQL
surface and the operators cannot drift apart. The geometry-vs-
geometry bodies inline that text instead of calling
st_contains_edges: a SQL UDF cannot invoke another SQL UDF from
inside a lambda body (the analyzer loses the outer lambda variable
during function inlining).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from geomesa_spark.functions import cells as C
from geomesa_spark.functions import geometry as G
from geomesa_spark.functions import geometry_sql as GS


def _spread2_sql(var: str) -> str:
    """Z2 bit-spread as a single nested SQL expression (matches
    cells._SPREAD2; the JVM wraps shifts so no pre-mask needed)."""
    e = f"(CAST({var} AS BIGINT) & {0x7FFFFFFF})"
    for shift, mask in C._SPREAD2:
        e = f"(({e} | ({e} << {shift})) & {mask})"
    return e


def z2_sql(lon: str, lat: str, bits: int = C.XY_BITS) -> str:
    n = 1 << bits
    x = f"least({n - 1}, greatest(0, floor(({lon}+180.0)/360.0*{float(n)})))"
    y = f"least({n - 1}, greatest(0, floor(({lat}+90.0)/180.0*{float(n)})))"
    return f"({_spread2_sql(x)} | ({_spread2_sql(y)} << 1))"


def edges_sql(wkt: str) -> str:
    """SQL literal array<struct<x0,y0,x1,y1>> for a geometry's edges."""
    return GS.edges_sql(G.parse_wkt(wkt))


_EDGE_T = GS.EDGE_SCHEMA.simpleString()


def register_sql_functions(spark: SparkSession) -> None:
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION st_within_bbox(
             lon DOUBLE, lat DOUBLE, xmin DOUBLE, ymin DOUBLE,
             xmax DOUBLE, ymax DOUBLE) RETURNS BOOLEAN
           RETURN lon BETWEEN xmin AND xmax AND lat BETWEEN ymin AND ymax"""
    )
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION st_dwithin_point(
             lon DOUBLE, lat DOUBLE, x DOUBLE, y DOUBLE, d DOUBLE)
           RETURNS BOOLEAN
           RETURN (lon-x)*(lon-x) + (lat-y)*(lat-y) <= d*d"""
    )
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY FUNCTION st_contains_edges(
              edges {_EDGE_T}, lon DOUBLE, lat DOUBLE) RETURNS BOOLEAN
            RETURN {GS.contains_sql("edges", "lon", "lat")}"""
    )
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY FUNCTION st_z2(
              lon DOUBLE, lat DOUBLE) RETURNS BIGINT
            RETURN {z2_sql("lon", "lat")}"""
    )
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY FUNCTION st_week(ts TIMESTAMP)
            RETURNS INT
            RETURN CAST(floor(unix_timestamp(ts) / {C.SECONDS_IN_WEEK}) AS INT)"""
    )
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY FUNCTION st_intersects_edges(
              a {_EDGE_T}, b {_EDGE_T}, a_poly BOOLEAN, b_poly BOOLEAN)
            RETURNS BOOLEAN
            RETURN {GS.geom_intersects_sql("a", "b", "a_poly", "b_poly")}"""
    )
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY FUNCTION st_dwithin_edges(
              a {_EDGE_T}, b {_EDGE_T}, d DOUBLE,
              a_poly BOOLEAN, b_poly BOOLEAN)
            RETURNS BOOLEAN
            RETURN {GS.geom_dwithin_sql("a", "b", "d", "a_poly", "b_poly")}"""
    )


def execute_sql(spark: SparkSession, sql: str, tables: dict | None = None):
    """GeoMesaSparkSql.execute analog: register doc tables as temp
    views, make the st_* functions available, run one SQL statement.
    Spatial predicates in the WHERE clause are ordinary Catalyst
    expressions — pushdown/pruning happen natively, no CQL pre-pass
    needed (the pre-pass only exists in the reference because its
    store could not evaluate SQL)."""
    register_sql_functions(spark)
    for name, df in (tables or {}).items():
        df.createOrReplaceTempView(name)
    return spark.sql(sql)
