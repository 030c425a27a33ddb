"""Edge-array literal: the one-expression SQL form must carry every
double bit-exactly, under the session's default ANSI setting."""

import struct

from pyspark.sql import functions as F

from geomesa_spark.functions import geometry as G
from geomesa_spark.functions import geometry_sql as GS

AWKWARD = [1e-05, -0.0, 1 / 3, 179.999999, 5e-324, -180.0, 0.1, 2.5e16]


def _per_lit_array(geom):
    # the Column-by-Column form the SQL literal replaces
    return F.array(
        *[
            F.struct(
                F.lit(x0).alias("x0"),
                F.lit(y0).alias("y0"),
                F.lit(x1).alias("x1"),
                F.lit(y1).alias("y1"),
            )
            for x0, y0, x1, y1 in GS.geom_edges(geom)
        ]
    )


def _bits(v):
    return struct.pack("<d", v)


def test_edges_lit_bit_exact(spark):
    ring = [
        (AWKWARD[i % len(AWKWARD)], AWKWARD[(i + 3) % len(AWKWARD)])
        for i in range(len(AWKWARD))
    ]
    wkt = "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in ring + ring[:1]) + "))"
    geom = G.parse_wkt(wkt)
    row = (
        spark.range(1)
        .select(GS.edges_lit(geom).alias("new"), _per_lit_array(geom).alias("old"))
        .first()
    )
    assert len(row.new) == len(row.old) == len(ring)
    for new, old in zip(row.new, row.old):
        assert [_bits(v) for v in new] == [_bits(v) for v in old]
    # every awkward value really went through the literal
    seen = {_bits(v) for e in row.new for v in e}
    assert {_bits(v) for v in AWKWARD} <= seen


def test_double_sql_non_finite(spark):
    vals = [float("inf"), float("-inf")]
    got = spark.range(1).select(
        *[F.expr(GS.double_sql(v)).alias(f"v{i}") for i, v in enumerate(vals)]
    ).first()
    assert list(got) == vals
    nan = spark.range(1).select(F.expr(GS.double_sql(float("nan")))).first()[0]
    assert nan != nan
