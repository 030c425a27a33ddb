"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).
``queries()`` derives from ``gates()``, the one registry of each
gate's name, function and tags (see ``TAGS``); ``bench.py`` reads it
too.

The driver testdata has no geometry columns, so spatial queries
derive deterministic lon/lat/time from ``events`` with *identical
integer/double arithmetic* on both engines:

    lon = (event_id*9973 % 36000)/100.0 - 180.0
    lat = (event_id*7919 % 18000)/100.0 - 90.0
    es  = floor(epoch seconds of ts)          (session TZ = UTC)

Every float-valued output either comes from bit-identical double
expressions on both sides or is aggregated in fixed-point int64
(order-independent), so the value-hash comparison is exact by
construction — no tolerance needed.
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import datetime, timezone
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geomesa_spark.functions import cells as C
from geomesa_spark.operators import analytics as A
from geomesa_spark.operators import ann as N
from geomesa_spark.operators import dedup as D
from geomesa_spark.operators import text as X
from geomesa_spark.operators import url as UOP
from geomesa_spark.operators.knn import knn_join
from geomesa_spark.operators.spatial_join import (
    pip_join_broadcast,
    pip_join_partitioned,
    proximity_join,
)
from geomesa_spark.operators.tube import tube_select
from geomesa_spark.plans.planner import QuerySpec, scan

SF_SMOKE = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# shared fixtures (identical constants on both engines)
# ---------------------------------------------------------------------------

T0 = 1704067200  # 2024-01-01T00:00:00Z
T1 = 1706659200  # 2024-01-31T00:00:00Z

# convex polygons with vertices off the derived 0.01-degree grid
RECT = (10.005, 20.005, 80.005, 60.005)
TRIANGLE = [(-120.005, -40.005), (-60.005, -40.005), (-90.005, 30.005)]
PENTAGON = [
    (100.005, -10.005),
    (140.005, 0.005),
    (130.005, 40.005),
    (105.005, 45.005),
    (90.005, 15.005),
]
SITES = [("s1", 2.345, 48.855, 3.0), ("s2", -73.985, 40.755, 5.0),
         ("s3", 139.695, 35.685, 4.0)]
# S2 gates: level-12 cells; the range gate scans the level-2 ancestor
# of a fixed seed point — the ids are pure integers computed once on
# the driver and inlined as literals into BOTH engines
S2_LEVEL = 12


def _s2_seed_range() -> tuple[int, int]:
    import numpy as _np

    from geomesa_spark.functions import s2 as _S2

    seed = _S2.s2_cell_np(_np.array([10.0]), _np.array([45.0]), S2_LEVEL)
    parent = int(_S2.s2_parent_np(seed, 2)[0])
    return _S2.s2_range_np(parent, 2)


S2_RANGE = _s2_seed_range()
EPOCH_SEED = 3
EPOCH_SHARDS = 8
DSIR_B = 4096
DSIR_K = 150
KNN_QUERIES = [("q1", 0.0, 0.0), ("q2", 100.0, 45.0), ("q3", -150.0, -60.0)]
KNN_K = 7
TUBE_TRACK = [
    (1704672000, 2.005, 48.005),
    (1705276800, 10.005, 50.005),
    (1705881600, 20.005, 52.005),
]
TUBE_BUF = 5.0
TUBE_DELTA = 172800
BBOX = (-30.005, -20.005, 40.005, 35.005)
SCAN_T0 = datetime(2024, 1, 5, tzinfo=timezone.utc)
SCAN_T1 = datetime(2024, 1, 20, tzinfo=timezone.utc)
DOC_IDS = [3, 17, 42, 99, 123, 256]
BM25_QUERIES = {
    "q1": ["spark", "query"],
    "q2": ["vector", "the", "zqxwv"],  # one term absent from the corpus
    "q3": ["table"],
}
JACCARD_N = 2
JACCARD_THRESHOLD = 0.2
NEARDUP_COS = 0.45
CM_DEPTH = 4
CM_WIDTH = 512
PRI_K = 100
BLOOM_BITS = 8192
BLOOM_K = 5
ANN_K = 10
ANN_NQ = 5
IVF_LISTS = 16
IVF_PROBES = 2
IVF_SEED = 7
PQ_M = 4
PQ_K = 8
PQ_SEED = 11
DOMAIN_QUOTA = 3
RERANK_KPRIME = 30
HLL_P = 4
# deterministic URL synthesis over doc_id — ANSI expression accepted
# verbatim by BOTH Spark SQL and DuckDB (mixed-case schemes/hosts,
# www, default + non-default ports, tracking params, fragments,
# trailing slashes, two-label public suffixes)
URL_SYNTH_EXPR = (
    "CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END || '://' || "
    "CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END || "
    "CASE WHEN doc_id % 8 = 0 THEN 'Site' ELSE 'site' END || "
    "CAST(doc_id % 7 AS STRING) || "
    "CASE WHEN doc_id % 4 = 0 THEN '.co.uk' WHEN doc_id % 4 = 1 THEN '.com' "
    "WHEN doc_id % 4 = 2 THEN '.org.au' ELSE '.news.example.com' END || "
    "CASE WHEN doc_id % 5 = 0 THEN ':80' WHEN doc_id % 5 = 1 THEN ':8080' "
    "WHEN doc_id % 5 = 2 THEN ':443' ELSE '' END || "
    "'/p/' || CAST(doc_id % 11 AS STRING) || "
    "CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END || "
    "CASE WHEN doc_id % 6 = 0 THEN '?utm_source=x&b=2&a=1' "
    "WHEN doc_id % 6 = 1 THEN '?b=2&a=1' "
    "WHEN doc_id % 6 = 2 THEN '?fbclid=zz' ELSE '' END || "
    "CASE WHEN doc_id % 9 = 0 THEN '#frag' ELSE '' END"
)
SIMHASH_MAX_HAMMING = 3
HEATMAP_RADIUS_PX = 2
PIPE_QUALITY = 0.55


def _poly_wkt(verts: list[tuple[float, float]]) -> str:
    pts = ", ".join(f"{x} {y}" for x, y in verts)
    x0, y0 = verts[0]
    return f"POLYGON (({pts}, {x0} {y0}))"


def _rect_wkt(r) -> str:
    xmin, ymin, xmax, ymax = r
    return _poly_wkt([(xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax)])


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def geo_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + derived lon/lat/dtg/week/cell (see module docstring)."""
    ev = _load(spark, sf_dir, "events")
    lon = (F.col("event_id") * 9973 % 36000) / 100.0 - 180.0
    lat = (F.col("event_id") * 7919 % 18000) / 100.0 - 90.0
    return (
        ev.withColumn("lon", lon)
        .withColumn("lat", lat)
        .withColumn("dtg", F.col("ts"))
        .withColumn("week", C.week(F.col("dtg")))
        .withColumn("cell", C.z2_cell(F.col("lon"), F.col("lat")))
        .withColumn("wfp", F.floor(F.col("value") * F.lit(1000000.0)).cast("long"))
    )


# ---------------------------------------------------------------------------
# oracle SQL builders
# ---------------------------------------------------------------------------

# co-occurrence motion model: lon drifts with time (full month =
# 360 deg), lat is a per-user band; jitter decorrelates exact ties.
# Evaluated verbatim by Spark (F.expr) and DuckDB over (event_id,
# user_id, es) — exact double arithmetic, no trig.
# (CASTs force DOUBLE arithmetic: Spark parses `2592000.0` in SQL
# text as DECIMAL, and decimal division would differ from DuckDB)
_COOC_LON = (
    "CAST(es % 2592000 AS DOUBLE)/2592000.0*360.0 - 180.0"
    " + CAST(event_id % 89 AS DOUBLE)/1000.0"
)
_COOC_LAT = "(user_id*3 % 180) - 90 + CAST(event_id % 97 AS DOUBLE)/1000.0"

# dbscan blob model: 977 hash blobs of ±0.02 deg — cluster DIAMETER
# is scale-invariant (blobs densify with sf, never lengthen), so the
# component rounds stay O(1) at any corpus size. Shared verbatim by
# Spark (F.expr) and DuckDB; CASTs keep the arithmetic in doubles
# (Spark parses the 100.0 literal as DECIMAL).
_BLOB_LON = (
    "CAST((event_id % 977) * 9973 % 35000 AS DOUBLE)/100.0 - 174.0"
    " + CAST(event_id % 101 AS DOUBLE)/2500.0 - 0.02"
)
_BLOB_LAT = (
    "CAST((event_id % 977) * 7919 % 17000 AS DOUBLE)/100.0 - 84.0"
    " + CAST(event_id * 7 % 103 AS DOUBLE)/2575.0 - 0.02"
)

PTS_CTE = """pts AS (
  SELECT event_id, event_type, value,
         (event_id*9973 % 36000)/100.0 - 180.0 AS lon,
         (event_id*7919 % 18000)/100.0 - 90.0 AS lat,
         CAST(floor(epoch(ts)) AS BIGINT) AS es,
         ts
  FROM events
)"""


def _convex_cond(
    verts: list[tuple[float, float]], px: str = "lon", py: str = "lat"
) -> str:
    """Strict-interior test for a CCW convex polygon: every edge
    cross product positive (constants pre-folded in Python so both
    engines see identical literals). `px`/`py` are SQL expressions
    for the tested point."""
    conds = []
    n = len(verts)
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        dx, dy = x2 - x1, y2 - y1
        conds.append(
            f"(({dx!r})*({py}-({y1!r})) - ({dy!r})*({px}-({x1!r})) > 0)"
        )
    return "(" + " AND ".join(conds) + ")"


def _grid_xy_cols() -> str:
    n = 1 << C.XY_BITS
    return (
        f"CAST(least({n - 1}, greatest(0, floor((lon+180.0)/360.0*{float(n)!r}))) AS BIGINT) AS x, "
        f"CAST(least({n - 1}, greatest(0, floor((lat+90.0)/180.0*{float(n)!r}))) AS BIGINT) AS y"
    )


def _grid_xy_sql() -> str:
    return f"SELECT event_id, es, {_grid_xy_cols()} FROM pts"


def _spread_sql(inner: str, cols: list[str], steps, init_mask: int) -> str:
    q = (
        "SELECT event_id, es, "
        + ", ".join(f"({c} & {init_mask}) AS {c}" for c in cols)
        + f" FROM ({inner})"
    )
    for shift, mask in steps:
        # (x | (x<<s)) & m  ==  (x | ((x & (m>>s)) << s)) & m, and the
        # pre-mask keeps the shift below 2^63 (DuckDB checks overflow;
        # the JVM wraps — results agree because wrapped bits are masked)
        pre = mask >> shift
        q = (
            "SELECT event_id, es, "
            + ", ".join(
                f"(({c} | (({c} & {pre}) << {shift})) & {mask}) AS {c}" for c in cols
            )
            + f" FROM ({q})"
        )
    return q


def _gh_string_sql(nchars: int, keys: str, src: str) -> str:
    """Base-32 geohash render in pure SQL (GeoHash.scala bit layout:
    lon leads at the MSB; lon ceil(5n/2) bits, lat floor(5n/2)).

    `src` must provide BIGINT grid coords gx, gy at that split;
    emits (keys..., gh, ix, iy). Mirrors functions/geohash.py."""
    from geomesa_spark.functions.geohash import ALPHABET

    total = 5 * nchars
    k = f"{keys}, " if keys else ""
    q = (
        f"SELECT {k}gx AS ix, gy AS iy, "
        f"(gx & {0x7FFFFFFF}) AS x, (gy & {0x7FFFFFFF}) AS y FROM ({src})"
    )
    for shift, mask in C._SPREAD2:
        pre = mask >> shift
        q = (
            f"SELECT {k}ix, iy, "
            f"((x | ((x & {pre}) << {shift})) & {mask}) AS x, "
            f"((y | ((y & {pre}) << {shift})) & {mask}) AS y FROM ({q})"
        )
    z = "((x << 1) | y)" if total % 2 == 0 else "(x | (y << 1))"
    q = f"SELECT {k}ix, iy, {z} AS z FROM ({q})"
    chars = " || ".join(
        f"substr('{ALPHABET}', CAST(((z >> {5 * (nchars - 1 - i)}) & 31) AS INT) + 1, 1)"
        for i in range(nchars)
    )
    return f"SELECT {k}{chars} AS gh, ix, iy FROM ({q})"


def _gh_quant_sql(nchars: int, keys: str, src: str) -> str:
    """(keys..., gx, gy): lon/lat -> geohash grid coords, same
    quantization as cells.lon_to_x at the geohash bit split."""
    total = 5 * nchars
    nx, ny = 1 << ((total + 1) // 2), 1 << (total // 2)
    k = f"{keys}, " if keys else ""
    return (
        f"SELECT {k}"
        f"CAST(least({nx - 1}, greatest(0, floor((lon+180.0)/360.0*{float(nx)!r}))) AS BIGINT) AS gx, "
        f"CAST(least({ny - 1}, greatest(0, floor((lat+90.0)/180.0*{float(ny)!r}))) AS BIGINT) AS gy "
        f"FROM {src}"
    )


def _z2_cell_sql() -> str:
    """Subquery: (event_id, es, cell) — Z2 encode in pure SQL."""
    spread = _spread_sql(_grid_xy_sql(), ["x", "y"], C._SPREAD2, 0x7FFFFFFF)
    return f"SELECT event_id, es, x | (y << 1) AS cell FROM ({spread})"


def _z3_cell_sql() -> str:
    n = 1 << C.T_BITS
    inner = (
        f"SELECT event_id, es, {_grid_xy_cols()}, "
        f"CAST(least({n - 1}, greatest(0, floor(CAST(((es % 604800) + 604800) % 604800 AS DOUBLE)/"
        f"{float(C.SECONDS_IN_WEEK)!r}*{float(n)!r}))) AS BIGINT) AS t FROM pts"
    )
    spread = _spread_sql(inner, ["x", "y", "t"], C._SPREAD3, 0x1FFFFF)
    return f"SELECT event_id, es, x | (y << 1) | (t << 2) AS z3 FROM ({spread})"


def _hash32_sql(expr: str) -> str:
    """uint32 from md5 prefix — mirrors dedup.shingle_hash."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


def _s2_cell_sql(level: int) -> str:
    """CTE chain (append after PTS_CTE): (event_id, face, i, j, cell)
    — S2-style cell encode in pure SQL, mirroring functions/s2.py
    step for step. Radians use the shared deg->rad double constant so
    only sin/cos themselves can differ from the JVM (sqrt and
    division are IEEE-exact); the Hilbert walk uses the SAME chunked
    lookup tables as the engine, unrolled textually."""
    from geomesa_spark.functions import s2 as _S2

    n = 1 << level
    d2r = "0.017453292519943295"
    t4 = list(_S2._CHUNK_TABLES[4])
    r = level % 4
    chunks = level // 4
    tabs = f"s2tabs AS (SELECT {t4} AS t4)"
    xyz = (
        f"s2xyz AS (SELECT event_id, "
        f"COS(lat*{d2r})*COS(lon*{d2r}) AS x, "
        f"COS(lat*{d2r})*SIN(lon*{d2r}) AS y, "
        f"SIN(lat*{d2r}) AS z FROM pts)"
    )
    fc = (
        "s2f AS (SELECT event_id, x, y, z, "
        "CASE WHEN ABS(x) >= ABS(y) AND ABS(x) >= ABS(z) "
        "THEN CASE WHEN x >= 0 THEN 0 ELSE 3 END "
        "WHEN ABS(y) >= ABS(z) THEN CASE WHEN y >= 0 THEN 1 ELSE 4 END "
        "ELSE CASE WHEN z >= 0 THEN 2 ELSE 5 END END AS face FROM s2xyz)"
    )
    uv = (
        "s2uv AS (SELECT event_id, face, "
        "CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z "
        "WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u, "
        "CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z "
        "WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v FROM s2f)"
    )
    st = (
        "s2st AS (SELECT event_id, face, "
        "CASE WHEN u >= 0 THEN 0.5*SQRT(1.0+3.0*u) "
        "ELSE 1.0-0.5*SQRT(1.0-3.0*u) END AS s, "
        "CASE WHEN v >= 0 THEN 0.5*SQRT(1.0+3.0*v) "
        "ELSE 1.0-0.5*SQRT(1.0-3.0*v) END AS t FROM s2uv)"
    )
    ij = (
        f"s2ij AS (SELECT event_id, face, "
        f"CAST(LEAST({n - 1}, GREATEST(0, FLOOR(s*{float(n)!r}))) AS BIGINT) AS i, "
        f"CAST(LEAST({n - 1}, GREATEST(0, FLOOR(t*{float(n)!r}))) AS BIGINT) AS j "
        f"FROM s2st)"
    )
    acc = "(face & 1)"
    if r:
        tr = list(_S2._CHUNK_TABLES[r])
        mask = (1 << r) - 1
        acc = (
            f"({tr})[((i >> {level - r}) & {mask})*{1 << (r + 2)} "
            f"+ ((j >> {level - r}) & {mask})*4 + (face & 1) + 1]"
        )
    for m in range(chunks - 1, -1, -1):
        acc = (
            f"((({acc} >> 2) << 10) | "
            f"t4[((i >> {4 * m}) & 15)*64 + ((j >> {4 * m}) & 15)*4 "
            f"+ ({acc} & 3) + 1])"
        )
    shift = 2 * (_S2.MAX_LEVEL - level) + 1
    lsb = 1 << (2 * (_S2.MAX_LEVEL - level))
    hv = (
        f"(CAST(face AS HUGEINT)*2305843009213693952 "
        f"+ CAST(({acc} >> 2) AS HUGEINT)*{1 << shift} + {lsb})"
    )
    cell = (
        f"s2cell AS (SELECT event_id, face, i, j, "
        f"CAST(CASE WHEN {hv} >= 9223372036854775808 "
        f"THEN {hv} - 18446744073709551616 ELSE {hv} END AS BIGINT) AS cell "
        f"FROM s2ij CROSS JOIN s2tabs)"
    )
    return ",\n".join([tabs, xyz, fc, uv, st, ij, cell])


SHINGLES_CTE = f"""toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+{JACCARD_N - 1}], ' ') AS s
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk)-{JACCARD_N - 1})) AS i
        FROM toks)
),
sz AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id)"""

JACCARD_PAIRS_SQL = f"""inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT doc_a, doc_b, ni / (x.ns + y.ns - ni) AS jaccard
  FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
)"""


def _minhash_cols_sql() -> str:
    h = _hash32_sql("s")
    cols = []
    for j in range(D.NUM_HASHES):
        cols.append(
            f"CAST(min(({h} * {D._A[j]} + {D._B[j]}) % {D.MINHASH_P}) AS BIGINT) AS mh{j}"
        )
    return ", ".join(cols)


def _band_selects() -> str:
    parts = []
    n_bands = D.NUM_HASHES // D.BAND_SIZE
    for b in range(n_bands):
        key = f"'{b}' || '_' || " + " || '_' || ".join(
            f"mh{b * D.BAND_SIZE + j}" for j in range(D.BAND_SIZE)
        )
        parts.append(f"SELECT doc_id, {key} AS band FROM sig")
    return " UNION ALL ".join(parts)


_EMB_FIXED_CTE = """fx AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS fv
  FROM embeddings
),
ex AS (
  SELECT vec_id, unnest(fv) AS v, unnest(generate_series(1, len(fv))) AS i FROM fx
),
nrm AS (SELECT vec_id, CAST(sum(v*v) AS BIGINT) AS n2 FROM ex GROUP BY vec_id)"""


def _lsh_bucket_sql(vec_expr: str = "embedding", dim: int = 64,
                    n_planes: int = 8, seed: int = 42) -> str:
    """Sign-bit LSH bucket as portable SQL: the deterministic
    hyperplane constants are pre-folded in Python (exact shortest-
    roundtrip float repr), and each projection is the same 0.0-seeded
    left fold Spark's `aggregate` HOF performs — bit-identical
    doubles, so the sign comparisons agree."""
    H = N.hyperplanes(dim, n_planes, seed)
    projs = []
    for p in range(n_planes):
        expr = "0.0"
        for i in range(dim):
            expr = (
                f"({expr} + (CAST({vec_expr}[{i + 1}] AS DOUBLE)"
                f" * {float(H[p][i])!r}))"
            )
        projs.append(expr)
    return " + ".join(
        f"(CASE WHEN {projs[p]} > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )


def _lang_case_sql() -> str:
    score = {
        lang: f"len(list_filter(list_filter(string_split(text,' '), tok -> tok <> ''), t -> t IN "
        f"({', '.join(repr(w) for w in mk)})))"
        for lang, mk in X.LANG_MARKERS
    }
    best = "greatest(" + ", ".join(score.values()) + ")"
    whens = "\n".join(
        f"WHEN {best} > 0 AND {score[lang]} = {best} THEN '{lang}'"
        for lang, _ in X.LANG_MARKERS
    )
    return f"CASE {whens} ELSE 'unk' END"


# ---------------------------------------------------------------------------
# contract functions
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: point-in-polygon spatial join (broadcast
    strategy) over geo-enriched events at sf0.001."""
    pts = geo_events(spark, SF_SMOKE)
    polys = [
        ("rect", _rect_wkt(RECT)),
        ("tri", _poly_wkt(TRIANGLE)),
        ("pent", _poly_wkt(PENTAGON)),
    ]
    return pip_join_broadcast(pts, polys).select("event_id", "poly_id")


def _coords_str(pairs):
    parts = []
    for i, (x, y) in enumerate(pairs):
        if i:
            parts.append(F.lit(", "))
        parts.extend([x.cast("string"), F.lit(" "), y.cast("string")])
    return F.concat(*parts)

def _gate_lines(ge):
    """The derived per-event LINESTRING used by every line gate
    (and mirrored arithmetically in the oracles) — ONE definition
    so the oracle-critical constants cannot diverge."""
    x0 = F.col("lon") * F.lit(0.96)
    y0 = F.col("lat") * F.lit(0.9)
    verts = [
        (x0, y0),
        (x0 + F.lit(3.007), y0 + F.lit(1.003)),
        (x0 + F.lit(6.014), y0 - F.lit(1.003)),
    ]
    wkt = F.concat(F.lit("LINESTRING ("), _coords_str(verts), F.lit(")"))
    return ge.select(F.col("event_id").alias("gid"), wkt.alias("geom_wkt"))

def _gate_tris(ge):
    """The derived per-event triangle POLYGON (same contract)."""
    x0 = F.col("lon") * F.lit(0.96)
    y0 = F.col("lat") * F.lit(0.9)
    verts = [
        (x0, y0),
        (x0 + F.lit(2.004), y0 + F.lit(0.504)),
        (x0 + F.lit(1.002), y0 + F.lit(1.506)),
        (x0, y0),
    ]
    wkt = F.concat(F.lit("POLYGON (("), _coords_str(verts), F.lit("))"))
    return ge.select(F.col("event_id").alias("gid"), wkt.alias("geom_wkt"))


# Gate tags:
#   sec2       a SURVEY §2 gate or LLM-pipeline headliner.  The driver
#              samples 50 gates per round in `queries()` order, so
#              these come first and never wait behind the long tail.
#   unbenched  left out of bench.py's default suite.
#   noisy      bench.py keeps the best of 3 runs even at BENCH_MIN_OF=1:
#              one sample cannot tell a regression from co-tenant noise.
#   bench_only a production fast path timed by bench.py; it has no
#              oracle, so `queries()` leaves it out.
TAGS = frozenset({"sec2", "unbenched", "noisy", "bench_only"})


class Gate(NamedTuple):
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    tags: frozenset[str]


def gates() -> list[Gate]:
    """Every registered gate with its tags, in registration order."""
    g: list[Gate] = []

    def add(name, fn, *tags):
        g.append(Gate(name, fn, frozenset(tags)))

    # --- curve encoding parity (Z2 + Z3 + week) ---
    def z_encode(spark, sf):
        ge = geo_events(spark, sf)
        return ge.select(
            "event_id",
            F.col("week"),
            F.col("cell"),
            C.z3_combine(
                C.lon_to_x(F.col("lon")),
                C.lat_to_y(F.col("lat")),
                C.time_to_t(C.secs_in_week(F.col("dtg"))),
            ).alias("z3"),
        )

    add("z_encode", z_encode, "sec2")

    # --- planner: bbox + time-interval pruned scan ---
    def bbox_scan(spark, sf):
        ge = geo_events(spark, sf)
        spec = QuerySpec(bbox=BBOX, t0=SCAN_T0, t1=SCAN_T1)
        return scan(ge, spec).select("event_id")

    add("bbox_scan", bbox_scan, "sec2")

    def bbox_scan_or(spark, sf):
        from geomesa_spark.plans.planner import scan_or

        ge = geo_events(spark, sf)
        specs = [
            QuerySpec(bbox=BBOX, t0=SCAN_T0, t1=SCAN_T1),
            QuerySpec(bbox=(100.005, -60.005, 170.005, 10.005)),
        ]
        return scan_or(ge, specs, id_col="event_id").select("event_id")

    add("bbox_scan_or", bbox_scan_or, "sec2", "unbenched")

    def ecql_scan_gate(spark, sf):
        """ECQL text front-end (plans/ecql.py): the reference's
        `fs.getFeatures(ECQL.toFilter(text))` entry point — parse,
        DNF-split, compile each disjunct to a pushable QuerySpec +
        residual JVM refine, union + dedup (QueryFilterSplitter.scala
        :60-140, filter/package.scala rewriteFilterInDnf analog)."""
        from geomesa_spark.plans.ecql import ecql_scan

        pent_wkt = (
            "POLYGON (("
            + ", ".join(f"{x} {y}" for x, y in PENTAGON + PENTAGON[:1])
            + "))"
        )
        text = (
            f"(INTERSECTS(geom, {pent_wkt})"
            f" OR BBOX(geom, {RECT[0]}, {RECT[1]}, {RECT[2]}, {RECT[3]}))"
            " AND dtg DURING 2024-01-05T00:00:00.000Z/2024-01-20T00:00:00.000Z"
            " AND value >= 0.25"
        )
        return ecql_scan(
            geo_events(spark, sf), text, id_col="event_id"
        ).select("event_id")

    add("ecql_scan", ecql_scan_gate, "sec2", "unbenched")

    def ecql_dwithin_gate(spark, sf):
        """Second ECQL gate: DWITHIN in planar degree units (planar
        arithmetic is bit-reproducible across engines, unlike libm
        trig), plus LIKE / IN / two-valued NOT attribute predicates
        (ECQL.toFilter comparison grammar; FilterHelper.scala
        dwithin rewrite)."""
        from geomesa_spark.plans.ecql import ecql_scan

        text = (
            "DWITHIN(geom, POINT (12.3 45.6), 25.0, degrees)"
            " AND event_type LIKE 'c%'"
            " AND event_type IN ('click', 'view', 'error')"
            " AND NOT (value < 0.2)"
        )
        return ecql_scan(
            geo_events(spark, sf), text, id_col="event_id"
        ).select("event_id")

    add("ecql_dwithin", ecql_dwithin_gate, "sec2", "unbenched")

    # --- spatial joins: both physical strategies ---
    _polys = [
        ("rect", _rect_wkt(RECT)),
        ("tri", _poly_wkt(TRIANGLE)),
        ("pent", _poly_wkt(PENTAGON)),
    ]

    def pip_broadcast(spark, sf):
        return pip_join_broadcast(geo_events(spark, sf), _polys).select(
            "event_id", "poly_id"
        )

    def pip_partitioned(spark, sf):
        polys_df = spark.createDataFrame(_polys, "poly_id string, geom_wkt string")
        # continental-scale polygons -> coarse cover resolution
        return pip_join_partitioned(geo_events(spark, sf), polys_df, bits=6).select(
            "event_id", "poly_id"
        )

    add("pip_broadcast", pip_broadcast, "sec2")
    add("pip_partitioned", pip_partitioned, "sec2")

    def pip_bucketed(spark, sf):
        """Third PIP strategy: co-bucketed point + cover tables,
        zero-Exchange sort-merge join (spatial_join.pip_join_bucketed;
        reference analog: pre-split tablets, Splitters.scala:16-37)."""
        import re

        from geomesa_spark.operators.spatial_join import (
            pip_join_bucketed,
            write_cover_bucketed,
            write_points_bucketed,
        )

        tag = re.sub(r"\W", "_", sf)
        tp, tc = f"gate_pts_bk_{tag}", f"gate_cov_bk_{tag}"
        for t in (tp, tc):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        polys_df = spark.createDataFrame(
            _polys, "poly_id string, geom_wkt string"
        )
        write_points_bucketed(
            geo_events(spark, sf), tp, bits=6, n_buckets=16,
            clear_stale_location=True,
        )
        write_cover_bucketed(
            polys_df, tc, bits=6, n_buckets=16, clear_stale_location=True
        )
        return pip_join_bucketed(spark, tp, tc, polys_df, bits=6).select(
            "event_id", "poly_id"
        )

    add("pip_bucketed", pip_bucketed, "sec2", "unbenched")

    def pip_s2(spark, sf):
        """Fourth PIP strategy: the S2 spherical index
        (operators/s2_join.pip_join_s2) — mixed-level polygon covers
        (interior cells skip the refine), points explode ancestors at
        the cover's distinct levels, ONE broadcast hash join. Same
        polygon layer and oracle as pip_broadcast: the two physical
        strategies on two different curves must agree exactly."""
        from geomesa_spark.operators.s2_join import pip_join_s2

        return pip_join_s2(geo_events(spark, sf), _polys, level=S2_LEVEL).select(
            "event_id", "poly_id"
        )

    add("pip_s2", pip_s2, "sec2")

    # --- non-point data geometries: line/polygon rows vs the query
    # polygon layer (STIdxStrategy.scala:218-243 generalized; dedup
    # of multi-cell rows IndexSchema.scala:300-307). WKT is built in
    # Spark (double->string is shortest-roundtrip, so the Python
    # parse recovers bit-identical coordinates) and the oracle
    # recomputes the same derived vertices arithmetically. ---
    def line_intersects(spark, sf):
        from geomesa_spark.operators import geom_data as GD

        lines = _gate_lines(geo_events(spark, sf))
        out = GD.geom_join_broadcast(GD.geom_table(lines), _polys, bits=5)
        return out.select("gid", "poly_id")

    add("line_intersects", line_intersects, "sec2", "noisy")

    def geom_bucketed(spark, sf):
        """Non-point rows via CO-BUCKETED exploded cover tables
        (geom_data.write_geoms_bucketed + geom_join_bucketed): the
        ST-index materialization — one stored row per covering cell
        per geometry (SpatioTemporalTable.scala:38-46) — joined
        shuffle-free. Same inputs and result as line_intersects."""
        import re

        from geomesa_spark.operators import geom_data as GD

        lines = _gate_lines(geo_events(spark, sf))
        from geomesa_spark.operators.spatial_join import write_cover_bucketed

        tag = re.sub(r"\W", "_", sf)
        tg, tc = f"gate_geoms_bk_{tag}", f"gate_gcov_bk_{tag}"
        for t in (tg, tc):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        polys_df = spark.createDataFrame(
            _polys, "poly_id string, geom_wkt string"
        )
        GD.write_geoms_bucketed(
            GD.geom_table(lines), tg, bits=5, n_buckets=16,
            clear_stale_location=True,
        )
        write_cover_bucketed(
            polys_df, tc, bits=5, budget=65536, n_buckets=16,
            clear_stale_location=True,
        )
        return GD.geom_join_bucketed(spark, tg, tc, polys_df, bits=5).select(
            "gid", "poly_id"
        )

    add("geom_bucketed", geom_bucketed, "sec2", "unbenched")

    def poly_intersects(spark, sf):
        from geomesa_spark.operators import geom_data as GD

        tris = _gate_tris(geo_events(spark, sf))
        out = GD.geom_join_broadcast(GD.geom_table(tris), _polys, bits=5)
        return out.select("gid", "poly_id")

    add("poly_intersects", poly_intersects, "sec2", "noisy")

    def line_dwithin(spark, sf):
        from geomesa_spark.operators import geom_data as GD

        lines = _gate_lines(geo_events(spark, sf))
        out = GD.geom_dwithin_join(GD.geom_table(lines), _polys, 3.0, bits=5)
        return out.select("gid", "poly_id")

    add("line_dwithin", line_dwithin, "sec2", "unbenched")

    def dwithin_proximity(spark, sf):
        return proximity_join(geo_events(spark, sf), SITES).select(
            "event_id", "site_id"
        )

    add("dwithin_proximity", dwithin_proximity, "sec2")

    def knn(spark, sf):
        out = knn_join(
            geo_events(spark, sf), KNN_QUERIES, KNN_K, tiebreak_col="event_id"
        )
        return out.select("qid", "event_id", "dist2", "rank")

    add("knn", knn, "sec2")

    def knn_df(spark, sf):
        from geomesa_spark.operators.knn import knn_join_df

        ge = geo_events(spark, sf)
        qs = ge.filter(F.col("event_id") % 20 == 0).select(
            F.col("event_id").alias("qid"),
            F.col("lon").alias("qlon"),
            F.col("lat").alias("qlat"),
        )
        out = knn_join_df(ge, qs, 5, tiebreak_col="event_id")
        return out.select("qid", "event_id", "dist2", "rank")

    add("knn_df", knn_df, "sec2")

    def tube(spark, sf):
        out = tube_select(
            geo_events(spark, sf),
            TUBE_TRACK,
            TUBE_BUF,
            TUBE_DELTA,
            gap_fill="nofill",
            id_col="event_id",
        )
        return out.select("event_id")

    add("tube_select", tube, "sec2")

    def tube_line(spark, sf):
        out = tube_select(
            geo_events(spark, sf),
            TUBE_TRACK,
            TUBE_BUF,
            TUBE_DELTA,
            gap_fill="line",
            id_col="event_id",
        )
        return out.select("event_id")

    add("tube_line", tube_line, "sec2")

    def tile_assign(spark, sf):
        ge = geo_events(spark, sf)
        return ge.select(
            "event_id", C.cell_parent(F.col("cell"), C.XY_BITS, 8).alias("tile")
        )

    add("tile_assign", tile_assign, "sec2")

    # --- aggregations ---
    def density(spark, sf):
        return A.density(
            geo_events(spark, sf), (-180.0, -90.0, 180.0, 90.0), 36, 18,
            weight_col="wfp",
        )

    add("density", density, "sec2")

    def heatmap_fx(spark, sf):
        """DensityProcess with smoothing (DensityProcess.scala:38-75
        -> GeoTools HeatmapSurface): count-density grid + the
        fixed-point gaussian stencil, so every per-pixel sum is pure
        int64 arithmetic and hash-exact against any engine."""
        grid = A.density(
            geo_events(spark, sf), (-180.0, -90.0, 180.0, 90.0), 36, 18
        )
        return A.smooth_density_fixed(
            grid, 36, 18, radius_px=HEATMAP_RADIUS_PX
        )

    add("heatmap", heatmap_fx, "sec2", "unbenched")

    def temporal_density(spark, sf):
        return A.temporal_density(geo_events(spark, sf), T0, T1, 60)

    add("temporal_density", temporal_density, "sec2")

    def unique_vals(spark, sf):
        return A.unique_values(geo_events(spark, sf), "event_type", sort_by="value")

    add("unique_values", unique_vals, "sec2", "unbenched")

    def count_by_day(spark, sf):
        return A.count_by_day(geo_events(spark, sf))

    add("count_by_day", count_by_day, "sec2", "unbenched")

    def map_agg(spark, sf):
        ge = geo_events(spark, sf)
        m = ge.select(F.create_map(F.col("event_type"), F.col("wfp")).alias("m"))
        return A.map_aggregate(m, "m")

    add("map_aggregate", map_agg, "sec2", "unbenched")

    # --- planner: attribute + ID strategies ---
    def attr_scan(spark, sf):
        part = _load(spark, sf, "part")
        spec = QuerySpec(
            attr_predicates=["p_type LIKE 'S%'", "p_size BETWEEN 10 AND 30"]
        )
        return scan(part, spec).select("p_partkey", "p_type", "p_size")

    add("attr_scan", attr_scan, "sec2", "unbenched")

    def id_scan(spark, sf):
        docs = _load(spark, sf, "documents")
        return scan(docs, QuerySpec(ids=DOC_IDS), id_col="doc_id").select(
            "doc_id", "lang", "source"
        )

    add("id_scan", id_scan, "sec2", "unbenched")

    # --- text analysis ---
    def text_profile(spark, sf):
        return X.profile(_load(spark, sf, "documents"))

    add("text_profile", text_profile, "sec2", "noisy")

    # --- dedup family ---
    def dedup_exact(spark, sf):
        return D.exact_dedup(_load(spark, sf, "documents"))

    add("dedup_exact", dedup_exact, "sec2")

    def ngram_jaccard(spark, sf):
        return D.ngram_jaccard_pairs(
            _load(spark, sf, "documents"), JACCARD_THRESHOLD, n=JACCARD_N
        )

    add("ngram_jaccard", ngram_jaccard, "unbenched")

    def minhash_lsh(spark, sf):
        return D.minhash_lsh_pairs(
            _load(spark, sf, "documents"), JACCARD_THRESHOLD, n=JACCARD_N
        )

    add("minhash_lsh", minhash_lsh, "sec2", "unbenched")

    def minhash_lsh_xx(spark, sf):
        """The JVM-native xxhash64 MinHash a deployment runs; the gate
        above pins portable md5 arithmetic DuckDB can replicate."""
        return D.minhash_lsh_pairs(
            _load(spark, sf, "documents"), JACCARD_THRESHOLD, n=JACCARD_N,
            hash_fn="xxhash",
        )

    add("minhash_lsh_xx", minhash_lsh_xx, "bench_only")

    def dedup_filter_q(spark, sf):
        docs = _load(spark, sf, "documents")
        pairs = D.minhash_lsh_pairs(docs, JACCARD_THRESHOLD, n=JACCARD_N)
        return D.dedup_filter(docs, pairs).select("doc_id")

    add("dedup_filter", dedup_filter_q, "unbenched")

    def pipeline_dedup(spark, sf):
        """End-to-end training-data pipeline composition: quality
        scoring (text.profile) -> threshold filter -> MinHash-LSH
        near-dup pairs over the SURVIVORS only -> connected-component
        dedup filter. The shape a 100 TB pre-training cleanup job
        actually runs (each stage is the already-gated operator; this
        gate proves they compose without driver round-trips)."""
        docs = _load(spark, sf, "documents")
        keep_ids = X.profile(docs).filter(
            F.col("quality") >= F.lit(PIPE_QUALITY)
        ).select("doc_id")
        kept = docs.join(keep_ids, "doc_id", "left_semi")
        pairs = D.minhash_lsh_pairs(kept, JACCARD_THRESHOLD, n=JACCARD_N)
        return D.dedup_filter(kept, pairs).select("doc_id")

    add("pipeline_dedup", pipeline_dedup, "unbenched")

    def simhash(spark, sf):
        return D.simhash(_load(spark, sf, "documents"))

    add("simhash", simhash, "sec2", "unbenched")

    def simhash64(spark, sf):
        """The production 64-bit SimHash (the gate above is 16-bit)."""
        return D.simhash64(_load(spark, sf, "documents"))

    add("simhash64", simhash64, "bench_only")

    def simhash_band(spark, sf):
        """Production 64-bit SimHash near-dup pairs via pigeonhole
        banding (max_hamming+1 chunks; any pair within the radius
        shares one exact chunk) — the scale path whose candidates
        come from equi-joins, never a quadratic scan. The oracle IS
        the quadratic scan, so the gate proves the banding loses no
        pair."""
        return D.simhash_neardup_pairs(
            _load(spark, sf, "documents"), max_hamming=SIMHASH_MAX_HAMMING
        )

    add("simhash_band", simhash_band, "unbenched")

    def emb_neardup(spark, sf):
        return D.embedding_neardup_pairs(_load(spark, sf, "embeddings"), NEARDUP_COS)

    add("embedding_neardup", emb_neardup, "sec2", "unbenched")

    def semantic_dedup_gate(spark, sf):
        """SemDeDup (Abbas et al. 2023): nearest-centroid embedding
        clusters, within-cluster cosine >= NEARDUP_COS pairs only,
        min-id survivor per near-dup component. Pre-normalized
        centroid constants + sequential-fold dots (the ivf_topk
        oracle-parity convention); pair cosines are exact fixed-point
        int64 dots."""
        emb = _load(spark, sf, "embeddings")
        cents = N.normalize_centroids(N.hyperplanes(64, IVF_LISTS, seed=IVF_SEED))
        return D.semantic_dedup(
            emb, cents, NEARDUP_COS, normalize=False, exact_fold=True
        ).select("vec_id", "cluster")

    add("semantic_dedup", semantic_dedup_gate)

    def cm_sketch_gate(spark, sf):
        """Count-Min token-frequency sketch over the corpus: depth
        salted md5 hash rows x width counters, one partial-aggregated
        groupBy — the mergeable heavy-hitter structure whose shuffle
        is O(depth*width*partitions) at any corpus size. The md5
        bucket arithmetic is bit-portable, so the oracle rebuilds the
        identical counter matrix."""
        docs = _load(spark, sf, "documents")
        tok = docs.select(F.explode(X.tokens(F.col("text"))).alias("t"))
        return A.cm_sketch(tok, "t", depth=CM_DEPTH, width=CM_WIDTH)

    add("cm_sketch", cm_sketch_gate)

    def bloom_probe_gate(spark, sf):
        """Deterministic Bloom filter as a semi-join pruner: build
        the bit set from English documents' word BIGRAMS (the
        unigram vocab is fully shared across languages, so bigrams
        are what give the probe real negatives), probe every distinct
        corpus bigram — false = definitely not English phrasing (safe
        prune), true = probably present (a couple of the ~9 true
        negatives may flip to false-positive at this load factor;
        both engines flip identically). Salted-md5 bit arithmetic and
        the k-of-k hit test reproduce bit-for-bit in the oracle."""
        docs = _load(spark, sf, "documents")
        bg = F.explode(
            F.transform(
                X.bigram_pairs(F.col("text")),
                lambda s: F.concat_ws(" ", s["w1"], s["w2"]),
            )
        ).alias("t")
        en_bg = docs.where("lang = 'en'").select(bg)
        bloom = A.bloom_build(en_bg, "t", n_bits=BLOOM_BITS, n_hashes=BLOOM_K)
        all_bg = docs.select(bg).distinct()
        return A.bloom_probe(
            bloom, all_bg, "t", id_col="t",
            n_bits=BLOOM_BITS, n_hashes=BLOOM_K,
        )

    add("bloom_probe", bloom_probe_gate)

    # --- similarity search ---
    def ann_bruteforce(spark, sf):
        emb = _load(spark, sf, "embeddings")
        return N.cosine_topk(emb, emb.filter(F.col("vec_id") < ANN_NQ), ANN_K)

    add("ann_bruteforce", ann_bruteforce, "sec2")

    def ann_lsh(spark, sf):
        emb = _load(spark, sf, "embeddings")
        return N.lsh_topk(
            emb, emb.filter(F.col("vec_id") < ANN_NQ), ANN_K, dim=64, multiprobe=1
        )

    add("ann_lsh", ann_lsh)

    def ivf_topk(spark, sf):
        emb = _load(spark, sf, "embeddings")
        cents = N.normalize_centroids(N.hyperplanes(64, IVF_LISTS, seed=IVF_SEED))
        return N.ivf_topk(
            emb,
            emb.filter(F.col("vec_id") < ANN_NQ),
            ANN_K,
            cents,
            n_probes=IVF_PROBES,
            normalize=False,   # constants pre-normalized (oracle parity)
            exact_fold=True,   # sequential-fold dots == SQL fold
        )

    add("ivf_topk", ivf_topk, "sec2")

    def pq_topk_gate(spark, sf):
        """Product-quantization ADC search: corpus compressed to
        PQ_M one-byte codes/vector, query keeps full precision,
        distance = integer table-lookup sum (exact, engine-exact)."""
        emb = _load(spark, sf, "embeddings")
        cb = N.pq_hyperplane_codebooks(64, PQ_M, PQ_K, seed=PQ_SEED)
        return N.pq_topk(emb, emb.filter(F.col("vec_id") < ANN_NQ), ANN_K, cb)

    add("pq_topk", pq_topk_gate)

    def ivfpq_topk_gate(spark, sf):
        """IVF x PQ composition (IndexIVFPQ, flat codebook): probe
        IVF_PROBES lists, ADC-scan only their codes. Constants
        pre-normalized + sequential-fold dots for oracle parity."""
        emb = _load(spark, sf, "embeddings")
        cents = N.normalize_centroids(N.hyperplanes(64, IVF_LISTS, seed=IVF_SEED))
        cb = N.pq_hyperplane_codebooks(64, PQ_M, PQ_K, seed=PQ_SEED)
        return N.ivf_pq_topk(
            emb,
            emb.filter(F.col("vec_id") < ANN_NQ),
            ANN_K,
            cents,
            cb,
            n_probes=IVF_PROBES,
            normalize=False,
            exact_fold=True,
        )

    add("ivfpq_topk", ivfpq_topk_gate)

    def ivfpq_rerank_gate(spark, sf):
        """The production ANN composition: IVF x PQ nominates
        RERANK_KPRIME candidates per query by ADC, then the final
        ANN_K are ordered by the exact fixed-point cosine on full
        vectors (rerank_exact) — the recall-recovery stage."""
        emb = _load(spark, sf, "embeddings")
        cents = N.normalize_centroids(N.hyperplanes(64, IVF_LISTS, seed=IVF_SEED))
        cb = N.pq_hyperplane_codebooks(64, PQ_M, PQ_K, seed=PQ_SEED)
        qs = emb.filter(F.col("vec_id") < ANN_NQ)
        cand = N.ivf_pq_topk(
            emb, qs, RERANK_KPRIME, cents, cb,
            n_probes=IVF_PROBES, normalize=False, exact_fold=True,
        )
        return N.rerank_exact(cand, emb, qs, ANN_K)

    add("ivfpq_rerank", ivfpq_rerank_gate)

    def hll_distinct_gate(spark, sf):
        """Deterministic HyperLogLog distinct users per event_type:
        integer register math end-to-end, so the approximate estimate
        itself hashes identically cross-engine. p=4 keeps the gate on
        the raw-estimate branch (150 distinct >> 2.5m=40) — no libm
        ln anywhere."""
        ev = _load(spark, sf, "events")
        return A.hll_distinct(ev, "user_id", p=HLL_P, group_by=["event_type"])

    add("hll_distinct", hll_distinct_gate, "sec2")

    # --- URL canonicalization (documents carries no URL column, so
    # the gate derives one deterministically from doc_id — the
    # bin_export convention — via ONE shared SQL expression valid in
    # both engines) ---
    def url_normalize_gate(spark, sf):
        docs = _load(spark, sf, "documents")
        urls = docs.select("doc_id", F.expr(URL_SYNTH_EXPR).alias("url"))
        return UOP.url_profile(urls)

    add("url_normalize", url_normalize_gate, "sec2")

    def domain_quota_gate(spark, sf):
        docs = _load(spark, sf, "documents")
        urls = docs.select("doc_id", F.expr(URL_SYNTH_EXPR).alias("url"))
        return UOP.domain_quota_sample(urls, DOMAIN_QUOTA)

    add("domain_quota", domain_quota_gate)

    # --- BIN export: pack -> distributed unpack roundtrip, fields
    # compared against the oracle (lat/lon as exact centidegrees —
    # the float32 roundtrip is lossless on the 0.01-degree grid) ---
    def bin_export(spark, sf):
        ge = geo_events(spark, sf).withColumn(
            "tid32", A.portable_hash32(F.col("user_id"))
        )
        chunks = A.bin_export(ge, track_col="user_id", track_hash_col="tid32")
        rows = A.bin_unpack(chunks)
        return rows.select(
            "tid",
            "secs",
            F.round(F.col("lat") * 100).cast("int").alias("lat_c"),
            F.round(F.col("lon") * 100).cast("int").alias("lon_c"),
        )

    add("bin_export", bin_export, "sec2", "unbenched")

    # --- HashAttributeProcess: bucket features by attribute hash ---
    def hash_attr(spark, sf):
        ev = _load(spark, sf, "events")
        return A.hash_attribute(ev, "user_id", 10).select("event_id", "hash")

    add("hash_attribute", hash_attr, "sec2", "unbenched")

    def visibility_scan(spark, sf):
        """Row-level visibility filtering (geomesa-security analog,
        plans/security.py): each event carries an Accumulo-style
        visibility expression; the scan returns only rows the auth
        set {admin, audit} satisfies. The whole filter is one
        pushable isin/isNull predicate (no per-row Python)."""
        from geomesa_spark.plans.security import visibility_filter

        ev = _load(spark, sf, "events")
        vis = F.element_at(
            F.array(
                F.lit("admin"),
                F.lit("admin&secret"),
                F.lit("admin|secret"),
                F.lit(""),
                F.lit("secret&(audit|admin)"),
            ),
            (F.col("user_id") % 5 + 1).cast("int"),
        )
        tagged = ev.select("event_id", vis.alias("visibility"))
        return visibility_filter(tagged, {"admin", "audit"}).select(
            "event_id"
        )

    add("visibility_scan", visibility_scan, "sec2", "unbenched")

    # --- point2point: ordered points -> track segments ---
    def point2point(spark, sf):
        ge = geo_events(spark, sf)
        seg = A.point2point(ge, "user_id", tiebreak_col="event_id")
        return seg.select(
            F.col("group").alias("grp"),
            F.unix_timestamp("t1").alias("es1"),
            F.unix_timestamp("t2").alias("es2"),
            "x1", "y1", "x2", "y2",
        )

    add("point2point", point2point, "sec2")

    # --- streaming upsert semantics (replayed as a batch) ---
    def stream_replay(spark, sf):
        from geomesa_spark.streaming import replay_state

        ev = _load(spark, sf, "events")
        log = ev.select(
            F.when(F.col("event_type") == "error", F.lit("delete"))
            .otherwise(F.lit("upsert"))
            .alias("op"),
            (F.col("user_id") % 500).cast("string").alias("doc_id"),
            F.unix_timestamp(F.col("ts")).cast("double").alias("ts"),
            F.col("event_id").alias("seq"),
            F.col("event_type").alias("val"),
        )
        return replay_state(log)

    add("stream_replay", stream_replay, "sec2")

    def kafka_replay(spark, sf):
        """The same changelog routed through KAFKA WIRE FRAMES: each
        op serialized to a JSON value with (partition, offset,
        timestamp) metadata, parsed back by kafka_changelog (offset =
        log order, LiveKafkaConsumerFeatureSource.scala:116-123), then
        folded by apply_changelog. Oracle-identical to stream_replay —
        proving the construction seam changes nothing but transport."""
        from pyspark.sql import types as T

        from geomesa_spark.streaming import apply_changelog, kafka_changelog

        ev = _load(spark, sf, "events")
        log = ev.select(
            F.when(F.col("event_type") == "error", F.lit("delete"))
            .otherwise(F.lit("upsert"))
            .alias("op"),
            (F.col("user_id") % 500).cast("string").alias("doc_id"),
            F.unix_timestamp(F.col("ts")).cast("double").alias("ts"),
            F.col("event_id").alias("seq"),
            F.col("event_type").alias("val"),
        )
        wire = log.select(
            F.lit(None).cast("binary").alias("key"),
            F.to_json(
                F.struct("op", "doc_id", "ts", "val")
            ).cast("binary").alias("value"),
            F.lit("geomesa-updates").alias("topic"),
            F.lit(0).cast("int").alias("partition"),
            F.col("seq").cast("long").alias("offset"),
            F.col("ts").cast("timestamp").alias("timestamp"),
            F.lit(0).cast("int").alias("timestampType"),
        )
        payload = T.StructType(
            [
                T.StructField("op", T.StringType()),
                T.StructField("doc_id", T.StringType()),
                T.StructField("ts", T.DoubleType()),
                T.StructField("val", T.StringType()),
            ]
        )
        return apply_changelog(None, kafka_changelog(wire, payload)).select(
            "doc_id", "ts", "seq", "val"
        )

    add("kafka_replay", kafka_replay, "sec2", "unbenched")

    # --- multimodal plumbing: Arrow-batched decode stage over refs
    # derived from `documents`; the deterministic fake decoder is
    # md5-based, so DuckDB replicates it exactly. The feature array
    # is serialized to its byte values (round(x*255) recovers the md5
    # bytes losslessly) so the row-hash harness can sort it. Span
    # extraction from synth docs stays covered in tests/test_media.py.
    def media_decode(spark, sf):
        from geomesa_spark.operators import media as M

        docs = _load(spark, sf, "documents")
        refs = docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.concat(
                F.lit("media://"),
                F.col("doc_id").cast("string"),
                F.lit("/"),
                F.pmod(F.col("doc_id"), F.lit(4)).cast("string"),
            ).alias("media_ref"),
            F.pmod(F.col("doc_id"), F.lit(7)).cast("int").alias("span_offset"),
        )
        meta = M.decode_media(refs)
        return meta.select(
            "doc_id",
            "media_ref",
            "span_offset",
            "media_kind",
            "width",
            "height",
            "n_frames",
            "sample_rate",
            F.concat_ws(
                ",",
                F.transform(
                    F.col("feature"), lambda x: F.round(x * 255).cast("int")
                ),
            ).alias("feature_fp"),
        )

    add("media_decode", media_decode, "sec2", "unbenched")

    # --- converter-config front-end: the reference's geomesa-convert
    # README definition format (HOCON + transform DSL) compiled to a
    # Spark ingest (sources/convert_config.py). Input CSV is
    # materialized from `events` with CAST(x AS STRING) (shortest-
    # roundtrip, so ::double recovers bit-identical values); the
    # oracle recomputes every transform directly on the parquet
    # table. Reference: geomesa-convert/README.md, Transformers.scala
    # function registry, DelimitedTextConverter.scala. ---
    def convert_ingest(spark, sf):
        import re as _re

        from geomesa_spark.sources.convert_config import (
            delimited_config_ingest,
        )

        tag = _re.sub(r"\W", "_", sf)
        path = f"/tmp/geomesa_gate_convert_{tag}"
        ev = _load(spark, sf, "events")
        lines = ev.select(
            F.concat_ws(
                ",",
                F.col("event_id").cast("string"),
                F.col("event_type"),
                F.col("user_id").cast("string"),
                F.col("value").cast("string"),
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS"),
            ).alias("value")
        )
        lines.write.mode("overwrite").text(path)
        config = """
        converter = {
          type = "delimited-text",
          format = "CSV",
          id-field = "md5(string2bytes($1))",
          fields = [
            { name = "tag", transform = "concatenate(uppercase($2), '_', $1)" },
            { name = "uid", transform = "$3::long" },
            { name = "val", transform = "$4::double" },
            { name = "dtg", transform = "dateHourMinuteSecondMillis($5)" },
          ]
        }
        """
        out = delimited_config_ingest(
            spark, path, config, sft="tag:String,uid:Long,val:Double,dtg:Date"
        )
        return out.select(
            "fid",
            "tag",
            "uid",
            # fixed-point long: raw doubles never enter the row-hash
            # (same convention as wfp); the ::double round-trip is
            # still exercised because floor(x*1e6) of a non-identical
            # double would mismatch
            F.floor(F.col("val") * F.lit(1000000.0)).cast("long").alias("val_fp"),
            F.unix_millis("dtg").alias("dtg_ms"),
        )

    add("convert_ingest", convert_ingest, "sec2", "unbenched")

    # --- base-32 geohash strings (GeoHash.scala encode/decode) ---
    def geohash_encode_gate(spark, sf):
        """Encode every point to a 9-char geohash (JVM interleave +
        base-32 render, geohash.geohash_col), then decode the STRING
        back to grid coords in Spark (geohash_decode_xy) — the oracle
        computes ix/iy directly from lon/lat, so a hash match proves
        encode and decode are exact inverses on 10^4 rows.
        Reference: geomesa-utils geohash/GeoHash.scala:238-263."""
        from geomesa_spark.functions import geohash as GH

        ge = geo_events(spark, sf)
        d = ge.select(
            "event_id",
            GH.geohash_col(F.col("lon"), F.col("lat"), 9).alias("gh9"),
        )
        ix, iy = GH.geohash_decode_xy(F.col("gh9"), 9)
        return d.select("event_id", "gh9", ix.alias("ix"), iy.alias("iy"))

    add("geohash_encode", geohash_encode_gate, "sec2")

    def geohash_cover_gate(spark, sf):
        """RectangleGeoHashIterator analog: every precision-3 geohash
        cell touching RECT (distributed range × sequence explode),
        left-joined with per-cell event counts (closed-box filter).
        Zero-count cells stay in the output — proving the enumerated
        cover, not just the occupied cells, matches the oracle grid.
        Reference: geomesa-utils geohash/RectangleGeoHashIterator.scala."""
        from geomesa_spark.functions import geohash as GH

        xmin, ymin, xmax, ymax = RECT
        cov = GH.geohash_cover_df(spark, RECT, 3)
        counts = (
            geo_events(spark, sf)
            .where(
                F.col("lon").between(xmin, xmax)
                & F.col("lat").between(ymin, ymax)
            )
            .select(
                GH.geohash_col(F.col("lon"), F.col("lat"), 3).alias("geohash")
            )
            .groupBy("geohash")
            .agg(F.count("*").alias("n"))
        )
        return cov.join(counts, "geohash", "left").select(
            "geohash", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n")
        )

    add("geohash_cover", geohash_cover_gate, "sec2", "unbenched")

    # --- S2-style spherical cells (cube-face quadtree + Hilbert) ---
    def s2_encode_gate(spark, sf):
        """Encode every point to a level-12 S2-style cell
        (functions/s2.py: face projection + st quadratic + Hilbert
        fold), then decode the CELL back to (face, i, j) in Spark —
        the oracle recomputes face/i/j from lon/lat and rebuilds the
        id through the same chunked Hilbert tables in SQL, so a hash
        match proves encode and decode are exact inverses AND the
        JVM and DuckDB agree on the full trig+fold pipeline.
        North-star surface: Z2/Z3 curve keys re-imagined as
        vectorized S2 cell encoding (BASELINE.json north_star);
        curve-key parity model: geomesa-z3/.../curve/Z3.scala."""
        from geomesa_spark.functions import s2 as S2

        ge = geo_events(spark, sf)
        d = S2.with_s2_cell(
            ge, F.col("lon"), F.col("lat"), S2_LEVEL, out="cell"
        )
        face, i, j = S2.s2_decode_ij(F.col("cell"), S2_LEVEL)
        return d.select(
            "event_id",
            "cell",
            face.alias("face"),
            i.cast("long").alias("i"),
            j.cast("long").alias("j"),
        )

    add("s2_encode", s2_encode_gate)

    def s2_range_gate(spark, sf):
        """Ancestor-range scan: one BETWEEN predicate on the encoded
        cell column selects exactly the descendants of a fixed
        level-2 parent cell (the contiguous-range property that makes
        the Hilbert id an index key — the analog of the reference's
        Z3 range scan, Z3IdxStrategy.scala). The parent id and its
        [min, max] range are driver-computed integers inlined as
        literals into BOTH engines; `parent6` re-derives the level-6
        ancestor from the cell id alone (pure bit math)."""
        from geomesa_spark.functions import s2 as S2

        ge = geo_events(spark, sf)
        # Generate-barrier the derived cell (the s2_bbox_scan idiom):
        # without it, alias substitution inlines the interpreted
        # Hilbert fold into the BETWEEN (twice) AND both projections
        # — measured 22.8 s at sf0.1 vs 2.3 s barriered
        d = S2.with_s2_cell(
            ge, F.col("lon"), F.col("lat"), S2_LEVEL, out="__c"
        ).select(
            "event_id", F.explode(F.array(F.col("__c"))).alias("cell")
        )
        lo, hi = S2_RANGE
        return d.where(F.col("cell").between(lo, hi)).select(
            "event_id",
            "cell",
            S2.s2_parent_col(F.col("cell"), 6).alias("parent6"),
        )

    add("s2_range", s2_range_gate)

    def s2_bbox_gate(spark, sf):
        """BBox scan THROUGH the S2 index: driver-side interval-
        arithmetic BFS cover (functions/s2.s2_cover_ranges, the Z2
        cover-planner analog on the sphere) -> contiguous cell-id
        range predicates -> exact lon/lat refine. The oracle filters
        the bbox directly, so any under-cover (a pruned cell that
        actually intersects RECT) loses rows and fails the hash —
        the cover's conservativeness is the thing under test.
        Reference analog: geohash-range scanning, IndexSchema /
        Z2IdxStrategy."""
        from geomesa_spark.functions import s2 as S2

        ge = geo_events(spark, sf)
        scanned = S2.s2_bbox_scan(
            ge, F.col("lon"), F.col("lat"), RECT, S2_LEVEL
        )
        return S2.with_s2_cell(
            scanned, F.col("lon"), F.col("lat"), S2_LEVEL, out="cell"
        ).select("event_id", "cell")

    add("s2_bbox", s2_bbox_gate)

    # --- deterministic epoch shuffle (training-order permutation) ---
    def epoch_shuffle_gate(spark, sf):
        """Epoch-3 training order over `documents`: md5-hash
        permutation, contiguous-range shards, per-shard positions
        (operators/sample.epoch_shuffle). The oracle re-derives the
        same (shard, pos) with a plain window — fine single-threaded
        in DuckDB; the operator's point is that Spark does it with a
        per-shard window and NO SinglePartition collapse (asserted
        in test_sample)."""
        from geomesa_spark.operators.sample import epoch_shuffle

        docs = _load(spark, sf, "documents").select("doc_id")
        return epoch_shuffle(
            docs, "doc_id", seed=EPOCH_SEED, n_shards=EPOCH_SHARDS
        ).select("doc_id", F.col("shard").cast("long").alias("shard"), "pos")

    add("epoch_shuffle", epoch_shuffle_gate)

    # --- DSIR importance selection (target-vs-source reweighting) ---
    def dsir_select_gate(spark, sf):
        """DSIR fixed-point selection: target = every 5th document,
        source = the full corpus, candidates = the rest; hashed-
        bigram models (4096 buckets), per-occurrence likelihood-ratio
        mean in pure int64, top-150 by (score_fp DESC, doc_id). The
        oracle rebuilds both models and the scoring chain from the
        same md5 bucket arithmetic (operators/dsir.py docstring
        records why the gate path is normalizer-free and the float
        log path is numpy-tested instead)."""
        from geomesa_spark.operators import dsir as DS

        docs = _load(spark, sf, "documents").select("doc_id", "text")
        target = docs.where(F.col("doc_id") % 5 == 0)
        cand = docs.where(F.col("doc_id") % 5 != 0)
        tm = DS.dsir_model(target, buckets=DSIR_B)
        sm = DS.dsir_model(docs, buckets=DSIR_B)
        return DS.dsir_sample(cand, tm, sm, k=DSIR_K)

    add("dsir_select", dsir_select_gate)

    # --- token-budget shard packing (distributed prefix sum) ---
    def shard_pack(spark, sf):
        """Pack documents into fixed token-budget training shards in
        global doc_id order via the two-pass distributed prefix sum
        (operators/pack.py) — the oracle's single-threaded
        SUM() OVER (ORDER BY) window is exactly what the operator
        refuses to become at scale (no SinglePartition Exchange,
        asserted in test_pack)."""
        from geomesa_spark.operators.pack import token_shards

        docs = _load(spark, sf, "documents").select(
            "doc_id", X.token_count(F.col("text")).cast("long").alias("n_tok")
        )
        return token_shards(
            docs, "n_tok", budget=4096, key_cols=["doc_id"]
        ).select("doc_id", "n_tok", "cum_tokens", "shard")

    add("shard_pack", shard_pack, "sec2")

    # --- deterministic sampling + sessionization ---
    def hash_sample_gate(spark, sf):
        """Layout-independent 35% sample keyed on md5(doc_id)
        (operators/sample.hash_sample): a pure pushdown-friendly
        filter, reproducible across cluster sizes and retries —
        unlike df.sample()'s per-partition RNG."""
        from geomesa_spark.operators.sample import hash_sample

        docs = _load(spark, sf, "documents")
        return hash_sample(docs, "doc_id", 0.35).select("doc_id")

    add("hash_sample", hash_sample_gate, "unbenched")

    def stratified_sample_gate(spark, sf):
        """Exactly min(40, |stratum|) docs per language, drawn by
        hash-permutation rank within each stratum — deterministic
        stratified sampling with one shuffle on the stratum key."""
        from geomesa_spark.operators.sample import stratified_sample

        docs = _load(spark, sf, "documents").select("doc_id", "lang")
        return stratified_sample(docs, "doc_id", "lang", quota=40)

    add("stratified_sample", stratified_sample_gate, "unbenched")

    def priority_sample_gate(spark, sf):
        """Weighted top-k sample (Duffield-Lund-Thorup priority
        sampling, k=PRI_K) of documents by text length, with the
        Horvitz-Thompson estimate weight max(w, tau) in 6-decimal
        fixed point — unbiased subset-sum estimation from a
        deterministic, layout-independent draw."""
        from geomesa_spark.operators.sample import priority_sample

        docs = _load(spark, sf, "documents").select(
            "doc_id", F.length("text").cast("int").alias("wt")
        )
        return priority_sample(docs, "doc_id", "wt", k=PRI_K)

    add("priority_sample", priority_sample_gate)

    def sessionize_gate(spark, sf):
        """Gap-based sessionization of the events stream per user
        (30-minute gap): lag + running session-start count over one
        per-entity window — never a global sort."""
        from geomesa_spark.operators.sample import sessionize

        ev = _load(spark, sf, "events")
        return sessionize(ev, "user_id", "ts", gap_seconds=1800).select(
            "event_id", "user_id", "session_id"
        )

    add("sessionize", sessionize_gate)

    def track_metrics_gate(spark, sf):
        """Per-leg track dynamics (Point2PointProcess.scala:26-111
        extended with motion): one window over (user_id, ts) gives
        seq, leg distance, elapsed seconds, speed. Planar metric =
        the exact-double oracle mode (sqrt/+/* are IEEE
        correctly-rounded, so values hash-compare exactly)."""
        from geomesa_spark.operators.tracks import track_metrics

        out = track_metrics(
            geo_events(spark, sf), "user_id", "dtg",
            metric="planar", tiebreak_col="event_id",
        )
        return out.select(
            "user_id", "event_id", "seq", "leg_dist", "dt_s", "speed"
        )

    add("track_metrics", track_metrics_gate)

    def track_summary_gate(spark, sf):
        """Per-track rollup on the same key as the metrics window —
        ONE Exchange total (plan-asserted in tests/test_tracks.py).
        total_dist_fp is the int64 fixed-point sum (float sums are
        merge-order dependent; the heatmap convention)."""
        from geomesa_spark.operators.tracks import track_summary

        out = track_summary(
            geo_events(spark, sf), "user_id", "dtg",
            metric="planar", tiebreak_col="event_id", fp_scale=1_000_000,
        )
        return out.select(
            "user_id", "n_points", "duration_s", "total_dist_fp",
            "min_lon", "max_lon", "min_lat", "max_lat",
        )

    add("track_summary", track_summary_gate)

    def geofence_gate(spark, sf):
        """Geofence transition detection: per-track sequence window +
        the broadcast PIP join + gap detection over CONTAINED rows
        only (operators/geofence.py — the engine-side diff of the
        reference's live-layer polling pattern,
        LiveKafkaConsumerFeatureSource.scala:136-191)."""
        from geomesa_spark.operators.geofence import geofence_events

        pts = geo_events(spark, sf).withColumn(
            "es", F.unix_timestamp("dtg")
        )
        out = geofence_events(
            pts, _polys, "user_id", "es", tiebreak_col="event_id"
        )
        return out.select(
            F.col("track").alias("user_id"), "fence_id", "event",
            F.col("ts").alias("es"), "seq",
        )

    add("geofence", geofence_gate)

    def hotspot_gate(spark, sf):
        """Getis-Ord Gi* hot spots over the 64x64 grid: exact int64
        cell/neighborhood/corpus aggregates, z-score from ONE
        canonical SQL expression evaluated verbatim by both engines
        (operators/hotspot.py; DensityProcess says where the mass
        is, Gi* says where it is anomalous)."""
        from geomesa_spark.operators.hotspot import hotspot_cells

        return hotspot_cells(geo_events(spark, sf), bits=6, ring=1)

    add("hotspot", hotspot_gate)

    def cooccurrence_gate(spark, sf):
        """Who-met-whom self-join: pairs within 0.5 deg and 2 h via
        the (cell, time-bucket) composite-key join — each pair
        matched exactly once (home-key trick), no distinct pass, no
        cartesian (operators/cooccur.py). Positions come from the
        _COOC motion model (time-driven lon drift + per-user lat
        band), ONE shared SQL expression pair evaluated verbatim by
        both engines, so entities genuinely co-occur."""
        from geomesa_spark.operators.cooccur import cooccurrence_join

        pts = (
            _load(spark, sf, "events")
            .withColumn("es", F.unix_timestamp("ts"))
            .withColumn("lon", F.expr(_COOC_LON))
            .withColumn("lat", F.expr(_COOC_LAT))
        )
        return cooccurrence_join(pts, 0.5, 7200, "event_id", "es")

    add("cooccurrence", cooccurrence_gate)

    def hotspot_st_gate(spark, sf):
        """Space-time Gi* (emerging-hotspot bin statistic): occupied
        (cell, day) bins, 3x3x3 spatiotemporal neighborhood, same
        canonical z-score expression as `hotspot`."""
        from geomesa_spark.operators.hotspot import hotspot_cells_st

        return hotspot_cells_st(
            geo_events(spark, sf), "dtg", bits=6, ring=1,
            time_bucket_s=86400, time_ring=1,
        )

    add("hotspot_st", hotspot_st_gate)

    def emerging_gate(spark, sf):
        """Emerging hot spot analysis: per-cell Mann-Kendall trend
        over the space-time bins + classification vs the Gi* hot
        flag. hot_z/trend_z = 1.0 (not the production 1.96) so the
        hash-uniform gate corpus exercises every branch of the
        classification (new/intensifying/diminishing/persistent/
        formerly_hot/none) rather than collapsing to 'none'."""
        from geomesa_spark.operators.hotspot import emerging_hotspots

        return emerging_hotspots(
            geo_events(spark, sf), "dtg", bits=4, ring=1,
            time_bucket_s=86400, time_ring=1, hot_z=1.0, trend_z=1.0,
        )

    add("emerging_hotspots", emerging_gate)

    def sen_slope_gate(spark, sf):
        """Theil-Sen trend magnitude (hotspot.sen_slope) per cell of
        the bits=4 space-time cube: median pairwise slope of the
        daily bin weights — the robust rate that pairs with
        emerging_hotspots' Mann-Kendall direction.  Every slope is
        one double division of exact int64 deltas; the median is an
        order statistic (ranks (m+1)//2 .. m//2+1 averaged), so the
        doubles hash-compare."""
        from geomesa_spark.operators.hotspot import (
            hotspot_cells_st, sen_slope,
        )

        bins = hotspot_cells_st(
            geo_events(spark, sf), "dtg", bits=4, ring=1,
            time_bucket_s=86400, time_ring=1,
        )
        return sen_slope(bins, ["x", "y"], "tb", "w")

    add("sen_slope", sen_slope_gate)

    def _cooc_pts(spark, sf):
        return (
            _load(spark, sf, "events")
            .withColumn("es", F.unix_timestamp("ts"))
            .withColumn("lon", F.expr(_COOC_LON))
            .withColumn("lat", F.expr(_COOC_LAT))
        )

    def flow_field_gate(spark, sf):
        """Per-cell aggregate motion (tracks.flow_field): legs onto
        the origin cell, exact int64 leg/elapsed/fixed-point
        displacement sums, mean velocity = one division of canonical
        integers (FLOW_MEAN_SQL). Motion-model positions drift east
        ~12 deg/day, so u_fp reads strongly positive."""
        from geomesa_spark.operators.tracks import flow_field

        return flow_field(
            _cooc_pts(spark, sf), "user_id", "es", bits=5,
            max_gap_s=86400, tiebreak_col="event_id",
        )

    add("flow_field", flow_field_gate)

    def flow_anomaly_gate(spark, sf):
        """Per-leg motion anomaly against the cell's LEAVE-ONE-OUT
        flow (tracks.flow_anomaly): each leg's own int64 sums are
        subtracted exactly before the comparison; cos_sim and
        speed_ratio via the shared FLOW_COS_SQL / FLOW_MAGR_SQL
        strings (products in doubles — identical IEEE sequence both
        engines)."""
        from geomesa_spark.operators.tracks import flow_anomaly

        return flow_anomaly(
            _cooc_pts(spark, sf), "user_id", "es", bits=5,
            max_gap_s=86400, tiebreak_col="event_id",
        )

    add("flow_anomaly", flow_anomaly_gate)

    def trips_gate(spark, sf):
        """Dwell-gap trip extraction (tracks.track_trips): sessionize
        on the track key + one map-side-combinable endpoint aggregate
        on the same partitioning. Motion-model positions (the
        cooccurrence convention) so trips genuinely move."""
        from geomesa_spark.operators.tracks import track_trips

        return track_trips(
            _cooc_pts(spark, sf), "user_id", "ts", 3600,
            tiebreak_col="event_id",
        ).withColumnRenamed("track", "user_id")

    add("trips", trips_gate)

    def od_flows_gate(spark, sf):
        """Origin-destination flow matrix: trips rolled onto
        (origin cell, dest cell, departure day) — output bounded by
        the grid, not the corpus (tracks.od_flows)."""
        from geomesa_spark.operators.tracks import od_flows, track_trips

        trips = track_trips(
            _cooc_pts(spark, sf), "user_id", "ts", 3600,
            tiebreak_col="event_id",
        )
        return od_flows(trips, bits=6, time_bucket_s=86400)

    add("od_flows", od_flows_gate)

    def stop_detect_gate(spark, sf):
        """Stop (dwell) detection (tracks.stop_detect): maximal runs
        of consecutive small legs lasting >= min_duration — the
        stay-point mining step. Motion-model positions drift with
        time, so closely-spaced fixes dwell and long gaps anchor new
        segments. Planar metric = exact-double oracle mode; bbox
        midpoint center is deterministic."""
        from geomesa_spark.operators.tracks import stop_detect

        return stop_detect(
            _cooc_pts(spark, sf), "user_id", "ts",
            radius=0.2, min_duration_s=600,
            metric="planar", tiebreak_col="event_id",
        )

    add("stop_detect", stop_detect_gate)

    def dbscan_gate(spark, sf):
        """Grid-partitioned DBSCAN (operators/cluster.py): eps-pair
        mining via the single-meeting-cell trick, core test, pointer-
        jumping components (cluster = min core id), min-label border
        attach. Positions = 977 hash-blob clusters (±0.02 deg) whose
        DIAMETER is scale-invariant: blobs densify with sf but stay
        a few eps-hops wide, so the component rounds stay O(1) at
        any corpus size (the first motion-model version chained
        along the month's lon drift — diameter grew linearly with
        sf and the jump rounds blew past max_iter at sf0.1).
        Planar metric = exact-double oracle mode."""
        from geomesa_spark.operators.cluster import dbscan

        pts = _load(spark, sf, "events").select(
            F.col("event_id").alias("id"),
            F.expr(_BLOB_LON).alias("lon"),
            F.expr(_BLOB_LAT).alias("lat"),
        )
        out = dbscan(pts, eps=0.02, min_pts=4, id_col="id",
                     metric="planar")
        return out.select(
            "id", "cluster", F.col("is_core").cast("int").alias("is_core")
        )

    add("dbscan", dbscan_gate, "sec2")

    def st_dbscan_gate(spark, sf):
        """ST-DBSCAN (two-eps neighborhood, Birant & Kut): the same
        blob corpus with event times — a neighbor must be within
        0.02 deg AND 7 days, so each blob splits into its temporal
        episodes instead of one month-wide cluster (7 days admits the
        blob jitter lattice's rank-2-in-time close pairs — adjacent
        members are deterministically > eps apart). min_pts=3 keeps a
        live core/border mix at sf0.01 blob density."""
        from geomesa_spark.operators.cluster import dbscan

        pts = _load(spark, sf, "events").select(
            F.col("event_id").alias("id"),
            F.expr(_BLOB_LON).alias("lon"),
            F.expr(_BLOB_LAT).alias("lat"),
            F.unix_timestamp("ts").cast("double").alias("es"),
        )
        out = dbscan(pts, eps=0.02, min_pts=3, id_col="id",
                     metric="planar", t_col="es", eps_t=604800.0)
        return out.select(
            "id", "cluster", F.col("is_core").cast("int").alias("is_core")
        )

    add("st_dbscan", st_dbscan_gate)

    def track_resample_gate(spark, sf):
        """Time-regular track resampling (tracks.track_resample):
        each segment owns the grid ticks in (es_i, es_{i+1}], linear
        interpolation in exact-double arithmetic — one window + one
        sequence() explode, fan-out bounded by the cadence."""
        from geomesa_spark.operators.tracks import track_resample

        return track_resample(
            _cooc_pts(spark, sf), "user_id", "ts", 3600,
            tiebreak_col="event_id",
        )

    add("track_resample", track_resample_gate)

    def co_travel_gate(spark, sf):
        """Co-travel mining (cooccur.co_travel): track_resample
        aligns every track to the hourly grid, a per-tick eps-join
        pairs tracks within 0.5 deg, one count aggregate keeps pairs
        sharing >= 200 ticks. Users 60 apart share a lat band and
        drift in lockstep, so convoys genuinely exist."""
        from geomesa_spark.operators.cooccur import co_travel

        return co_travel(
            _cooc_pts(spark, sf), 0.5, 3600, 200,
            "user_id", "ts", tiebreak_col="event_id",
        )

    add("co_travel", co_travel_gate)

    def idw_gate(spark, sf):
        """IDW interpolation surface (operators/interp.py): samples
        scatter to (2*ring+1)^2 neighbor cells with integer smoothed
        inverse-distance-squared weights (the smooth_density_fixed
        convention), one partial-aggregated groupBy; value = one
        division of two canonical int64 sums — bit-exact."""
        from geomesa_spark.operators.interp import idw_grid

        return idw_grid(
            geo_events(spark, sf), "wfp", bits=6, ring=2, fixed=True
        )

    add("idw_surface", idw_gate)

    def distance_surface_gate(spark, sf):
        """Euclidean distance + allocation surface
        (interp.distance_surface): every 97th geo event is a target;
        each cell within ring=2 of any target reports the exact
        planar wrapped-lon d² to the nearest one and its id (total
        (d², id) tie order) — the EucDistance / EucAllocation /
        discrete-Voronoi triple in one bounded-scatter
        min(struct)."""
        from geomesa_spark.operators.interp import distance_surface

        pts = geo_events(spark, sf).filter(
            F.col("event_id") % 97 == 0
        )
        return distance_surface(pts, "event_id", bits=6, ring=2)

    add("distance_surface", distance_surface_gate)

    def snap_gate(spark, sf):
        """Nearest-segment snap (operators/snap.py): the map-matching
        primitive — segments scatter to expanded-bbox cells, points
        join their single home cell, exact planar projection, one
        min(struct) winner with a total tie order. Layer = every
        50th gate line (segments_table over geom_table_native)."""
        from geomesa_spark.operators import geom_data as GD
        from geomesa_spark.operators.snap import (
            segments_table, snap_nearest,
        )

        ge = geo_events(spark, sf)
        lines = _gate_lines(ge.filter(F.col("event_id") % 50 == 0))
        segs = segments_table(GD.geom_table_native(lines))
        return snap_nearest(ge, segs, 2.0, "event_id", bits=6)

    add("snap_nearest", snap_gate)

    def moran_gate(spark, sf):
        """Global + local Moran's I (operators/moran.py): exact
        integer corpus moments (N, W, Q, S0, A, B, C), statistics
        derived through ONE canonical SQL string both engines
        evaluate verbatim — doubles hash-compare (the GI_STAR_SQL
        convention). Self-excluded queen contiguity, occupied cells."""
        from geomesa_spark.operators.moran import morans_i

        return morans_i(geo_events(spark, sf), bits=6, ring=1)

    add("morans_i", moran_gate)

    def geary_gate(spark, sf):
        """Global Geary's C (operators/moran.gearys_c): the squared-
        neighbor-difference complement of Moran's I — one extra
        integer moment (sum w^2 * nbr_n) over the same neighbor
        frame, C via the shared GEARY_GLOBAL_SQL."""
        from geomesa_spark.operators.moran import gearys_c

        return gearys_c(geo_events(spark, sf), bits=6, ring=1)

    add("geary_c", geary_gate)

    def join_counts_gate(spark, sf):
        """Join-count statistics (moran.join_counts): categorical
        autocorrelation — blob cells labeled by majority event_type,
        same-label queen joins per label with the Cliff-Ord
        permutation-null z (MC-validated formula, shared JC_*
        strings over exact int64 edge/degree counts)."""
        from geomesa_spark.operators.moran import join_counts

        pts = _load(spark, sf, "events").select(
            F.expr(_BLOB_LON).alias("lon"),
            F.expr(_BLOB_LAT).alias("lat"),
            F.col("event_type").alias("cat"),
        )
        return join_counts(pts, "cat", bits=6, ring=1)

    add("join_counts", join_counts_gate)

    def pyramid_gate(spark, sf):
        """Multi-resolution tile rollup (analytics.tile_pyramid):
        one finest-cell groupBy then ancestor explode over the
        AGGREGATED cells (geohash-prefix containment, cell_parent) —
        the level fan-out never multiplies the corpus."""
        from geomesa_spark.operators.analytics import tile_pyramid

        return tile_pyramid(
            geo_events(spark, sf), max_bits=8, min_bits=0,
            weight_col="wfp",
        )

    add("tile_pyramid", pyramid_gate)

    def hausdorff_gate(spark, sf):
        """Trajectory similarity (operators/trajsim.py): symmetric
        discrete Hausdorff per CANDIDATE pair (the co_travel output)
        over an every-12th-tick sample of the resampled grid — the
        |A|x|B| term bounded by both caller choices, min/max over
        exact planar d2, one sqrt at the end."""
        from geomesa_spark.operators.cooccur import co_travel
        from geomesa_spark.operators.tracks import track_resample
        from geomesa_spark.operators.trajsim import hausdorff_join

        base = _cooc_pts(spark, sf)
        sub = track_resample(
            base, "user_id", "ts", 3600, tiebreak_col="event_id"
        ).filter(F.pmod(F.col("tick_ts"), F.lit(43200)) == 0)
        prs = co_travel(
            base, 0.5, 3600, 200, "user_id", "ts",
            tiebreak_col="event_id",
        ).select("track_a", "track_b")
        return hausdorff_join(sub, prs)

    add("hausdorff", hausdorff_gate)

    def zonal_gate(spark, sf):
        """Zonal statistics (analytics.zonal_stats): broadcast PIP
        join + one partial-aggregated groupBy; exact count/min/max,
        int64 fixed-point sum, mean = one division of canonical
        integers."""
        from geomesa_spark.operators.analytics import zonal_stats

        return zonal_stats(geo_events(spark, sf), _polys, "value")

    add("zonal_stats", zonal_gate)

    def hex_density_gate(spark, sf):
        """Hex binning (functions/hex.py): axial pointy-top lattice,
        cube rounding via floor(v+0.5) — exact doubles shared
        verbatim with the oracle; one partial-aggregated groupBy."""
        from geomesa_spark.functions.hex import hex_cell_cols

        ge = geo_events(spark, sf)
        hq, hr = hex_cell_cols(F.col("lon"), F.col("lat"), 2.5)
        return (
            ge.select(hq.alias("hq"), hr.alias("hr"))
            .groupBy("hq", "hr")
            .agg(F.count("*").cast("long").alias("n"))
        )

    add("hex_density", hex_density_gate)

    def hex_hotspot_gate(spark, sf):
        """Gi* over the hex lattice (hotspot.hotspot_hex): 6-neighbor
        + self contiguity (the cube-distance disk), exact int64
        aggregates, the shared GI_STAR_SQL canonical string."""
        from geomesa_spark.operators.hotspot import hotspot_hex

        return hotspot_hex(geo_events(spark, sf), size=2.5, ring=1)

    add("hex_hotspot", hex_hotspot_gate)

    def semantic_decon_gate(spark, sf):
        """Embedding-space benchmark decontamination
        (dedup.semantic_decontaminate): broadcast benchmark, one
        narrow corpus scan, threshold filter BEFORE the per-doc
        argmax; ann fixed-point cosines. Bench = every 37th vector
        — self-hits at exactly 1.0 plus ~43 genuine nearest
        neighbors at the 0.3 threshold (this synthetic table has no
        engineered near-dups; the threshold exercises the argmax on
        real non-trivial cosines)."""
        from geomesa_spark.operators.dedup import semantic_decontaminate

        emb = _load(spark, sf, "embeddings")
        bench = emb.filter(F.col("vec_id") % 37 == 0)
        return semantic_decontaminate(emb, bench, 0.3)

    add("semantic_decon", semantic_decon_gate)

    def wkb_gate(spark, sf):
        """WKB codec end-to-end (sources/wkb.py): the gate lines
        render to WKT, encode to little-endian WKB, decode back, and
        parse through geom_table_native — the emitted bounds must be
        VALUE-EXACT vs the oracle's direct arithmetic, proving the
        float64<->binary<->text chain loses nothing (the reference's
        WKBUtils storage path)."""
        from geomesa_spark.operators.geom_data import geom_table_native
        from geomesa_spark.sources.wkb import decode_wkb, encode_wkb

        lines = _gate_lines(geo_events(spark, sf))
        wkb = encode_wkb(lines).drop("geom_wkt")
        return geom_table_native(decode_wkb(wkb)).select(
            "gid", "xmin", "ymin", "xmax", "ymax"
        )

    # unbenched: a per-row Python ingest-boundary codec (the Avro OCF
    # precedent), not a query — at sf0.1 it times the codec
    add("wkb_roundtrip", wkb_gate, "unbenched")

    def snapshot_diff_gate(spark, sf):
        """Snapshot diff (temporal.snapshot_diff): one full-outer
        equi-join, null-safe column compare, output bounded by the
        churn. Old = even ids, new = non-multiples-of-3 with every
        7th value bumped — all four change kinds exercised."""
        from geomesa_spark.operators.temporal import snapshot_diff

        ev = _load(spark, sf, "events")
        old = ev.filter(F.col("event_id") % 2 == 0).select(
            "event_id", "value"
        )
        new = ev.filter(F.col("event_id") % 3 != 0).select(
            "event_id",
            F.when(
                F.col("event_id") % 7 == 0, F.col("value") + F.lit(1.0)
            ).otherwise(F.col("value")).alias("value"),
        )
        return snapshot_diff(old, new, "event_id", ["value"])

    add("snapshot_diff", snapshot_diff_gate)

    def frequent_places_gate(spark, sf):
        """Top-k dwell locations (tracks.frequent_places): stop
        centers onto the 64-grid, dwell-ranked top-3 per track with
        a total (dwell DESC, x, y) tie order."""
        from geomesa_spark.operators.tracks import frequent_places

        return frequent_places(
            _cooc_pts(spark, sf), "user_id", "ts",
            radius=0.2, min_duration_s=600, k=3, bits=6,
            metric="planar", tiebreak_col="event_id",
        )

    add("frequent_places", frequent_places_gate)

    def speed_filter_gate(spark, sf):
        """Teleport filtering (tracks.speed_filter, mark mode): one
        window pass over track_metrics legs, exact planar speeds;
        dt=0 duplicates never flag."""
        from geomesa_spark.operators.tracks import speed_filter

        out = speed_filter(
            _cooc_pts(spark, sf), "user_id", "ts",
            max_speed=0.00002,  # planar deg/s: the motion model's
            # drift is ~1.4e-5 deg/s, so jitter-dominated short legs
            # flag and steady drift survives
            metric="planar", tiebreak_col="event_id",
        )
        return out.select(
            "event_id",
            F.col("is_ghost").cast("int").alias("is_ghost"),
        )

    add("speed_filter", speed_filter_gate)

    def quadkey_gate(spark, sf):
        """Web-mercator XYZ tiles + quadkeys (functions/tiles.py):
        the mercator expression is ONE shared SQL string (s2's
        DEG2RAD convention — only ln/tan could diverge, flipping a
        tile only within ~1e-16 of a boundary); quadkey = base-4
        interleave whose prefixes are ancestors."""
        from geomesa_spark.functions.tiles import quadkey_col, tile_cols

        ge = geo_events(spark, sf)
        tx, ty = tile_cols("lon", "lat", 9)
        out = ge.select(
            "event_id", tx.alias("tx"), ty.alias("ty")
        )
        return out.withColumn(
            "qk", quadkey_col(F.col("tx"), F.col("ty"), 9)
        )

    add("quadkey_tiles", quadkey_gate)

    def zonal_raster_gate(spark, sf):
        """Raster zonal statistics (raster.zonal_pixel_stats): the
        synthetic tile pyramid's pixels de-interleaved to centers
        (squash2_col), broadcast PIP join per center, fixed-point
        per-zone sums — the GeoTools ZonalStats analog with the
        raster kept distributed. Fixed synthetic level (16x16 cells
        of 8x8 px), zones = the pip polygons."""
        from geomesa_spark.operators.raster import (
            synth_tiles, zonal_pixel_stats,
        )

        tiles = synth_tiles(spark, 4, px=8, py=8, limit_cells=256)
        return zonal_pixel_stats(tiles, _polys, res_bits=4)

    add("zonal_raster", zonal_raster_gate)

    def map_algebra_gate(spark, sf):
        """Local raster map algebra (raster.map_algebra): layer B is
        a derived band (2000 - 2a) on 2/3 of the cells, op = the
        NDVI-shape normalized difference — one (res_bits, cell)
        equi-join + ONE zip_with, pure JVM. Output exploded to
        pixels so the DuckDB oracle replays the identical HUGEINT
        value model + op arithmetic."""
        from geomesa_spark.operators.raster import (
            map_algebra, synth_tiles,
        )

        a = synth_tiles(spark, 4, px=8, py=8, limit_cells=256)
        b = a.withColumn(
            "tile",
            F.transform("tile", lambda v: F.lit(2000.0) - v * 2.0),
        ).filter(F.col("cell") % 3 != 0)
        out = map_algebra(a, b, "ndiff")
        return out.select(
            "cell", F.posexplode("tile").alias("idx", "v")
        )

    add("map_algebra", map_algebra_gate)

    def focal_stats_gate(spark, sf):
        """Focal raster statistics (raster.focal_stats): per-pixel
        3x3 window aggregates ACROSS tile boundaries — global pixel
        lattice + window-key explode + one partial-aggregated
        groupBy (the hotspot machinery on pixels). Values fixed-
        point int64; mean via the shared FOCAL_MEAN_SQL."""
        from geomesa_spark.operators.raster import (
            focal_stats, synth_tiles,
        )

        tiles = synth_tiles(spark, 4, px=8, py=8, limit_cells=256)
        return focal_stats(tiles, 4, ring=1)

    add("focal_stats", focal_stats_gate)

    def raster_overview_gate(spark, sf):
        """Overview/pyramid build (raster.downsample): factor-2
        block mean of the synthetic level-4 lattice re-assembled as
        level-3 tiles — the raster twin of tile_pyramid, the coarser
        level selectResolution later picks. Block sums exact int64;
        each pixel value is ONE division of canonical moments
        (OVERVIEW_MEAN_SQL). Output exploded to (cell, idx, v) so
        the DuckDB oracle replays the HUGEINT value model, the
        coarse grouping, and the spread-interleave parent key."""
        from geomesa_spark.operators.raster import (
            downsample, synth_tiles,
        )

        tiles = synth_tiles(spark, 4, px=8, py=8, limit_cells=256)
        out = downsample(tiles, 4, factor=2)
        return out.select(
            "cell", F.posexplode("tile").alias("idx", "v")
        )

    add("raster_overview", raster_overview_gate)

    def terrain_slope_gate(spark, sf):
        """Horn terrain gradients (raster.terrain) over the
        synthetic lattice: exact int64 weighted gradient sums per
        interior pixel (windows cross tile seams), dzdx/dzdy/
        slope_ratio via the shared TERRAIN_* strings — only
        IEEE-exact ops (*, /, sqrt), so the doubles hash-compare;
        the atan/cos surface columns (slope_deg/aspect/hillshade)
        are pytest-verified against numpy instead (the hll_distinct
        precedent for non-correctly-rounded libm)."""
        from geomesa_spark.operators.raster import (
            synth_tiles, terrain,
        )

        tiles = synth_tiles(spark, 4, px=8, py=8, limit_cells=256)
        t = terrain(tiles, 4, x_cellsize=30.0, y_cellsize=25.0)
        return t.select(
            "gx", "gy", "v_fp", "gx_fp", "gy_fp",
            "dzdx", "dzdy", "slope_ratio",
        )

    add("terrain_slope", terrain_slope_gate)

    def viewshed_gate(spark, sf):
        """Observer line-of-sight (raster.viewshed): three observers
        on the synthetic 128x128 lattice, radius 10 — R3 viewshed
        with round-half-up nearest-pixel sampling (non-negative
        integer `div` only) and the strict cross-multiplied blocking
        test (VIEWSHED_BLOCK_SQL, exact int64, no division or trig).
        The oracle replays pairing, sampling, and blocking verbatim
        over the shared pixel CTE."""
        from geomesa_spark.operators.raster import synth_tiles, viewshed

        tiles = synth_tiles(spark, 4, px=8, py=8, limit_cells=256)
        obs = spark.createDataFrame(
            [(10, 10), (64, 100), (100, 30)], "gx long, gy long"
        )
        return viewshed(tiles, obs, 4, radius=10)

    add("viewshed", viewshed_gate)

    def contour_gate(spark, sf):
        """Marching-squares contour extraction (raster.contour) at
        the synthetic corpus midline (2^23): the tile bases straddle
        the level, so the contour traces tile seams — marching
        cells assembled ACROSS tiles prove the lattice composition.
        Every vertex is one exact-int subtraction pair + one
        division via the shared contour_coord_sql CASE tables, so
        the doubles hash-compare."""
        from geomesa_spark.operators.raster import contour, synth_tiles

        tiles = synth_tiles(spark, 4, px=8, py=8, limit_cells=256)
        return contour(tiles, 4, 8388608.0)

    add("contour", contour_gate)

    def spatial_split_gate(spark, sf):
        """Spatially blocked train/test split (sample.spatial_split)
        on the blob corpus at bits=4: whole 22.5-deg blocks land on
        one side via the portable md5 bucket of the block's Z2 cell
        — the block-CV leakage guard. Pure column expressions; the
        oracle replays the clamp/floor grid, the spread interleave,
        and the md5 bucket verbatim."""
        from geomesa_spark.operators.sample import spatial_split

        pts = _load(spark, sf, "events").select(
            "event_id",
            F.expr(_BLOB_LON).alias("lon"),
            F.expr(_BLOB_LAT).alias("lat"),
        )
        return spatial_split(pts, 0.3, bits=4).select(
            "event_id", "split_block", "is_test"
        )

    add("spatial_split", spatial_split_gate)

    def flow_direction_gate(spark, sf):
        """D8 flow direction (raster.flow_direction) over the
        synthetic lattice: steepest-descent neighbor per interior
        pixel — exact int64 drops, one IEEE-exact division per
        neighbor (D8_RATE_SQL with the sqrt2 literal), ESRI
        power-of-two codes, ties to the lowest precedence index,
        pits/flats 0. The in-tile gradient drains south; tile-seam
        base jumps carve channels and pits."""
        from geomesa_spark.operators.raster import (
            flow_direction, synth_tiles,
        )

        tiles = synth_tiles(spark, 4, px=8, py=8, limit_cells=256)
        return flow_direction(tiles, 4)

    add("flow_direction", flow_direction_gate)

    def flow_accumulation_gate(spark, sf):
        """Flow accumulation (raster.flow_accumulation): upstream
        drainage counts over the D8 field — the iterative
        partial-sum propagation (one join + one groupBy per round,
        driver-synchronized convergence, the dbscan loop contract).
        Oracle = a recursive transitive-closure CTE (paths in a
        functional acyclic field are unique, so UNION ALL counts
        each ancestor once)."""
        from geomesa_spark.operators.raster import (
            flow_accumulation, flow_direction, synth_tiles,
        )

        tiles = synth_tiles(spark, 4, px=8, py=8, limit_cells=256)
        return flow_accumulation(flow_direction(tiles, 4))

    add("flow_accumulation", flow_accumulation_gate)

    def watershed_gate(spark, sf):
        """Watershed delineation (raster.watershed): every interior
        pixel labeled by the terminal cell its D8 path ends at —
        pointer jumping (each round doubles the hop distance,
        terminals absorb), ceil(log2(depth)) driver-synced rounds.
        Oracle follows the unique path with a recursive CTE and
        keeps the row whose cell has no outgoing edge."""
        from geomesa_spark.operators.raster import (
            flow_direction, synth_tiles, watershed,
        )

        tiles = synth_tiles(spark, 4, px=8, py=8, limit_cells=256)
        return watershed(flow_direction(tiles, 4))

    add("watershed", watershed_gate)

    def region_group_gate(spark, sf):
        """Region grouping (raster.region_group): the synthetic
        elevation surface banded into ~9 classes (quant = 2e12 fp
        units over the 2^24-scale tile bases), then equal-class
        4-connected components labeled by pointer jumping — tile
        interiors are uniform (the intra-tile gradient is ~5 orders
        below the band width), so every region merge the gate
        exercises crosses a tile boundary.  Oracle = the same
        lattice + banding, closure by recursive CTE, label = min
        packed pixel id."""
        from geomesa_spark.operators.raster import (
            region_group, synth_tiles,
        )

        tiles = synth_tiles(spark, 4, px=8, py=8, limit_cells=256)
        return region_group(tiles, 4, quant=2_000_000_000_000)

    add("region_group", region_group_gate)

    def pagerank_gate(spark, sf):
        """Integer PageRank (operators/graph.pagerank) over a
        synthesized 997-node link graph (src = event_id mod 997, dst
        mixes an independent digit plane — a pure function of src
        would make the graph a degree-2 permutation): 6 fixed
        synchronous
        rounds of exact int64 teleport + damped integer-share
        inflow — bit-replayable, so the oracle unrolls the SAME six
        rounds as materialized CTE stages (the cost_distance
        convention)."""
        from geomesa_spark.operators.graph import pagerank

        edges = (
            _load(spark, sf, "events")
            .selectExpr(
                "event_id % 997 AS src",
                "(event_id div 997 * 131 + event_id * 31) % 997"
                " AS dst",
            )
            .distinct()
        )
        return pagerank(edges, rounds=6)

    add("pagerank", pagerank_gate)

    def triangles_gate(spark, sf):
        """Triangle counts + local clustering (graph.triangle_counts)
        over the undirected view of the pagerank gate's 997-node
        link graph: degree-ordered orientation so each triangle is
        found exactly once with O(√m)-bounded wedge fan-out; the
        oracle counts triangles the brute way (neighbor-pair +
        closing-edge existence), proving the orientation loses
        nothing."""
        from geomesa_spark.operators.graph import triangle_counts

        edges = _load(spark, sf, "events").selectExpr(
            "event_id % 997 AS src",
            "(event_id div 997 * 131 + event_id * 31) % 997 AS dst",
        )
        return triangle_counts(edges)

    add("triangles", triangles_gate)

    def trustrank_gate(spark, sf):
        """Seeded-teleport PageRank (TrustRank, pagerank(sources=)):
        teleport restricted to the 100 seed nodes (node % 10 == 0);
        non-seeds start at 0 and earn rank only via damped inflow.
        Oracle = the same 6 unrolled rounds with the seed CASE in
        start and teleport."""
        from geomesa_spark.operators.graph import pagerank

        edges = (
            _load(spark, sf, "events")
            .selectExpr(
                "event_id % 997 AS src",
                "(event_id div 997 * 131 + event_id * 31) % 997"
                " AS dst",
            )
            .distinct()
        )
        seeds = spark.range(0, 997, 10).selectExpr("id AS seed")
        return pagerank(edges, rounds=6, sources=seeds)

    add("trustrank", trustrank_gate)

    def k_core_gate(spark, sf):
        """k-core peel (graph.k_core, k=19) over the link graph
        augmented with a dense 23-node block (every 11th event also
        links two low-modulus digit planes): the near-regular bulk
        (deg ~20) avalanches away over 5 synchronous rounds while
        the embedded K23 (degree 22) survives — a nontrivial fixed
        point.  Oracle = 8 unrolled keep/filter stages (one spare
        beyond observed convergence; synchronous deletion is
        schedule-independent, so the replay is exact)."""
        from geomesa_spark.operators.graph import k_core

        ev = _load(spark, sf, "events")
        bulk = ev.selectExpr(
            "event_id % 997 AS src",
            "(event_id div 997 * 131 + event_id * 31) % 997 AS dst",
        )
        dense = ev.filter(F.expr("event_id % 11 = 0")).selectExpr(
            "event_id % 23 AS src",
            "(event_id div 253) % 23 AS dst",
        )
        return k_core(bulk.unionByName(dense), 19)

    add("k_core", k_core_gate)

    def wcc_gate(spark, sf):
        """Weakly connected components on a GENERIC graph
        (dedup.dup_components — until now gated only through its
        near-dup composition): a sparse 30011-modulus link graph
        (~16k nodes, ~6.5k components, largest ~11) labeled by
        min-id pointer jumping.  Oracle = recursive-CTE closure
        (the region_group pattern)."""
        from geomesa_spark.operators.dedup import dup_components

        edges = (
            _load(spark, sf, "events")
            .selectExpr(
                "event_id % 30011 AS src",
                "(event_id div 30011 * 131 + event_id * 31) % 30011"
                " AS dst",
            )
            .filter("src <> dst")
        )
        return dup_components(edges, a_col="src", b_col="dst")

    add("wcc", wcc_gate)

    def link_predict_gate(spark, sf):
        """Link-prediction scoring (graph.neighbor_overlap) of ~10k
        candidate pairs against the 997-node link graph:
        common-neighbor counts via two explicit-equi-key adjacency
        joins (cost bounded by candidate degrees, never all-pairs)
        and the exact-int Jaccard via shared JACCARD_SQL."""
        from geomesa_spark.operators.graph import neighbor_overlap

        ev = _load(spark, sf, "events")
        edges = ev.selectExpr(
            "event_id % 997 AS src",
            "(event_id div 997 * 131 + event_id * 31) % 997 AS dst",
        )
        cand = ev.selectExpr(
            "event_id % 997 AS u",
            "(event_id div 997 * 17 + event_id * 13 + 5) % 997 AS v",
        ).filter("u <> v").distinct()
        return neighbor_overlap(edges, cand)

    add("link_predict", link_predict_gate)

    def hits_gate(spark, sf):
        """HITS hubs/authorities (graph.hits) over the directed 997
        link graph: 4 unnormalized exact-integer double-steps
        (authority = Σ hub in-links, hub = Σ authority out-links)
        from h=1, then one max-normalization division per column —
        replayable, so the oracle unrolls the same 8 half-rounds."""
        from geomesa_spark.operators.graph import hits

        edges = _load(spark, sf, "events").selectExpr(
            "event_id % 997 AS src",
            "(event_id div 997 * 131 + event_id * 31) % 997 AS dst",
        )
        return hits(edges, rounds=4)

    add("hits", hits_gate)

    def cost_distance_gate(spark, sf):
        """Cost-distance over the event-count surface
        (operators/route.py): the 8x8 occupied-cell lattice becomes
        a weighted graph (entering a cell costs its event count),
        multi-source frontier Bellman-Ford from the west column with
        rounds=16 — the gate pins the EXACTLY-16-round bounded-hop
        distances (a deterministic quantity of its own; pytest
        proves the converged form against an independent Dijkstra).
        Oracle = 16 unrolled min-relaxation CTE stages over packed
        (dist, src) int64 keys."""
        from geomesa_spark.operators.route import grid_cost_edges, sssp

        n = 8
        lon, lat = F.col("lon"), F.col("lat")
        gx = F.greatest(
            F.lit(0), F.least(F.lit(n - 1), F.floor((lon + 180.0) / 360.0 * n))
        ).cast("long")
        gy = F.greatest(
            F.lit(0), F.least(F.lit(n - 1), F.floor((lat + 90.0) / 180.0 * n))
        ).cast("long")
        cells = (
            geo_events(spark, sf)
            .select(gx.alias("gx"), gy.alias("gy"))
            .groupBy("gx", "gy")
            .agg(F.count("*").cast("long").alias("cost"))
        )
        edges = grid_cost_edges(cells)
        sources = cells.filter("gx = 0").select(
            (F.col("gx") * F.lit(4294967296) + F.col("gy")).alias("node")
        )
        out = sssp(edges, sources, rounds=16)
        return out.select(
            F.expr("node div 4294967296").alias("gx"),
            (F.col("node") % F.lit(4294967296)).alias("gy"),
            "dist",
            F.expr("src div 4294967296").alias("src_gx"),
            (F.col("src") % F.lit(4294967296)).alias("src_gy"),
        )

    add("cost_distance", cost_distance_gate)

    def route_paths_gate(spark, sf):
        """Route extraction (route.sssp(return_parent=True) +
        shortest_paths): CONVERGED cost-distance labels over the 8x8
        event-count lattice, parents as the third min-struct tie key
        (min node id among all optimal-value offers — deterministic
        under any schedule), then the east column's optimal routes
        walked target-first. Oracle = 66 unrolled min-relaxation
        stages over packed (dist, src6, par6) int64 (66 > the
        64-node hop diameter + tie settling) + one recursive-CTE
        parent walk."""
        from geomesa_spark.operators.route import (
            grid_cost_edges, shortest_paths, sssp,
        )

        n = 8
        lon, lat = F.col("lon"), F.col("lat")
        gx = F.greatest(
            F.lit(0), F.least(F.lit(n - 1), F.floor((lon + 180.0) / 360.0 * n))
        ).cast("long")
        gy = F.greatest(
            F.lit(0), F.least(F.lit(n - 1), F.floor((lat + 90.0) / 180.0 * n))
        ).cast("long")
        cells = (
            geo_events(spark, sf)
            .select(gx.alias("gx"), gy.alias("gy"))
            .groupBy("gx", "gy")
            .agg(F.count("*").cast("long").alias("cost"))
        )
        edges = grid_cost_edges(cells)
        node = (F.col("gx") * F.lit(4294967296) + F.col("gy")).alias("node")
        labels = sssp(
            edges, cells.filter("gx = 0").select(node),
            return_parent=True,
        )
        paths = shortest_paths(labels, cells.filter("gx = 7").select(node))
        return paths.select(
            F.expr("tgt div 4294967296").alias("tgt_gx"),
            (F.col("tgt") % F.lit(4294967296)).alias("tgt_gy"),
            "seq",
            F.expr("node div 4294967296").alias("gx"),
            (F.col("node") % F.lit(4294967296)).alias("gy"),
        )

    add("route_paths", route_paths_gate)

    def areal_interp_gate(spark, sf):
        """Areal interpolation (interp.areal_interpolate): the pip
        polygon layer's magnitudes reallocated onto the bits=5 grid
        by uniform center-count weighting — per-zone share = one
        exact integer division, per-cell totals int64 sums, value =
        the shared AREAL_VALUE_SQL division. The overlap of rect
        and tri exercises cross-zone summation."""
        from geomesa_spark.operators.interp import areal_interpolate

        zones = [
            (pid, wkt, val)
            for (pid, wkt), val in zip(
                _polys, (1000.0, 500.5, 250.25)
            )
        ]
        return areal_interpolate(spark, zones, 5)

    add("areal_interp", areal_interp_gate)

    def histogram_job_gate(spark, sf):
        """HistogramJob analog (geomesa-jobs HistogramJob.scala:33-108):
        histogram event_type per derived day, unique-by user_id (one
        count per distinct user), with a value filter — two
        partial-aggregated shuffles, no Python."""
        ev = _load(spark, sf, "events")
        return A.histogram_job(
            ev,
            "event_type",
            group_by=["day"],
            unique_by=["user_id"],
            transforms={"day": F.date_format("ts", "yyyy-MM-dd")},
            where=F.col("value") > 0.1,
        )

    add("histogram_job", histogram_job_gate, "sec2")

    def decontaminate_gate(spark, sf):
        """Benchmark decontamination: distinct word 4-gram overlap of
        every document against a broadcast benchmark shingle set
        (docs with doc_id % 37 == 0 stand in for the eval suite)."""
        docs = _load(spark, sf, "documents")
        bench = docs.filter(F.col("doc_id") % 37 == 0)
        return D.decontaminate(docs, bench, n=4)

    add("decontaminate", decontaminate_gate)

    def repetition_gate(spark, sf):
        """Gopher-style within-doc repetition signals: duplicate-token
        ratio, top-bigram share, longest same-token run — one narrow
        all-JVM pass (sorted-run bigram mode, aggregate run scan)."""
        return X.repetition_profile(_load(spark, sf, "documents"))

    add("repetition_profile", repetition_gate)

    def mixture_sample_gate(spark, sf):
        """Data-mixing step: sample the corpus to an en:5 fr:2 de:2
        es:1 language recipe of ~150 docs (zh dropped). Integer-exact
        per-domain cuts from one bounded count aggregate; the
        selection is the layout-independent hash-bucket filter."""
        from geomesa_spark.operators.sample import mixture_sample

        docs = _load(spark, sf, "documents")
        return mixture_sample(
            docs,
            "doc_id",
            "lang",
            weights={"en": 5, "fr": 2, "de": 2, "es": 1},
            total=150,
        ).select("doc_id", "lang")

    add("mixture_sample", mixture_sample_gate)

    def vocab_gate(spark, sf):
        """Corpus vocabulary with document frequency and total term
        frequency (min_df=2) — tokenizer-training corpus statistics;
        two partial-aggregated shuffles, all JVM."""
        return X.vocab(_load(spark, sf, "documents"), min_df=2)

    add("vocab", vocab_gate, "unbenched")

    def keyword_topk_gate(spark, sf):
        """Top-5 TF-IDF-style keywords per document with a
        fixed-point score (tf*1e6 DIV df) so ranking and values are
        engine-exact; token-keyed join + per-doc top-k window."""
        return X.keyword_topk(_load(spark, sf, "documents"), k=5)

    add("keyword_topk", keyword_topk_gate)

    def lm_quality_gate(spark, sf):
        """Bigram-LM quality scoring (the CCNet perplexity-filter
        analog): train an add-1-smoothed bigram model on the corpus,
        score every document with the fixed-point mean smoothed
        conditional likelihood (int64 DIV arithmetic — engine-exact;
        the float log-prob variant is pytest-checked vs numpy)."""
        docs = _load(spark, sf, "documents")
        model = X.bigram_lm(docs)
        return X.lm_score(docs, model)

    add("lm_quality", lm_quality_gate, "unbenched")

    def bm25_gate(spark, sf):
        """BM25 keyword search top-10 per query (fixed-point scoring:
        exact rational tf-saturation with k1=6/5, b=3/4 cleared of
        fractions; linear idf surrogate — see bm25_topk). Postings
        restricted by a broadcast of the query terms before any agg;
        per-query-key top-k window, no global sort."""
        docs = _load(spark, sf, "documents")
        return X.bm25_topk(docs, BM25_QUERIES, k=10)

    add("bm25_topk", bm25_gate, "unbenched")

    def embed_quantize_gate(spark, sf):
        """Symmetric per-vector int8 quantization of the embedding
        column (scale = max|v|/127, floor(x+0.5) rounding — both
        correctly-rounded IEEE ops, so codes are engine-exact),
        posexploded to scalar rows for the value hash."""
        from geomesa_spark.operators.ann import quantize_embeddings

        emb = _load(spark, sf, "embeddings")
        qd = quantize_embeddings(emb)
        return qd.select(
            "vec_id", "qscale", F.posexplode("qvec").alias("i", "q")
        ).select(
            "vec_id",
            F.col("qscale").alias("qscale"),
            F.col("i").cast("int").alias("i"),
            F.col("q").alias("q"),
        )

    add("embed_quantize", embed_quantize_gate)

    def line_dedup_gate(spark, sf):
        """Corpus-wide line-level dedup (C4/RefinedWeb boilerplate
        removal): documents are first reshaped into 3-token lines
        (the synthetic corpus has no newlines; ~19% of 3-token lines
        repeat at sf0.01), then every line occurring >=2 times
        anywhere in the corpus is removed from every document.
        One posexplode + one partial-aggregated count + a left_anti
        join (AQE broadcasts the duplicate set) + per-doc reassembly."""
        docs = _load(spark, sf, "documents")
        toks = F.filter(
            F.split(F.coalesce(F.col("text"), F.lit("")), " "), lambda x: x != ""
        )
        arr = docs.select("doc_id", F.explode(F.array(toks)).alias("_tk"))
        n = F.size("_tk")
        nl = F.ceil(n / F.lit(3)).cast("int")
        lined = arr.select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.when(n > 0, F.sequence(F.lit(0), nl - 1)).otherwise(
                        F.array().cast("array<int>")
                    ),
                    lambda i: F.array_join(F.slice(F.col("_tk"), i * 3 + 1, 3), " "),
                ),
                "\n",
            ).alias("text"),
        )
        return D.line_dedup(lined, min_count=2)

    add("line_dedup", line_dedup_gate)

    def pii_redact_gate(spark, sf):
        """PII scrub: deterministic synthetic PII (email / dotted-quad
        IP / phone derived from doc_id) appended to a text prefix,
        then redacted by the fixed email->ip->phone regexp_replace
        chain — a narrow all-JVM per-row map, no shuffle."""
        docs = _load(spark, sf, "documents")
        d = F.col("doc_id")
        salted = docs.select(
            "doc_id",
            F.concat_ws(
                " ",
                F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 60),
                F.concat(F.lit("user"), d, F.lit("@ex-ample.org")),
                F.concat(F.lit("10."), (d % 256), F.lit(".0."), (d % 250) + 1),
                F.concat(F.lit("tel +1 415 555 0"), F.lpad(d % 1000, 3, "0")),
            ).alias("t"),
        )
        return salted.select("doc_id", X.redact_pii(F.col("t")).alias("redacted"))

    add("pii_redact", pii_redact_gate)

    def chunk_docs_gate(spark, sf):
        """Training-window chunking: every document split into
        32-token windows at stride 24 (overlapping sliding window,
        short final suffix kept) — one Generate-barriered explode,
        no shuffle, no Python."""
        from geomesa_spark.operators.pack import chunk_tokens

        return chunk_tokens(
            _load(spark, sf, "documents"), chunk_size=32, stride=24
        )

    add("chunk_docs", chunk_docs_gate)

    def substring_dedup_gate(spark, sf):
        """Exact-substring dedup (Lee et al. ExactSubstr): every token
        covered by a duplicated 8-token rolling window (>=2 corpus
        occurrences — the engineered near-dup docs share long spans)
        is excised; offset-free, unlike line_dedup. One window
        posexplode + partial-aggregated count + semi-join + bounded
        covered-position explode + in-order reassembly."""
        docs = _load(spark, sf, "documents").select("doc_id", "text")
        return D.substring_dedup(docs, length=8, min_count=2)

    add("substring_dedup", substring_dedup_gate)

    def ingest_dedup_gate(spark, sf):
        """Streaming ingest-dedup batch twin (`replay_dedup` — the
        state `ingest_dedup_stream` converges to on an in-order
        feed): first record per content fingerprint by (ts, seq),
        computed as ONE partial-aggregated min-struct groupBy, never
        a row_number sort. Fingerprints engineered as
        (user_id % 311, event_type) so the corpus has real duplicate
        pressure; pytest drives the live multi-batch stream,
        cross-batch rejection, and TTL-horizon eviction."""
        from geomesa_spark.streaming import replay_dedup

        ev = _load(spark, sf, "events")
        log = ev.select(
            F.concat_ws(
                ":", (F.col("user_id") % 311).cast("string"), F.col("event_type")
            ).alias("fp"),
            F.unix_timestamp("ts").cast("double").alias("ts"),
            F.col("event_id").alias("seq"),
            F.col("event_type").alias("val"),
        )
        return replay_dedup(log, ["fp"], ["ts", "seq"])

    add("ingest_dedup", ingest_dedup_gate)

    def asof_join_gate(spark, sf):
        """As-of join: each click gains the most recent at-or-before
        view of the same user — union-tag + one per-key running
        window, so the plan has one Exchange on the key and NO range
        join (operators/temporal.py). Right side reduced unique per
        (user, ts) first; fixed-point value keeps raw doubles out of
        the row hash."""
        from geomesa_spark.operators.temporal import asof_join

        ev = _load(spark, sf, "events")
        left = ev.where(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        right = (
            ev.where(F.col("event_type") == "view")
            .withColumn(
                "vfx", F.floor(F.col("value") * F.lit(1000000.0)).cast("long")
            )
            .groupBy("user_id", "ts")
            .agg(
                F.max("event_id").alias("view_id"),
                F.max("vfx").alias("view_vfx"),
            )
        )
        out = asof_join(left, right, "user_id", "ts")
        return out.select(
            "event_id",
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("es"),
            F.unix_micros(F.col("r_ts").cast("timestamp")).alias("r_es"),
            F.col("r_view_id"),
            F.col("r_view_vfx"),
        )

    add("asof_join", asof_join_gate, "sec2")

    def interval_join_gate(spark, sf):
        """Point-in-interval join: views matched to the same user's
        one-day post-click windows. Intervals explode over their
        O(len/width) time buckets and the match is a plain
        (key, bucket) equi-join + exact filter — no
        BroadcastNestedLoopJoin theta join at any scale."""
        from geomesa_spark.operators.temporal import interval_join

        ev = _load(spark, sf, "events")
        wins = ev.where(F.col("event_type") == "click").select(
            F.col("event_id").alias("wid"),
            "user_id",
            F.col("ts").alias("start"),
            (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("end"),
        )
        pts = ev.where(F.col("event_type") == "view").select(
            "event_id", "user_id", "ts"
        )
        out = interval_join(
            pts, wins, "user_id", "ts", "start", "end", bucket_width=86400.0
        )
        return out.select(
            "event_id",
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("es"),
            F.col("i_wid"),
            F.unix_micros(F.col("i_start").cast("timestamp")).alias("i_ses"),
        )

    add("interval_join", interval_join_gate)

    def overlap_join_gate(spark, sf):
        """Interval-overlap join: 12-hour click windows x 12-hour
        view windows per user, each overlapping pair emitted exactly
        once — both sides explode over shared time buckets and the
        bucket containing max(start_l, start_r) is the pair's single
        responsible one (no post-join dedup Exchange)."""
        from geomesa_spark.operators.temporal import overlap_join

        ev = _load(spark, sf, "events")

        def win(event_type, idc):
            return ev.where(F.col("event_type") == event_type).select(
                F.col("event_id").alias(idc),
                "user_id",
                F.col("ts").alias("s"),
                (F.col("ts") + F.expr("INTERVAL 12 HOURS")).alias("e"),
            )

        out = overlap_join(
            win("click", "aid"),
            win("view", "bid"),
            "user_id",
            "s",
            "e",
            "s",
            "e",
            bucket_width=43200.0,
        )
        return out.select(
            "user_id",
            F.col("l_aid"),
            F.col("r_bid"),
            F.unix_micros(F.col("l_s").cast("timestamp")).alias("l_ses"),
            F.unix_micros(F.col("r_s").cast("timestamp")).alias("r_ses"),
        )

    add("overlap_join", overlap_join_gate)

    def attr_stats_gate(spark, sf):
        """Attribute stats collection (the query-planning metadata of
        geomesa-utils stats/Cardinality.scala:11-16): bounds, counts,
        exact distinct counts and the high/low cardinality class per
        attribute, in ONE partial-aggregated pass."""
        from geomesa_spark.operators.stats import attr_stats

        ev = _load(spark, sf, "events")
        return attr_stats(ev, ["event_id", "user_id", "event_type"])

    add("attr_stats", attr_stats_gate, "unbenched")

    def numeric_profile_gate(spark, sf):
        """Exact numeric moments + quantiles of the value column on a
        1e-6 fixed-point lattice: integer sums are order-independent,
        so mean/std are bit-reproducible across partitionings, and
        the dyadic quantile fractions (.25/.5/.75) interpolate
        exactly in both engines."""
        from geomesa_spark.operators.stats import numeric_profile

        ev = _load(spark, sf, "events")
        return numeric_profile(
            ev, "value", scale=1_000_000, quantiles=(0.25, 0.5, 0.75)
        )

    add("numeric_profile", numeric_profile_gate)

    def ripley_k_gate(spark, sf):
        """Ripley's K/L (pointpat.ripley_k) over the dbscan blob
        corpus (event_id % 4 subset): 5 radii up to 0.05 deg — the
        ±0.02-deg blob jitter makes the curve read strongly
        clustered at small r and flatten beyond blob diameter. Pair
        mining via eps_pairs (single-meeting-cell), counts exact
        int64, K/L via the shared RIPLEY_* strings."""
        from geomesa_spark.operators.pointpat import ripley_k

        pts = _load(spark, sf, "events").filter(
            F.col("event_id") % 4 == 0
        ).select(
            F.col("event_id").alias("id"),
            F.expr(_BLOB_LON).alias("lon"),
            F.expr(_BLOB_LAT).alias("lat"),
        )
        return ripley_k(pts, "id", 0.05, 5, 59500.0)

    add("ripley_k", ripley_k_gate)

    def g_function_gate(spark, sf):
        """Nearest-neighbor G function (pointpat.g_function) on the
        ripley_k corpus: the first-order complement of K — CDF of
        each point's distance to its FIRST neighbor, censored at
        0.05 deg. Blob members sit within jitter distance of their
        blob-mates, so G saturates fast. One eps_pairs pass + one
        min per point; counts exact int64; bin/r/G via the shared
        RIPLEY_BIN/RIPLEY_R/NN_G strings."""
        from geomesa_spark.operators.pointpat import g_function

        pts = _load(spark, sf, "events").filter(
            F.col("event_id") % 4 == 0
        ).select(
            F.col("event_id").alias("id"),
            F.expr(_BLOB_LON).alias("lon"),
            F.expr(_BLOB_LAT).alias("lat"),
        )
        return g_function(pts, 0.05, 5, "id")

    add("g_function", g_function_gate)

    def j_function_gate(spark, sf):
        """Empty-space F + van Lieshout–Baddeley J
        (pointpat.f_function/j_function) on the blob corpus: a
        35x17 probe_grid lattice (10-deg spacing over the blob
        extent) measures void distances to 8 deg; the blob pattern
        leaves big voids, so F trails G and J reads clustered (<1).
        Both curves are exact int64 counts; F/G/J are shared-string
        divisions (NN_G_SQL / J_SQL) — every step IEEE-exact."""
        from geomesa_spark.operators.pointpat import (
            j_function, probe_grid,
        )

        pts = _load(spark, sf, "events").filter(
            F.col("event_id") % 4 == 0
        ).select(
            F.col("event_id").alias("id"),
            F.expr(_BLOB_LON).alias("lon"),
            F.expr(_BLOB_LAT).alias("lat"),
        )
        ref = probe_grid(spark, (-174.0, -84.0, 176.0, 86.0), 35, 17)
        return j_function(pts, ref, 8.0, 5, "id")

    add("j_function", j_function_gate)

    def sd_ellipse_gate(spark, sf):
        """Centrography (pointpat.centrography) per event_type over
        the geo events: mean center, raw-moment variance/covariance,
        standard distance. Coordinate moments are fp-quantized
        int64 summed as decimal(38,0) (HUGEINT in the oracle);
        every emitted double is a shared CENTRO_* string. The
        ellipse axes/bearing need atan2 (libm) and are
        pytest-verified instead — this gate pins the exact moment
        surface they derive from."""
        from geomesa_spark.operators.pointpat import centrography

        out = centrography(geo_events(spark, sf), by=["event_type"])
        return out.select(
            "event_type", "n", "mean_x", "mean_y",
            "vx", "vy", "cxy", "sd_dist",
        )

    add("sd_ellipse", sd_ellipse_gate)

    def quadrat_gate(spark, sf):
        """Quadrat CSR analysis (pointpat.quadrat_counts/
        quadrat_test): occupied counts on an 8x6 grid over a
        (-120,-60,120,60) window of the geo events, each row
        carrying the window-wide chi-square statistics (one-row
        broadcast cross join) — chi2 = nq·Σc²/n − n folds the empty
        quadrats into the closed form, so no empty-cell rows
        materialize anywhere."""
        from geomesa_spark.operators.pointpat import (
            quadrat_counts, quadrat_test,
        )

        pts = geo_events(spark, sf)
        bbox = (-120.0, -60.0, 120.0, 60.0)
        counts = quadrat_counts(pts, bbox, 8, 6)
        stats = quadrat_test(pts, bbox, 8, 6)
        return counts.crossJoin(F.broadcast(stats))

    add("quadrat", quadrat_gate)

    def convex_hull_gate(spark, sf):
        """Distributed convex hull (hull.convex_hull/hull_edges) per
        event_type over a 1/37 slice of the geo events: two exact
        integer monotone-chain rounds (shard-local then final), CCW
        edges via the successor-index join. The oracle is the O(n³)
        directed hull-edge characterization — (a,b) is a CCW hull
        edge iff every other point is strictly left or
        collinear-within — which needs no chain at all; every group
        here is non-degenerate (≥3 non-collinear points), where that
        characterization picks each undirected edge in exactly one
        direction."""
        from geomesa_spark.operators.hull import convex_hull, hull_edges

        pts = geo_events(spark, sf).filter(F.col("event_id") % 37 == 0)
        verts = convex_hull(pts, by=["event_type"])
        return hull_edges(verts, by=["event_type"])

    add("convex_hull", convex_hull_gate)

    def hull_moments_gate(spark, sf):
        """Footprint moments (hull.polygon_moments) over the same
        per-event_type hulls as the convex_hull gate: area (shoelace),
        perimeter (per-edge fp-quantized lengths — cast/sqrt/floor are
        IEEE-exact in both engines), and the Green's-theorem centroid
        — every moment a per-edge-independent term in ONE
        partial-aggregated groupBy.  The oracle reuses the O(n³)
        directed hull-edge characterization and recomputes the moments
        in HUGEINT; the decimal→double casts compare bit-exact (the
        sd_ellipse precedent)."""
        from geomesa_spark.operators.hull import (
            convex_hull, hull_edges, polygon_moments,
        )

        pts = geo_events(spark, sf).filter(F.col("event_id") % 37 == 0)
        edges = hull_edges(
            convex_hull(pts, by=["event_type"]), by=["event_type"]
        )
        out = polygon_moments(edges, by=["event_type"])
        return out.select(
            "event_type",
            "n_edges",
            F.col("area2_fp").cast("double").alias("area2_d"),
            F.col("perim_fp").cast("double").alias("perim_d"),
            "area",
            "perimeter",
            "cx",
            "cy",
        )

    add("hull_moments", hull_moments_gate)

    def ripley_cross_gate(spark, sf):
        """Bivariate Ripley's K (pointpat.ripley_cross_k): do click
        events cluster around purchase events?  Blob corpus with
        event_type labels — types mix within every blob, so K_ab
        reads strongly attractive at blob scale. Cross pairs exact
        int64; K/L via the shared RIPLEY_XK/RIPLEY_L strings."""
        from geomesa_spark.operators.pointpat import ripley_cross_k

        pts = _load(spark, sf, "events").select(
            F.col("event_id").alias("id"),
            F.col("event_type").alias("cat"),
            F.expr(_BLOB_LON).alias("lon"),
            F.expr(_BLOB_LAT).alias("lat"),
        )
        return ripley_cross_k(
            pts, "id", "cat", "click", "purchase", 0.05, 5, 59500.0
        )

    add("ripley_cross_k", ripley_cross_gate)

    def knox_test_gate(spark, sf):
        """Knox space-time interaction (pointpat.knox_test) on the
        cooccurrence lattice (event_id % 7 subset), delta=1 deg,
        tau=12 h. The lattice TIES lon to time-of-month (es %
        2592000 drives lon), so space-close pairs are also
        time-close mod the month — a strongly interacting corpus
        (ratio >> 1). One row; counts exact int64; expected/ratio
        via the shared KNOX_* strings."""
        from geomesa_spark.operators.pointpat import knox_test

        mp = _load(spark, sf, "events").filter(
            F.col("event_id") % 7 == 0
        ).select(
            "event_id", "user_id",
            F.unix_timestamp("ts").alias("es"),
        )
        pts = mp.select(
            F.col("event_id").alias("id"),
            F.col("es").cast("double").alias("t"),
            F.expr(_COOC_LON).alias("lon"),
            F.expr(_COOC_LAT).alias("lat"),
        )
        return knox_test(pts, "id", "t", 1.0, 43200.0)

    add("knox_test", knox_test_gate)

    def space_time_k_gate(spark, sf):
        """Diggle space-time K surface (pointpat.space_time_k) on the
        knox corpus: a 4x3 (radius, lag) grid up to 1 deg / 1 day.
        The lattice's lon-follows-time coupling concentrates mass in
        the small-lag column. 2-D cumulative = two tiny windows;
        counts exact int64, K via the shared STK_K_SQL."""
        from geomesa_spark.operators.pointpat import space_time_k

        mp = _load(spark, sf, "events").filter(
            F.col("event_id") % 7 == 0
        ).select(
            "event_id", "user_id",
            F.unix_timestamp("ts").alias("es"),
        )
        pts = mp.select(
            F.col("event_id").alias("id"),
            F.col("es").cast("double").alias("t"),
            F.expr(_COOC_LON).alias("lon"),
            F.expr(_COOC_LAT).alias("lat"),
        )
        return space_time_k(
            pts, "id", "t", 1.0, 86400.0, 4, 3, 64800.0, 2592000.0
        )

    add("space_time_k", space_time_k_gate)

    def colocation_gate(spark, sf):
        """Colocation participation index (pointpat.colocation_pi)
        on the cooccurrence lattice (event_id % 3 subset), category
        = event_type, radius 0.5 deg: which event types co-occur
        spatially. Participation counts are distinct-participant
        int64; PR/PI via the shared PART_* strings."""
        from geomesa_spark.operators.pointpat import colocation_pi

        mp = _load(spark, sf, "events").filter(
            F.col("event_id") % 3 == 0
        ).select(
            "event_id", "user_id", "event_type",
            F.unix_timestamp("ts").alias("es"),
        )
        pts = mp.select(
            F.col("event_id").alias("id"),
            F.col("event_type").alias("cat"),
            F.expr(_COOC_LON).alias("lon"),
            F.expr(_COOC_LAT).alias("lat"),
        )
        return colocation_pi(pts, "id", "cat", 0.5)

    add("colocation", colocation_gate)

    def mst_gate(spark, sf):
        """Borůvka minimum spanning forest (graph.boruvka_mst) over
        a weighted 997-node link graph (w mixes independent digit
        planes; multi-edges fold to min(w) identically in both
        engines): synchronous cheapest-outgoing-edge hooking, then
        pointer-jumped merging over the COMPONENT graph.  The
        unique (w, a, b) total order makes the forest unique and
        rounds past the fixed point idempotent, so the oracle
        replays 10 unrolled rounds (the ceil(log2 n) hard bound),
        each with a recursive-CTE closure over the ≤-one-edge-per-
        component merge graph."""
        from geomesa_spark.operators.graph import boruvka_mst

        edges = _load(spark, sf, "events").selectExpr(
            "event_id % 997 AS src",
            "(event_id div 997 * 131 + event_id * 31) % 997 AS dst",
            "(event_id * 37 + event_id div 31) % 9973 + 1 AS w",
        )
        return boruvka_mst(edges)

    add("mst", mst_gate)

    def closeness_gate(spark, sf):
        """Closeness centrality + eccentricity (graph.closeness) for
        27 pivot sources (node % 37 == 0) over the undirected 997
        link graph — per-source unit-weight BFS through
        route.sssp(per_source=True), then one exact-int fold per
        source; closeness = (n_reached-1)/Σdist via the shared
        CLOSENESS_SQL.  rounds=16 pins the EXACTLY-16-hop bounded
        form (the cost_distance precedent — well-defined at any sf,
        where a convergence race against a fixed oracle cap is not);
        observed eccentricity is 4, so the bounded and converged
        forms coincide at sf0.01.  Oracle = an INDEPENDENT
        algorithm: a 16-hop recursive-CTE walk taking min hop
        distance per (source, node)."""
        from geomesa_spark.operators.graph import closeness

        edges = _load(spark, sf, "events").selectExpr(
            "event_id % 997 AS src",
            "(event_id div 997 * 131 + event_id * 31) % 997 AS dst",
        )
        sources = spark.range(0, 997, 37).selectExpr("id AS node")
        return closeness(edges, sources, rounds=16)

    add("closeness", closeness_gate)

    def communities_gate(spark, sf):
        """Synchronous label propagation (graph.label_propagation,
        4 fixed rounds) over the undirected 997 link graph: each
        node adopts its neighbors' most frequent label (ties -> min
        label) simultaneously — exact int64 votes, so the oracle
        unrolls the same 4 rounds with the identical
        (count DESC, label) argmax."""
        from geomesa_spark.operators.graph import label_propagation

        edges = _load(spark, sf, "events").selectExpr(
            "event_id % 997 AS src",
            "(event_id div 997 * 131 + event_id * 31) % 997 AS dst",
        )
        return label_propagation(edges, rounds=4)

    add("communities", communities_gate)

    def assortativity_gate(spark, sf):
        """Degree assortativity (graph.assortativity) of the
        undirected 997 link graph: Pearson correlation of endpoint
        degrees over the 2m edge stubs — all four sums exact
        decimal(38,0) (HUGEINT in the oracle), ONE double division
        via the shared ASSORTATIVITY_SQL; decimal→double casts
        compare bit-exact (the hull_moments precedent)."""
        from geomesa_spark.operators.graph import assortativity

        edges = _load(spark, sf, "events").selectExpr(
            "event_id % 997 AS src",
            "(event_id div 997 * 131 + event_id * 31) % 997 AS dst",
        )
        out = assortativity(edges)
        return out.select(
            "m",
            F.col("s1").cast("double").alias("s1_d"),
            F.col("s2").cast("double").alias("s2_d"),
            F.col("sxy").cast("double").alias("sxy_d"),
            "assortativity",
        )

    add("assortativity", assortativity_gate)

    def hybrid_search_gate(spark, sf):
        """Hybrid retrieval (ann.rrf_fuse): the BM25 keyword lists
        (bm25_topk, fixed-point scoring) fused with exact dense
        cosine lists (cosine_topk over the embeddings, query vectors
        1-3 relabeled q1-q3) by reciprocal-rank fusion — score =
        Σ 1/(60+rank) as a fixed left-to-right IEEE expression over
        the shared RRF_TERM_SQL, full-outer candidate union, ties on
        doc_id.  The oracle REUSES the bm25_topk and ann_bruteforce
        oracle SQL verbatim as CTEs, so the fused gate inherits both
        upstream rankings bit-for-bit."""
        from geomesa_spark.operators.ann import cosine_topk, rrf_fuse
        from geomesa_spark.operators.text import bm25_topk

        docs = _load(spark, sf, "documents")
        emb = _load(spark, sf, "embeddings")
        sparse = bm25_topk(docs, BM25_QUERIES, k=10).select(
            F.col("query_id").alias("qid"),
            F.col("doc_id").cast("long").alias("doc_id"),
            "rank",
        )
        dense = cosine_topk(
            emb, emb.filter(F.col("vec_id").isin(1, 2, 3)), ANN_K
        ).select(
            F.concat(F.lit("q"), F.col("qid").cast("string")).alias("qid"),
            F.col("vec_id").cast("long").alias("doc_id"),
            "rank",
        )
        return rrf_fuse([sparse, dense], topk=15)

    add("hybrid_search", hybrid_search_gate)

    def tile_cut_gate(spark, sf):
        """Vector-tile cutting end-to-end (tilecut.tile_cut +
        enforce_winding): the per-event triangles (1/7 subset)
        mercator-projected, bbox-covered at z=6, Sutherland-Hodgman
        clipped to each tile's dyadic box, quantized to extent-4096
        integers, v2-wound, posexploded to scalar (pos, px, py)
        rows.  Bit-exact cross-engine because the WKT round-trip is
        value-exact, the mercator text matches the gate-proven
        quadkey_tiles expressions, and every clip intersection is a
        single shared-form IEEE expression; the oracle replays the
        identical four passes as MATERIALIZED list-lambda CTEs (the
        un-materialized form re-inlines each pass ~8x per reference
        — the same blowup Catalyst's stats estimator had)."""
        from geomesa_spark.operators.tilecut import (
            enforce_winding, tile_cut,
        )

        tris = _gate_tris(
            geo_events(spark, sf).filter(F.col("event_id") % 7 == 0)
        ).withColumnRenamed("gid", "geom_id")
        cut = enforce_winding(tile_cut(tris, 6))
        return cut.select(
            "geom_id", "z", "tx", "ty", "ring_i",
            F.posexplode("pts").alias("pos", "_p"),
        ).select(
            "geom_id", "z", "tx", "ty", "ring_i",
            F.col("pos").cast("int").alias("pos"),
            F.col("_p.px").alias("px"),
            F.col("_p.py").alias("py"),
        )

    add("tile_cut", tile_cut_gate, "unbenched")

    def tile_cut_mvt(spark, sf):
        """The vector-tile pipeline end-to-end: per-event triangles
        -> z=7 cut -> v2 winding -> MVT protobuf blobs (pytest-verified;
        no SQL oracle, the mercator ln/tan is libm)."""
        from geomesa_spark.operators.tilecut import (
            enforce_winding, tile_cut,
        )
        from geomesa_spark.sources.mvt import mvt_encode

        tris = (
            _gate_tris(
                geo_events(spark, sf).filter(F.col("event_id") % 3 == 0)
            )
            .withColumnRenamed("gid", "geom_id")
            # the cut is per-row interpreted-HOF compute: spread it
            # (the source is one parquet file at small sf)
            .repartition(2 * spark.sparkContext.defaultParallelism)
        )
        return mvt_encode(enforce_winding(tile_cut(tris, 7)), kind="polygon")

    add("tile_cut_mvt", tile_cut_mvt, "bench_only")

    def tile_lines_gate(spark, sf):
        """Line-string tile cutting end-to-end (tilecut.
        tile_cut_lines): the gate polylines (1/7 subset, 2 segments
        each) Liang-Barsky-clipped against their z=6 bbox tiles and
        re-chained on bit-equal endpoints, posexploded to scalar
        (part_i, pos, px, py) rows.  The oracle replays the clip as
        chained lateral-alias t0/t1 columns (the engine's exact
        constraint order) and the re-chaining as window lag/sum —
        no lambda fold needed SQL-side."""
        from geomesa_spark.operators.tilecut import tile_cut_lines

        lines = _gate_lines(
            geo_events(spark, sf).filter(F.col("event_id") % 7 == 0)
        ).withColumnRenamed("gid", "geom_id")
        cut = tile_cut_lines(lines, 6)
        return cut.select(
            "geom_id", "z", "tx", "ty", "part_i",
            F.posexplode("pts").alias("pos", "_p"),
        ).select(
            "geom_id", "z", "tx", "ty", "part_i",
            F.col("pos").cast("int").alias("pos"),
            F.col("_p.px").alias("px"),
            F.col("_p.py").alias("py"),
        )

    add("tile_lines", tile_lines_gate, "unbenched")

    def tile_points_gate(spark, sf):
        """Point tile cutting (tilecut.tile_cut_points): every geo
        event assigned to its z=7 tile with extent-4096 tile-local
        integer coordinates — the shuffle-free point third of the
        cutter family (same mercator text as the gate-proven
        quadkey_tiles; quantization is the shared floor(v+0.5)
        form)."""
        from geomesa_spark.operators.tilecut import tile_cut_points

        pts = geo_events(spark, sf).filter(
            F.col("event_id") % 3 == 0
        ).select(F.col("event_id").alias("geom_id"), "lon", "lat")
        cut = tile_cut_points(pts, 7)
        return cut.select(
            "geom_id", "z", "tx", "ty",
            F.element_at("pts", 1)["px"].alias("px"),
            F.element_at("pts", 1)["py"].alias("py"),
        )

    add("tile_points", tile_points_gate, "unbenched")

    # --- streaming composites replayed as deterministic batch folds
    # (VERDICT r4 item 8): each gate drives the STREAMING module's
    # per-micro-batch step function over three event-time-ordered
    # batches threading state exactly as foreachBatch does, so the
    # driver's oracle now checks the stream-path code itself.  The
    # oracle is split-agnostic: the pytest batch-twin theorems
    # (test_stop_stream / test_hotspot_stream / test_geofence_stream /
    # test_cotravel_stream) prove the stream output equals the batch
    # operator on the full corpus for ANY event-time split, and the
    # batch operators already have SQL oracles.

    def _es_tertiles(pts, es_col="es"):
        """Three event-time-ordered micro-batches: filter by the
        corpus es tertiles (one bounded scalar collect — the same
        driver-side fold foreachBatch itself is)."""
        row = pts.agg(
            F.expr(
                f"percentile_approx({es_col}, array(0.34, 0.67), 10000)"
            ).alias("q")
        ).first()["q"]
        b0, b1 = float(row[0]), float(row[1])
        e = F.col(es_col)
        return [
            pts.filter(e < F.lit(b0)),
            pts.filter((e >= F.lit(b0)) & (e < F.lit(b1))),
            pts.filter(e >= F.lit(b1)),
        ]

    def stop_stream_twin_gate(spark, sf):
        """streaming/stops.py replay: three _batch_stops steps with
        carried open-segment state, then the end-of-stream flush —
        closed ∪ flushed == tracks.stop_detect on the full corpus
        (the test_stop_stream parity theorem), so the oracle is the
        stop_detect SQL minus its stop_id."""
        from geomesa_spark.streaming.stops import _batch_stops, _stop_row

        pts = _cooc_pts(spark, sf)
        state, outs = None, []
        for batch in _es_tertiles(pts):
            stops, state, shared = _batch_stops(
                batch, state, 0.2, 600, "user_id", "ts",
                "lon", "lat", "planar", "event_id",
            )
            stops = stops.localCheckpoint(eager=True)
            state = state.localCheckpoint(eager=True)
            shared.unpersist()
            outs.append(stops)
        flushed = state.select("track", *_stop_row()).filter(
            F.col("duration_s") >= F.lit(600)
        )
        out = outs[0]
        for fr in outs[1:] + [flushed]:
            out = out.unionByName(fr)
        return out

    add("stop_stream_twin", stop_stream_twin_gate, "unbenched")

    def hotspot_stream_twin_gate(spark, sf):
        """streaming/hotspot.py replay: three _batch_bins deltas
        merged through the stream's full_outer bin-state fold, then
        the shared Gi* statistic over the committed bins — equals
        hotspot_cells_st on the full corpus exactly (integer sums
        commute; the test_hotspot_stream live==twin theorem)."""
        from geomesa_spark.operators.hotspot import hotspot_st_from_bins
        from geomesa_spark.streaming.hotspot import _batch_bins

        pts = geo_events(spark, sf).withColumn(
            "es", F.unix_timestamp("dtg")
        )
        merged = None
        for batch in _es_tertiles(pts):
            delta = _batch_bins(
                batch, 6, 86400, "dtg", "lon", "lat", None
            )
            if merged is None:
                merged = delta
            else:
                merged = (
                    merged.withColumnRenamed("w", "_pw")
                    .join(
                        delta.withColumnRenamed("w", "_dw"),
                        ["x", "y", "tb"], "full_outer",
                    )
                    .select(
                        "x", "y", "tb",
                        (
                            F.coalesce(F.col("_pw"), F.lit(0))
                            + F.coalesce(F.col("_dw"), F.lit(0))
                        ).cast("long").alias("w"),
                    )
                )
            merged = merged.localCheckpoint(eager=True)
        return hotspot_st_from_bins(merged, 6, ring=1, time_ring=1)

    add("hotspot_stream_twin", hotspot_stream_twin_gate, "unbenched")

    def geofence_stream_twin_gate(spark, sf):
        """streaming/geofence.py replay: three stream steps (the batch
        operator with include_open, then _stitch) threading
        inside-state — the emitted enter/exit events equal
        geofence_events on the full corpus (the test_geofence_stream
        batch-twin theorem), so the oracle is the geofence SQL minus
        its seq column."""
        from geomesa_spark.operators.geofence import geofence_events
        from geomesa_spark.streaming.geofence import _stitch

        pts = geo_events(spark, sf).withColumn(
            "es", F.unix_timestamp("dtg")
        )
        state, outs = None, []
        for batch in _es_tertiles(pts):
            local = geofence_events(
                batch, _polys, "user_id", "es", tiebreak_col="event_id",
                include_open=True,
            ).localCheckpoint(eager=True)
            events, state = _stitch(local, state, batch, "user_id")
            outs.append(events.localCheckpoint(eager=True))
            state = state.localCheckpoint(eager=True)
        out = outs[0]
        for fr in outs[1:]:
            out = out.unionByName(fr)
        return out.select(
            F.col("track").alias("user_id"), "fence_id", "event",
            F.col("ts").alias("es"),
        )

    add("geofence_stream_twin", geofence_stream_twin_gate, "unbenched")

    def co_travel_stream_twin_gate(spark, sf):
        """streaming/cotravel.py replay: three _batch_ticks steps
        threading last-fix state, each batch's new ticks paired
        through the shared per-tick eps-join against themselves plus
        every earlier batch's ticks (an unbounded lag horizon), pair
        counts summed across batches — equals co_travel on the full
        corpus (the test_cotravel_stream parity theorem), so the
        oracle is the co_travel SQL."""
        from functools import reduce

        from geomesa_spark.operators.cooccur import _tick_pair_counts
        from geomesa_spark.streaming.cotravel import _batch_ticks

        last, seen, counts = None, None, []
        for batch in _es_tertiles(_cooc_pts(spark, sf)):
            ticks, last = _batch_ticks(
                batch, last, 3600, "user_id", "ts", "lon", "lat",
                "event_id",
            )
            ticks = ticks.localCheckpoint(eager=True)
            last = last.localCheckpoint(eager=True)
            counts.append(
                _tick_pair_counts(ticks, 0.5, carried=seen)
                .localCheckpoint(eager=True)
            )
            seen = ticks if seen is None else seen.unionByName(ticks)
        return (
            reduce(lambda a, b: a.unionByName(b), counts)
            .groupBy("track_a", "track_b")
            .agg(
                F.sum("n_shared").cast("long").alias("n_shared"),
                F.min("first_ts").alias("first_ts"),
                F.max("last_ts").alias("last_ts"),
            )
            .filter(F.col("n_shared") >= F.lit(200))
        )

    add("co_travel_stream_twin", co_travel_stream_twin_gate, "unbenched")

    def flow_stream_twin_gate(spark, sf):
        """streaming/flow.py replay: three _batch_flow steps threading
        the field and last-fix state — the accumulated field equals
        flow_field on the full corpus (the module's field parity
        contract), so the oracle is the flow_field SQL.  The stream
        orders a track's fixes by epoch second alone; no user has two
        events in one second at sf0.01, so flow_field's event_id
        tiebreak never decides."""
        from geomesa_spark.streaming.flow import _batch_flow, _with_means

        field = last = None
        for batch in _es_tertiles(_cooc_pts(spark, sf)):
            _, field, last = _batch_flow(
                batch, field, last, "user_id", "es", "lon", "lat", 5,
                1_000_000, 86400, None,
            )
            field = field.localCheckpoint(eager=True)
            last = last.localCheckpoint(eager=True)
        return _with_means(field)

    add("flow_stream_twin", flow_stream_twin_gate, "unbenched")

    return g


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every oracle-checked gate by name, "sec2" gates first (the sort
    is stable, so each group keeps registration order)."""
    gs = sorted(
        (x for x in gates() if "bench_only" not in x.tags),
        key=lambda x: "sec2" not in x.tags,
    )
    return {x.name: x.fn for x in gs}


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["z_encode"] = f"""
WITH {PTS_CTE},
z2 AS ({_z2_cell_sql()}), z3 AS ({_z3_cell_sql()})
SELECT z2.event_id,
       CAST(floor(z2.es/604800.0) AS INT) AS week,
       z2.cell AS cell, z3.z3 AS z3
FROM z2 JOIN z3 ON z2.event_id = z3.event_id
"""

    xmin, ymin, xmax, ymax = BBOX
    e0, e1 = int(SCAN_T0.timestamp()), int(SCAN_T1.timestamp())
    o["bbox_scan"] = f"""
WITH {PTS_CTE}
SELECT event_id FROM pts
WHERE lon BETWEEN {xmin!r} AND {xmax!r} AND lat BETWEEN {ymin!r} AND {ymax!r}
  AND es >= {e0} AND es < {e1}
"""

    o["bbox_scan_or"] = f"""
WITH {PTS_CTE}
SELECT DISTINCT event_id FROM pts
WHERE (lon BETWEEN {BBOX[0]!r} AND {BBOX[2]!r}
       AND lat BETWEEN {BBOX[1]!r} AND {BBOX[3]!r}
       AND es >= {int(SCAN_T0.timestamp())} AND es < {int(SCAN_T1.timestamp())})
   OR (lon BETWEEN 100.005 AND 170.005 AND lat BETWEEN -60.005 AND 10.005)
"""

    # ECQL front-end gate: (pentagon INTERSECTS OR rect BBOX) AND
    # DURING (exclusive endpoints, GeoTools During) AND attribute
    o["ecql_scan"] = f"""
WITH {PTS_CTE}
SELECT DISTINCT event_id FROM pts
WHERE ({_convex_cond(PENTAGON)}
       OR (lon BETWEEN {RECT[0]!r} AND {RECT[2]!r}
           AND lat BETWEEN {RECT[1]!r} AND {RECT[3]!r}))
  AND ts > TIMESTAMP '2024-01-05 00:00:00'
  AND ts < TIMESTAMP '2024-01-20 00:00:00'
  AND value >= 0.25
"""

    # planar-degree DWITHIN: (lon-x)^2+(lat-y)^2 is IEEE-exact in
    # both engines (no libm trig), so the boundary never flips
    o["ecql_dwithin"] = f"""
WITH {PTS_CTE}
SELECT event_id FROM pts
WHERE (lon - 12.3)*(lon - 12.3) + (lat - 45.6)*(lat - 45.6) <= 25.0*25.0
  AND event_type LIKE 'c%'
  AND event_type IN ('click', 'view', 'error')
  AND NOT (value < 0.2)
"""

    rxmin, rymin, rxmax, rymax = RECT
    rect_cond = (
        f"(lon BETWEEN {rxmin!r} AND {rxmax!r} AND lat BETWEEN {rymin!r} AND {rymax!r})"
    )
    pip_sql = f"""
WITH {PTS_CTE}
SELECT event_id, 'rect' AS poly_id FROM pts WHERE {rect_cond}
UNION ALL
SELECT event_id, 'tri' AS poly_id FROM pts WHERE {_convex_cond(TRIANGLE)}
UNION ALL
SELECT event_id, 'pent' AS poly_id FROM pts WHERE {_convex_cond(PENTAGON)}
"""
    o["pip_broadcast"] = pip_sql
    o["pip_partitioned"] = pip_sql
    o["pip_s2"] = pip_sql

    # zonal_stats: the pip conditions x fixed-point value stats
    def _zonal_sel(zone: str, cond: str) -> str:
        return f"""
SELECT '{zone}' AS zone,
       CAST(count(*) AS BIGINT) AS n,
       min(value) AS vmin, max(value) AS vmax,
       CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
         AS sum_fp,
       CAST(CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
            AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_fp
FROM pts WHERE {cond}"""

    o["zonal_stats"] = f"""
WITH {PTS_CTE}
{_zonal_sel('rect', rect_cond)}
UNION ALL {_zonal_sel('tri', _convex_cond(TRIANGLE))}
UNION ALL {_zonal_sel('pent', _convex_cond(PENTAGON))}
"""

    # hex_density: the shared axial/cube-round arithmetic
    from geomesa_spark.functions.hex import hex_cell_sql as _hex_sql

    _hq_sql, _hr_sql = _hex_sql("lon", "lat", 2.5)
    o["hex_density"] = f"""
WITH {PTS_CTE}
SELECT {_hq_sql} AS hq, {_hr_sql} AS hr,
       CAST(count(*) AS BIGINT) AS n
FROM pts GROUP BY 1, 2
"""

    from geomesa_spark.operators.hotspot import gi_star_expr as _gi2

    o["hex_hotspot"] = f"""
WITH {PTS_CTE},
g AS (
  SELECT {_hq_sql} AS hq, {_hr_sql} AS hr,
         CAST(count(*) AS BIGINT) AS w
  FROM pts GROUP BY 1, 2
),
nb AS (
  SELECT g.hq + dq.k AS hq, g.hr + dr.k AS hr, g.w
  FROM g,
       UNNEST(generate_series(-1, 1)) dq(k),
       UNNEST(generate_series(-1, 1)) dr(k)
  WHERE greatest(abs(dq.k), abs(dr.k), abs(dq.k + dr.k)) <= 1
),
nbr AS (
  SELECT hq, hr, CAST(count(*) AS BIGINT) AS nbr_n,
         CAST(sum(w) AS BIGINT) AS nbr_sum
  FROM nb GROUP BY 1, 2
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(w) AS BIGINT) AS sum_w,
         CAST(sum(w*w) AS BIGINT) AS sum_q
  FROM g
)
SELECT g.hq, g.hr, g.w, nbr.nbr_n, nbr.nbr_sum,
       {_gi2()} AS gi_star
FROM g JOIN nbr USING (hq, hr), st
"""

    # semantic_decon: fixed-point cosines vs the every-37th bench
    # subset, threshold filter, (cos DESC, bench_id) argmax
    o["semantic_decon"] = f"""
WITH {_EMB_FIXED_CTE},
dots AS (
  SELECT c.vec_id AS vec_id, b.vec_id AS bid,
         CAST(sum(c.v * b.v) AS BIGINT) AS dot
  FROM ex c JOIN ex b ON c.i = b.i AND b.vec_id % 37 = 0
  GROUP BY 1, 2
),
scored AS (
  SELECT dots.vec_id, bid AS bench_id,
         dot / sqrt(CAST(x.n2 AS DOUBLE) * CAST(y.n2 AS DOUBLE)) AS max_sim
  FROM dots
  JOIN nrm x ON x.vec_id = dots.vec_id
  JOIN nrm y ON y.vec_id = dots.bid
)
SELECT vec_id, bench_id, max_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY max_sim DESC, bench_id) AS rk
  FROM scored WHERE max_sim >= 0.3
) WHERE rk = 1
"""

    # wkb_roundtrip: the gate-line bounds recomputed arithmetically
    # (vertices: (x0,y0), (x0+3.007,y0+1.003), (x0+6.014,y0-1.003))
    o["wkb_roundtrip"] = """
WITH pts AS (
  SELECT event_id,
         (event_id*9973 % 36000)/100.0 - 180.0 AS lon,
         (event_id*7919 % 18000)/100.0 - 90.0 AS lat
  FROM events
)
SELECT event_id AS gid,
       lon*0.96 AS xmin,
       least(lat*0.9 + 1.003, lat*0.9 - 1.003) AS ymin,
       lon*0.96 + 6.014 AS xmax,
       greatest(lat*0.9 + 1.003, lat*0.9 - 1.003) AS ymax
FROM pts
"""

    # snapshot_diff: full outer + null-safe compare in SQL
    o["snapshot_diff"] = """
WITH old AS (
  SELECT event_id, value FROM events WHERE event_id % 2 = 0
),
new AS (
  SELECT event_id,
         CASE WHEN event_id % 7 = 0 THEN value + 1.0 ELSE value END AS value
  FROM events WHERE event_id % 3 <> 0
)
SELECT COALESCE(o.event_id, n.event_id) AS event_id,
       CASE WHEN o.event_id IS NULL THEN 'added'
            WHEN n.event_id IS NULL THEN 'removed'
            WHEN o.value IS DISTINCT FROM n.value THEN 'changed'
       END AS change
FROM old o FULL OUTER JOIN new n USING (event_id)
WHERE CASE WHEN o.event_id IS NULL THEN 'added'
           WHEN n.event_id IS NULL THEN 'removed'
           WHEN o.value IS DISTINCT FROM n.value THEN 'changed'
      END IS NOT NULL
"""

    # --- non-point geometry gates: derived vertices as SQL
    # expressions, query-polygon constants pre-folded ---
    _LX0, _LY0 = "(lon*0.96)", "(lat*0.9)"

    def _off(base: str, d: float) -> str:
        return f"({base} + {d!r})" if d >= 0 else f"({base} - {-d!r})"

    def _seg_cross_sql(s0, s1, q0, q1) -> str:
        """Proper segment crossing: data segment s0->s1 (SQL expr
        pairs) vs query edge q0->q1 (constant pairs)."""
        (sx0, sy0), (sx1, sy1) = s0, s1
        (qx0, qy0), (qx1, qy1) = q0, q1
        dqx, dqy = qx1 - qx0, qy1 - qy0
        d1 = f"(({dqx!r})*({sy0}-({qy0!r})) - ({dqy!r})*({sx0}-({qx0!r})))"
        d2 = f"(({dqx!r})*({sy1}-({qy0!r})) - ({dqy!r})*({sx1}-({qx0!r})))"
        d3 = (f"(({sx1}-{sx0})*(({qy0!r})-{sy0})"
              f" - ({sy1}-{sy0})*(({qx0!r})-{sx0}))")
        d4 = (f"(({sx1}-{sx0})*(({qy1!r})-{sy0})"
              f" - ({sy1}-{sy0})*(({qx1!r})-{sx0}))")
        return (f"((({d1} > 0) <> ({d2} > 0))"
                f" AND (({d3} > 0) <> ({d4} > 0)))")

    RECT_VERTS = [
        (RECT[0], RECT[1]), (RECT[2], RECT[1]),
        (RECT[2], RECT[3]), (RECT[0], RECT[3]),
    ]
    GATE_POLY_VERTS = [("rect", RECT_VERTS), ("tri", TRIANGLE), ("pent", PENTAGON)]

    def _geom_gate_sql(data_verts, data_segs, extra_term=None) -> str:
        """UNION ALL of per-polygon intersect conditions: any data
        vertex strictly inside the (convex, CCW) polygon, any proper
        segment/edge crossing, plus `extra_term(verts)` (used for the
        query-vertex-in-data-polygon case)."""
        parts = []
        for pid, verts in GATE_POLY_VERTS:
            terms = [
                _convex_cond(verts, px, py) for px, py in data_verts
            ]
            n = len(verts)
            for s0, s1 in data_segs:
                for i in range(n):
                    terms.append(
                        _seg_cross_sql(s0, s1, verts[i], verts[(i + 1) % n])
                    )
            if extra_term is not None:
                terms.append(extra_term(verts))
            cond = "(" + " OR ".join(terms) + ")"
            parts.append(
                f"SELECT event_id AS gid, '{pid}' AS poly_id FROM pts WHERE {cond}"
            )
        return f"WITH {PTS_CTE}\n" + "\nUNION ALL\n".join(parts)

    _line_v = [
        (_LX0, _LY0),
        (_off(_LX0, 3.007), _off(_LY0, 1.003)),
        (_off(_LX0, 6.014), _off(_LY0, -1.003)),
    ]
    o["line_intersects"] = _geom_gate_sql(
        _line_v, [(_line_v[0], _line_v[1]), (_line_v[1], _line_v[2])]
    )
    # bucketed strategy gates compute the same relations through a
    # different physical plan — identical oracles by design
    o["pip_bucketed"] = pip_sql
    o["geom_bucketed"] = o["line_intersects"]

    # dwithin: dist(segment sets) decomposes exactly into crossings
    # (distance 0, covered by the intersects terms) plus endpoint-to-
    # other-segment minima, so the oracle tests data vertices against
    # query edges and query vertices against data segments
    DW = 3.0
    DW2 = DW * DW

    def _ptseg_le_sql(px, py, x0, y0, x1, y1) -> str:
        """point (SQL exprs) vs constant segment, squared dist <= DW2."""
        dx, dy = x1 - x0, y1 - y0
        ln2 = dx * dx + dy * dy
        t = (f"least(1.0, greatest(0.0, (({px}-({x0!r}))*({dx!r}) + "
             f"({py}-({y0!r}))*({dy!r})) / {ln2!r}))")
        cx = f"(({x0!r}) + {t}*({dx!r}))"
        cy = f"(({y0!r}) + {t}*({dy!r}))"
        return (f"((({px}-{cx})*({px}-{cx}) + ({py}-{cy})*({py}-{cy}))"
                f" <= {DW2!r})")

    def _cptseg_le_sql(qx, qy, sx0, sy0, sx1, sy1) -> str:
        """constant point vs data segment (SQL exprs)."""
        dx = f"({sx1}-{sx0})"
        dy = f"({sy1}-{sy0})"
        ln2 = f"(({dx})*({dx}) + ({dy})*({dy}))"
        t = (f"least(1.0, greatest(0.0, ((({qx!r})-{sx0})*{dx} + "
             f"(({qy!r})-{sy0})*{dy}) / {ln2}))")
        cx = f"({sx0} + {t}*{dx})"
        cy = f"({sy0} + {t}*{dy})"
        return (f"(((({qx!r})-{cx})*(({qx!r})-{cx}) + "
                f"(({qy!r})-{cy})*(({qy!r})-{cy})) <= {DW2!r})")

    _tri_v = [
        (_LX0, _LY0),
        (_off(_LX0, 2.004), _off(_LY0, 0.504)),
        (_off(_LX0, 1.002), _off(_LY0, 1.506)),
    ]

    def _qvert_in_data_tri(verts) -> str:
        """Any query-polygon vertex strictly inside the (CCW) data
        triangle: all three edge cross products positive."""
        conds = []
        for qx, qy in verts:
            edge_conds = []
            for i in range(3):
                (ex0, ey0), (ex1, ey1) = _tri_v[i], _tri_v[(i + 1) % 3]
                edge_conds.append(
                    f"((({ex1}-{ex0})*(({qy!r})-{ey0})"
                    f" - ({ey1}-{ey0})*(({qx!r})-{ex0})) > 0)"
                )
            conds.append("(" + " AND ".join(edge_conds) + ")")
        return "(" + " OR ".join(conds) + ")"

    o["poly_intersects"] = _geom_gate_sql(
        _tri_v,
        [(_tri_v[0], _tri_v[1]), (_tri_v[1], _tri_v[2]), (_tri_v[2], _tri_v[0])],
        extra_term=_qvert_in_data_tri,
    )

    _line_segs = [(_line_v[0], _line_v[1]), (_line_v[1], _line_v[2])]
    dw_parts = []
    for pid, verts in GATE_POLY_VERTS:
        terms = [_convex_cond(verts, px, py) for px, py in _line_v]
        n = len(verts)
        for s0, s1 in _line_segs:
            for i in range(n):
                terms.append(_seg_cross_sql(s0, s1, verts[i], verts[(i + 1) % n]))
        # data vertices vs query edges
        for px, py in _line_v:
            for i in range(n):
                (qx0, qy0), (qx1, qy1) = verts[i], verts[(i + 1) % n]
                terms.append(_ptseg_le_sql(px, py, qx0, qy0, qx1, qy1))
        # query vertices vs data segments
        for qx, qy in verts:
            for (sx0, sy0), (sx1, sy1) in _line_segs:
                terms.append(_cptseg_le_sql(qx, qy, sx0, sy0, sx1, sy1))
        dw_parts.append(
            f"SELECT event_id AS gid, '{pid}' AS poly_id FROM pts "
            f"WHERE ({' OR '.join(terms)})"
        )
    o["line_dwithin"] = f"WITH {PTS_CTE}\n" + "\nUNION ALL\n".join(dw_parts)

    site_rows = ", ".join(
        f"('{sid}', {slon!r}, {slat!r}, {rad!r})" for sid, slon, slat, rad in SITES
    )
    o["dwithin_proximity"] = f"""
WITH {PTS_CTE}
SELECT event_id, site_id
FROM pts JOIN (VALUES {site_rows}) AS sites(site_id, sx, sy, r)
  ON (lon-sx)*(lon-sx) + (lat-sy)*(lat-sy) <= r*r
"""

    knn_rows = ", ".join(
        f"('{qid}', {qx!r}, {qy!r})" for qid, qx, qy in KNN_QUERIES
    )
    o["knn"] = f"""
WITH {PTS_CTE},
d AS (
  SELECT qid, event_id,
         (lon-qx)*(lon-qx) + (lat-qy)*(lat-qy) AS dist2, lon, lat
  FROM pts, (VALUES {knn_rows}) AS q(qid, qx, qy)
)
SELECT qid, event_id, dist2, CAST(rk AS INT) AS "rank" FROM (
  SELECT *, row_number() OVER (
    PARTITION BY qid ORDER BY dist2, lon, lat, event_id) AS rk FROM d
) WHERE rk <= {KNN_K}
"""

    o["knn_df"] = f"""
WITH {PTS_CTE},
qset AS (SELECT event_id AS qid, lon AS qx, lat AS qy FROM pts
         WHERE event_id % 20 = 0),
d AS (
  SELECT qid, event_id,
         (lon-qx)*(lon-qx) + (lat-qy)*(lat-qy) AS dist2, lon, lat
  FROM pts, qset
)
SELECT qid, event_id, dist2, CAST(rk AS INT) AS "rank" FROM (
  SELECT *, row_number() OVER (
    PARTITION BY qid ORDER BY dist2, lon, lat, event_id) AS rk FROM d
) WHERE rk <= 5
"""

    tube_rows = ", ".join(
        f"({tt}, {tx!r}, {ty!r})" for tt, tx, ty in TUBE_TRACK
    )
    o["tube_select"] = f"""
WITH {PTS_CTE}
SELECT DISTINCT event_id
FROM pts JOIN (VALUES {tube_rows}) AS tube(tt, tx, ty)
  ON (lon-tx)*(lon-tx) + (lat-ty)*(lat-ty) <= {TUBE_BUF * TUBE_BUF!r}
 AND es >= tt - {TUBE_DELTA} AND es <= tt + {TUBE_DELTA}
"""

    # LINE gap fill: consecutive track points become segments; the
    # oracle repeats tube.py's clamped-projection distance with all
    # per-segment constants pre-folded in Python (bit-identical)
    segs = []
    trk = sorted(TUBE_TRACK)
    for (t1s, x1, y1), (t2s, x2, y2) in zip(trk, trk[1:]):
        dx, dy = x2 - x1, y2 - y1
        ln2 = dx * dx + dy * dy or 1.0
        segs.append((t1s, t2s, x1, y1, dx, dy, ln2))
    seg_conds = []
    for t1s, t2s, x1, y1, dx, dy, ln2 in segs:
        t = (f"least(1.0, greatest(0.0, ((lon-({x1!r}))*({dx!r}) + "
             f"(lat-({y1!r}))*({dy!r})) / {ln2!r}))")
        cx = f"({x1!r} + {t}*({dx!r}))"
        cy = f"({y1!r} + {t}*({dy!r}))"
        d2 = f"((lon-{cx})*(lon-{cx}) + (lat-{cy})*(lat-{cy}))"
        seg_conds.append(
            f"(es >= {t1s - TUBE_DELTA} AND es <= {t2s + TUBE_DELTA} "
            f"AND {d2} <= {TUBE_BUF * TUBE_BUF!r})"
        )
    o["tube_line"] = f"""
WITH {PTS_CTE}
SELECT DISTINCT event_id FROM pts
WHERE {" OR ".join(seg_conds)}
"""

    o["tile_assign"] = f"""
WITH {PTS_CTE}, z2 AS ({_z2_cell_sql()})
SELECT event_id, cell >> {2 * (C.XY_BITS - 8)} AS tile FROM z2
"""

    o["density"] = f"""
WITH {PTS_CTE}
SELECT CAST(least(35, greatest(0, floor((lon - (-180.0))/10.0))) AS INT) AS i,
       CAST(least(17, greatest(0, floor((lat - (-90.0))/10.0))) AS INT) AS j,
       CAST(sum(CAST(floor(value*1000000.0) AS BIGINT)) AS BIGINT) AS weight
FROM pts
WHERE lon BETWEEN -180.0 AND 180.0 AND lat BETWEEN -90.0 AND 90.0
GROUP BY 1, 2
"""

    kern_vals = ", ".join(
        f"({di}, {dj}, {kw})"
        for di, dj, kw in A.gaussian_stencil_fixed(HEATMAP_RADIUS_PX)
    )
    o["heatmap"] = f"""
WITH {PTS_CTE},
grid AS (
  SELECT CAST(least(35, greatest(0, floor((lon - (-180.0))/10.0))) AS INT) AS i,
         CAST(least(17, greatest(0, floor((lat - (-90.0))/10.0))) AS INT) AS j,
         count(*) AS cnt
  FROM pts
  WHERE lon BETWEEN -180.0 AND 180.0 AND lat BETWEEN -90.0 AND 90.0
  GROUP BY 1, 2
),
kern(di, dj, kw) AS (VALUES {kern_vals})
SELECT CAST(g.i + k.di AS INT) AS i, CAST(g.j + k.dj AS INT) AS j,
       CAST(sum(g.cnt * k.kw) AS BIGINT) AS weight
FROM grid g CROSS JOIN kern k
WHERE g.i + k.di BETWEEN 0 AND 35 AND g.j + k.dj BETWEEN 0 AND 17
GROUP BY 1, 2
"""

    o["temporal_density"] = f"""
WITH {PTS_CTE}
SELECT CAST(floor((es - {T0}) * 60 / {float(T1 - T0)!r}) AS INT) AS bucket,
       count(*) AS n
FROM pts WHERE es >= {T0} AND es < {T1}
GROUP BY 1
"""

    o["unique_values"] = (
        "SELECT event_type AS value, count(*) AS n FROM events GROUP BY 1"
    )

    o["count_by_day"] = (
        "SELECT strftime(ts, '%Y%m%d') AS day, count(*) AS n FROM events GROUP BY 1"
    )

    o["map_aggregate"] = """
SELECT event_type AS key,
       CAST(sum(CAST(floor(value*1000000.0) AS BIGINT)) AS BIGINT) AS total
FROM events GROUP BY 1
"""

    o["attr_scan"] = """
SELECT p_partkey, p_type, p_size FROM part
WHERE p_type LIKE 'S%' AND p_size BETWEEN 10 AND 30
"""

    o["id_scan"] = (
        "SELECT doc_id, lang, source FROM documents WHERE doc_id IN ("
        + ", ".join(str(i) for i in DOC_IDS)
        + ")"
    )

    stop_in = ", ".join(repr(w) for w in X.STOPWORDS)
    o["text_profile"] = f"""
SELECT doc_id,
  CAST(len(list_filter(string_split(text,' '), tok -> tok <> '')) AS BIGINT) AS n_tokens,
  CAST(len(list_distinct(list_filter(string_split(text,' '), tok -> tok <> ''))) AS BIGINT) AS n_types,
  CAST(len(text) AS BIGINT) AS n_chars,
  len(list_filter(list_filter(string_split(text,' '), tok -> tok <> ''), t -> t IN ({stop_in})))
    / len(list_filter(string_split(text,' '), tok -> tok <> '')) AS stop_ratio,
  len(list_distinct(list_filter(string_split(text,' '), tok -> tok <> '')))
    / len(list_filter(string_split(text,' '), tok -> tok <> '')) AS ttr,
  0.5 * least(len(list_filter(string_split(text,' '), tok -> tok <> '')) / 100.0, 1.0)
    + 0.3 * (len(list_distinct(list_filter(string_split(text,' '), tok -> tok <> '')))
             / len(list_filter(string_split(text,' '), tok -> tok <> '')))
    + 0.2 * (1.0 - len(list_filter(list_filter(string_split(text,' '), tok -> tok <> ''), t -> t IN ({stop_in})))
             / len(list_filter(string_split(text,' '), tok -> tok <> ''))) AS quality,
  {_lang_case_sql()} AS pred_lang,
  md5(lower(trim(text))) AS fp
FROM documents
"""

    o["dedup_exact"] = """
SELECT md5(lower(trim(text))) AS fp,
       min(doc_id) AS canonical_id, count(*) AS n_docs
FROM documents GROUP BY 1
"""

    o["ngram_jaccard"] = f"""
WITH {SHINGLES_CTE},
{JACCARD_PAIRS_SQL}
SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= {JACCARD_THRESHOLD!r}
"""

    minhash_chain = f"""{SHINGLES_CTE},
sig AS (SELECT doc_id, {_minhash_cols_sql()} FROM sh GROUP BY doc_id),
bands AS ({_band_selects()}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.doc_id < y.doc_id
),
{JACCARD_PAIRS_SQL}"""
    o["minhash_lsh"] = f"""
WITH {minhash_chain}
SELECT c.doc_a, c.doc_b, jaccard
FROM cand c JOIN jac ON jac.doc_a = c.doc_a AND jac.doc_b = c.doc_b
WHERE jaccard >= {JACCARD_THRESHOLD!r}
"""

    # end-to-end dedup: near-dup pairs -> connected components
    # (recursive reachability closure; tiny at oracle scale) ->
    # keep only component minima + untouched docs
    o["dedup_filter"] = f"""
WITH RECURSIVE {minhash_chain},
good AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c JOIN jac ON jac.doc_a = c.doc_a AND jac.doc_b = c.doc_b
  WHERE jaccard >= {JACCARD_THRESHOLD!r}
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM good
  UNION SELECT doc_b, doc_a FROM good
),
reach AS (
  SELECT DISTINCT s AS doc, s AS other FROM edges
  UNION
  SELECT r.doc, e.d FROM reach r JOIN edges e ON e.s = r.other
),
canon AS (SELECT doc, min(other) AS canon FROM reach GROUP BY doc)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc FROM canon WHERE doc <> canon)
"""

    # pipeline: quality filter -> minhash near-dup -> dedup filter.
    # The minhash chain re-roots on the `kept` CTE (the only
    # `FROM documents` in the chain is SHINGLES_CTE's toks).
    quality_sql = f"""0.5 * least(len(list_filter(string_split(text,' '), tok -> tok <> '')) / 100.0, 1.0)
    + 0.3 * (len(list_distinct(list_filter(string_split(text,' '), tok -> tok <> '')))
             / len(list_filter(string_split(text,' '), tok -> tok <> '')))
    + 0.2 * (1.0 - len(list_filter(list_filter(string_split(text,' '), tok -> tok <> ''), t -> t IN ({stop_in})))
             / len(list_filter(string_split(text,' '), tok -> tok <> '')))"""
    kept_chain = minhash_chain.replace("FROM documents", "FROM kept")
    o["pipeline_dedup"] = f"""
WITH RECURSIVE
kept AS (SELECT * FROM documents WHERE {quality_sql} >= {PIPE_QUALITY!r}),
{kept_chain},
good AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c JOIN jac ON jac.doc_a = c.doc_a AND jac.doc_b = c.doc_b
  WHERE jaccard >= {JACCARD_THRESHOLD!r}
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM good
  UNION SELECT doc_b, doc_a FROM good
),
reach AS (
  SELECT DISTINCT s AS doc, s AS other FROM edges
  UNION
  SELECT r.doc, e.d FROM reach r JOIN edges e ON e.s = r.other
),
canon AS (SELECT doc, min(other) AS canon FROM reach GROUP BY doc)
SELECT doc_id FROM kept
WHERE doc_id NOT IN (SELECT doc FROM canon WHERE doc <> canon)
"""

    bit_votes = ", ".join(
        f"CAST(sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v{b}"
        for b in range(D.SIMHASH_BITS)
    )
    bit_sum = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(D.SIMHASH_BITS)
    )
    o["simhash"] = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text,' '))) AS t
  FROM documents
),
h AS (SELECT doc_id, {_hash32_sql('t')} AS hv FROM tok),
agg AS (SELECT doc_id, {bit_votes} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({bit_sum} AS BIGINT) AS simhash FROM agg
"""

    h2_sql = "CAST(('0x' || substr(md5(t), 9, 8)) AS BIGINT)"
    votes64 = ", ".join(
        f"CAST(sum(CASE WHEN ({'h1' if b < 32 else 'h2'} >> {b % 32}) & 1 = 1"
        f" THEN 1 ELSE -1 END) AS BIGINT) AS v{b}"
        for b in range(64)
    )
    bit_sum64 = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b if b < 63 else -(1 << 63)} ELSE 0 END)"
        for b in range(64)
    )
    o["simhash_band"] = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text,' '))) AS t
  FROM documents
),
h AS (SELECT doc_id, {_hash32_sql('t')} AS h1, {h2_sql} AS h2 FROM tok),
agg AS (SELECT doc_id, {votes64} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, CAST({bit_sum64} AS BIGINT) AS s FROM agg)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.s, b.s)) <= {SIMHASH_MAX_HAMMING}
"""

    o["embedding_neardup"] = f"""
WITH {_EMB_FIXED_CTE},
dots AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(sum(a.v*b.v) AS BIGINT) AS dot
  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       dot / sqrt(CAST(x.n2 AS DOUBLE) * CAST(y.n2 AS DOUBLE)) AS cos
FROM dots JOIN nrm x ON x.vec_id = id_a JOIN nrm y ON y.vec_id = id_b
WHERE dot / sqrt(CAST(x.n2 AS DOUBLE) * CAST(y.n2 AS DOUBLE)) >= {NEARDUP_COS!r}
"""

    o["ann_bruteforce"] = f"""
WITH {_EMB_FIXED_CTE},
dots AS (
  SELECT q.vec_id AS qid, c.vec_id AS vec_id, CAST(sum(q.v*c.v) AS BIGINT) AS dot
  FROM ex q JOIN ex c ON q.i = c.i AND q.vec_id < {ANN_NQ} AND c.vec_id <> q.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT qid, dots.vec_id AS vec_id,
         dot / sqrt(CAST(x.n2 AS DOUBLE) * CAST(y.n2 AS DOUBLE)) AS cos
  FROM dots JOIN nrm x ON x.vec_id = qid JOIN nrm y ON y.vec_id = dots.vec_id
)
SELECT qid, vec_id, cos, CAST(rk AS INT) AS "rank" FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
  FROM scored
) WHERE rk <= {ANN_K}
"""

    probe_parts = ["SELECT q_id, q_bucket AS probe FROM q"] + [
        f"SELECT q_id, xor(q_bucket, {1 << p}) AS probe FROM q" for p in range(8)
    ]
    o["ann_lsh"] = f"""
WITH bk AS (SELECT vec_id, {_lsh_bucket_sql()} AS bucket FROM embeddings),
{_EMB_FIXED_CTE},
q AS (SELECT vec_id AS q_id, bucket AS q_bucket FROM bk WHERE vec_id < {ANN_NQ}),
probes AS ({" UNION ALL ".join(probe_parts)}),
cand AS (
  SELECT p.q_id AS qid, c.vec_id AS vid
  FROM probes p JOIN bk c ON c.bucket = p.probe AND c.vec_id <> p.q_id
),
dots AS (
  SELECT cand.qid, cand.vid, CAST(sum(a.v * b.v) AS BIGINT) AS dot
  FROM cand
  JOIN ex a ON a.vec_id = cand.qid
  JOIN ex b ON b.vec_id = cand.vid AND b.i = a.i
  GROUP BY 1, 2
),
scored AS (
  SELECT qid, vid AS vec_id,
         dot / sqrt(CAST(x.n2 AS DOUBLE) * CAST(y.n2 AS DOUBLE)) AS cos
  FROM dots JOIN nrm x ON x.vec_id = qid JOIN nrm y ON y.vec_id = vid
)
SELECT qid, vec_id, cos, CAST(rk AS INT) AS "rank" FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
  FROM scored
) WHERE rk <= {ANN_K}
"""

    Cn = N.normalize_centroids(N.hyperplanes(64, IVF_LISTS, seed=IVF_SEED))
    ivf_parts = []
    for li in range(IVF_LISTS):
        expr = "0.0"
        for i in range(64):
            expr = (
                f"({expr} + (CAST(embedding[{i + 1}] AS DOUBLE)"
                f" * {float(Cn[li][i])!r}))"
            )
        ivf_parts.append(f"SELECT vec_id, {li} AS li, {expr} AS dot FROM embeddings")
    ivf_long = " UNION ALL ".join(ivf_parts)
    o["ivf_topk"] = f"""
WITH d AS ({ivf_long}),
asg AS (
  SELECT vec_id, li FROM (
    SELECT vec_id, li,
           row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, li) AS rk
    FROM d
  ) WHERE rk = 1
),
qp AS (
  SELECT vec_id AS q_id, li FROM (
    SELECT vec_id, li,
           row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, li) AS rk
    FROM d WHERE vec_id < {ANN_NQ}
  ) WHERE rk <= {IVF_PROBES}
),
{_EMB_FIXED_CTE},
cand AS (
  SELECT qp.q_id AS qid, a.vec_id AS vid
  FROM qp JOIN asg a ON a.li = qp.li AND a.vec_id <> qp.q_id
),
dots AS (
  SELECT cand.qid, cand.vid, CAST(sum(a.v * b.v) AS BIGINT) AS dot
  FROM cand
  JOIN ex a ON a.vec_id = cand.qid
  JOIN ex b ON b.vec_id = cand.vid AND b.i = a.i
  GROUP BY 1, 2
),
scored AS (
  SELECT qid, vid AS vec_id,
         dot / sqrt(CAST(x.n2 AS DOUBLE) * CAST(y.n2 AS DOUBLE)) AS cos
  FROM dots JOIN nrm x ON x.vec_id = qid JOIN nrm y ON y.vec_id = vid
)
SELECT qid, vec_id, cos, CAST(rk AS INT) AS "rank" FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
  FROM scored
) WHERE rk <= {ANN_K}
"""

    # Count-Min sketch: identical salted-md5 bucket arithmetic
    _cm_rows = ", ".join(f"({r})" for r in range(CM_DEPTH))
    o["cm_sketch"] = f"""
WITH tok AS (
  SELECT t FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
  WHERE t <> ''
),
b AS (
  SELECT d.r,
         CAST(('0x' || substr(md5(t || ':' || d.r), 1, 15)) AS BIGINT)
           % {CM_WIDTH} AS bucket
  FROM tok CROSS JOIN (VALUES {_cm_rows}) AS d(r)
)
SELECT CAST(r AS INT) AS r, CAST(bucket AS INT) AS bucket, count(*) AS cnt
FROM b GROUP BY 1, 2
"""

    # Bloom filter: same salted-md5 bit arithmetic; a probe hits only
    # when all BLOOM_K of its bits are set
    _bloom_rows = ", ".join(f"({r})" for r in range(BLOOM_K))
    _bloom_bit = (
        "CAST(('0x' || substr(md5(t || ':' || d.r), 1, 15)) AS BIGINT)"
        f" % {BLOOM_BITS}"
    )
    o["bloom_probe"] = f"""
WITH tk AS (
  SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS ts
  FROM documents
),
bg AS (
  SELECT lang, ts[i] || ' ' || ts[i+1] AS t
  FROM tk, unnest(generate_series(1, len(ts) - 1)) AS g(i)
),
en AS (SELECT t FROM bg WHERE lang = 'en'),
bits AS (
  SELECT DISTINCT {_bloom_bit} AS bit
  FROM en CROSS JOIN (VALUES {_bloom_rows}) AS d(r)
),
alltok AS (SELECT DISTINCT t FROM bg),
probe AS (
  SELECT t, {_bloom_bit} AS bit
  FROM alltok CROSS JOIN (VALUES {_bloom_rows}) AS d(r)
)
SELECT p.t, (count(b.bit) = {BLOOM_K}) AS might_contain
FROM probe p LEFT JOIN bits b USING (bit)
GROUP BY p.t
"""

    # SemDeDup: same nearest-centroid assignment CTE as ivf_topk,
    # within-cluster exact fixed-point cosines, recursive-closure
    # components (the pipeline_dedup convention), min-id survivors
    o["semantic_dedup"] = f"""
WITH RECURSIVE d AS ({ivf_long}),
asg AS (
  SELECT vec_id, li FROM (
    SELECT vec_id, li,
           row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, li) AS rk
    FROM d
  ) WHERE rk = 1
),
{_EMB_FIXED_CTE},
dots AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(sum(xa.v * xb.v) AS BIGINT) AS dot
  FROM asg a JOIN asg b ON b.li = a.li AND b.vec_id > a.vec_id
  JOIN ex xa ON xa.vec_id = a.vec_id
  JOIN ex xb ON xb.vec_id = b.vec_id AND xb.i = xa.i
  GROUP BY 1, 2
),
good AS (
  SELECT id_a, id_b FROM dots
  JOIN nrm x ON x.vec_id = id_a JOIN nrm y ON y.vec_id = id_b
  WHERE dot / sqrt(CAST(x.n2 AS DOUBLE) * CAST(y.n2 AS DOUBLE))
        >= {NEARDUP_COS!r}
),
edges AS (
  SELECT id_a AS s, id_b AS dd FROM good
  UNION SELECT id_b, id_a FROM good
),
reach AS (
  SELECT DISTINCT s AS doc, s AS other FROM edges
  UNION
  SELECT r.doc, e.dd FROM reach r JOIN edges e ON e.s = r.other
),
canon AS (SELECT doc, min(other) AS canon FROM reach GROUP BY doc)
SELECT asg.vec_id, CAST(asg.li AS INT) AS cluster FROM asg
WHERE asg.vec_id NOT IN (SELECT doc FROM canon WHERE doc <> canon)
"""

    # PQ: the deterministic fixed-point codebooks are inlined verbatim
    # (the ivf_topk convention) as a 512-row VALUES table; distances
    # are exact integer sums so the ADC ranking hashes identically.
    PQCB = N.pq_hyperplane_codebooks(64, PQ_M, PQ_K, seed=PQ_SEED)
    _pq_ds = 64 // PQ_M
    pq_vals = ", ".join(
        f"({m}, {c}, {m * _pq_ds + i + 1}, {int(PQCB[m][c][i])})"
        for m in range(PQ_M)
        for c in range(PQ_K)
        for i in range(_pq_ds)
    )
    o["pq_topk"] = f"""
WITH {_EMB_FIXED_CTE},
cb(m, code, i, cbv) AS (VALUES {pq_vals}),
d AS (
  SELECT ex.vec_id, cb.m, cb.code,
         CAST(sum((ex.v - cb.cbv) * (ex.v - cb.cbv)) AS BIGINT) AS dist
  FROM ex JOIN cb ON cb.i = ex.i
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, m, code, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rk
    FROM d
  ) WHERE rk = 1
),
ad AS (
  SELECT q.vec_id AS qid, c.vec_id AS vec_id, CAST(sum(q.dist) AS BIGINT) AS adist
  FROM codes c
  JOIN d q ON q.m = c.m AND q.code = c.code
          AND q.vec_id < {ANN_NQ} AND c.vec_id <> q.vec_id
  GROUP BY 1, 2
)
SELECT qid, vec_id, adist, CAST(rk AS INT) AS "rank" FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rk
  FROM ad
) WHERE rk <= {ANN_K}
"""

    # IVF x PQ: same inverted-list CTEs as ivf_topk, same codebook
    # VALUES as pq_topk — ADC sum restricted to the probed lists.
    # The CTE chain is shared by ivfpq_topk and ivfpq_rerank.
    _IVFPQ_CTES = f"""di AS ({ivf_long}),
asg AS (
  SELECT vec_id, li FROM (
    SELECT vec_id, li,
           row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, li) AS rk
    FROM di
  ) WHERE rk = 1
),
qp AS (
  SELECT vec_id AS q_id, li FROM (
    SELECT vec_id, li,
           row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, li) AS rk
    FROM di WHERE vec_id < {ANN_NQ}
  ) WHERE rk <= {IVF_PROBES}
),
{_EMB_FIXED_CTE},
cb(m, code, i, cbv) AS (VALUES {pq_vals}),
d AS (
  SELECT ex.vec_id, cb.m, cb.code,
         CAST(sum((ex.v - cb.cbv) * (ex.v - cb.cbv)) AS BIGINT) AS dist
  FROM ex JOIN cb ON cb.i = ex.i
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rk
    FROM d
  ) WHERE rk = 1
),
cand AS (
  SELECT qp.q_id AS qid, a.vec_id AS vid
  FROM qp JOIN asg a ON a.li = qp.li AND a.vec_id <> qp.q_id
),
ad AS (
  SELECT cand.qid, cand.vid AS vec_id, CAST(sum(qd.dist) AS BIGINT) AS adist
  FROM cand
  JOIN codes c ON c.vec_id = cand.vid
  JOIN d qd ON qd.vec_id = cand.qid AND qd.m = c.m AND qd.code = c.code
  GROUP BY 1, 2
)"""
    o["ivfpq_topk"] = f"""
WITH {_IVFPQ_CTES}
SELECT qid, vec_id, adist, CAST(rk AS INT) AS "rank" FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rk
  FROM ad
) WHERE rk <= {ANN_K}
"""

    o["ivfpq_rerank"] = f"""
WITH {_IVFPQ_CTES},
cand_k AS (
  SELECT qid, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rk
    FROM ad
  ) WHERE rk <= {RERANK_KPRIME}
),
rdots AS (
  SELECT cand_k.qid, cand_k.vec_id, CAST(sum(a.v * b.v) AS BIGINT) AS dot
  FROM cand_k
  JOIN ex a ON a.vec_id = cand_k.qid
  JOIN ex b ON b.vec_id = cand_k.vec_id AND b.i = a.i
  GROUP BY 1, 2
),
rscored AS (
  SELECT rdots.qid, rdots.vec_id,
         dot / sqrt(CAST(x.n2 AS DOUBLE) * CAST(y.n2 AS DOUBLE)) AS cos
  FROM rdots
  JOIN nrm x ON x.vec_id = rdots.qid
  JOIN nrm y ON y.vec_id = rdots.vec_id
)
SELECT qid, vec_id, cos, CAST(rk AS INT) AS "rank" FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
  FROM rscored
) WHERE rk <= {ANN_K}
"""

    # HLL: the same integer register math, generated for DuckDB. The
    # bit_length CASE chain checks thresholds descending (first match
    # = highest set bit), matching the Spark chain's resolution order.
    _hll_m = 1 << HLL_P
    _hll_rem = 60 - HLL_P
    _hll_maxr = _hll_rem + 1
    from geomesa_spark.operators.analytics import _hll_alpha

    _hll_num = repr(_hll_alpha(_hll_m) * _hll_m * _hll_m * float(1 << _hll_maxr))
    _hll_bitlen = (
        "CASE "
        + " ".join(
            f"WHEN rem >= {1 << (k - 1)} THEN {k}"
            for k in range(_hll_rem, 0, -1)
        )
        + " ELSE 0 END"
    )
    o["hll_distinct"] = f"""
WITH h AS (
  SELECT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS v
  FROM events WHERE user_id IS NOT NULL
),
br AS (
  SELECT event_type, v >> {_hll_rem} AS b, v % {1 << _hll_rem} AS rem FROM h
),
rk AS (SELECT event_type, b, {_hll_maxr} - ({_hll_bitlen}) AS r FROM br),
regs AS (SELECT event_type, b, max(r) AS mr FROM rk GROUP BY 1, 2),
agg AS (
  SELECT event_type,
         CAST(sum(CAST(1 AS BIGINT) << ({_hll_maxr} - mr)) AS BIGINT) AS s,
         count(*) AS nreg
  FROM regs GROUP BY 1
),
fin AS (
  SELECT event_type, nreg, {_hll_m} - nreg AS zeros,
         s + ({_hll_m} - nreg) * (CAST(1 AS BIGINT) << {_hll_maxr}) AS s_units
  FROM agg
)
SELECT event_type,
       CASE WHEN zeros > 0
             AND ({_hll_num} / CAST(s_units AS DOUBLE)) <= {2.5 * _hll_m}
            THEN {float(_hll_m)} * ln({float(_hll_m)} / CAST(zeros AS DOUBLE))
            ELSE {_hll_num} / CAST(s_units AS DOUBLE) END AS approx_distinct,
       CAST(nreg AS BIGINT) AS n_registers,
       s_units AS sum_units,
       CAST(zeros AS BIGINT) AS zero_registers
FROM fin
"""

    # URL canonicalization: the full normalization spec re-expressed
    # in DuckDB (RE2) — every regex is lookaround-free so Java regex
    # and RE2 agree byte-for-byte.
    _sufs = ", ".join(f"'{s}'" for s in UOP.TWO_LABEL_SUFFIXES)
    _URL_NORM_CTE = f"""urls AS (
  SELECT doc_id, {URL_SYNTH_EXPR} AS url FROM documents
),
u1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS u FROM urls),
parts AS (
  SELECT doc_id, url,
    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    regexp_replace(lower(regexp_extract(u,
      '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?(\\[[^\\]]*\\]|[^/?:@]*)', 1)),
      '^www\\.', '') AS host,
    regexp_extract(u,
      '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?(?:\\[[^\\]]*\\]|[^/?:@]*):([0-9]+)',
      1) AS port,
    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*([^?]*)', 1) AS path,
    regexp_extract(u, '\\?(.*)$', 1) AS query
  FROM u1
),
norm AS (
  SELECT doc_id, url, scheme, host,
    CASE WHEN (scheme = 'http' AND port = '80')
          OR (scheme = 'https' AND port = '443')
          OR port = '' THEN '' ELSE ':' || port END AS portseg,
    CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
         ELSE regexp_replace(path, '/+$', '') END AS npath,
    coalesce(array_to_string(list_sort(list_filter(string_split(query, '&'),
      x -> x <> '' AND NOT regexp_matches(x,
        '^(utm_[^=]*|fbclid|gclid|msclkid|ref)(=|$)'))), '&'), '') AS qs
  FROM parts
),
canon AS (
  SELECT doc_id, url, host,
    CASE WHEN scheme = '' THEN url
         ELSE scheme || '://' || host || portseg || npath
           || CASE WHEN qs = '' THEN '' ELSE '?' || qs END END AS nurl,
    CASE WHEN len(string_split(host, '.')) >= 3
          AND string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
              IN ({_sufs})
         THEN string_split(host, '.')[-3] || '.'
              || string_split(host, '.')[-2] || '.'
              || string_split(host, '.')[-1]
         WHEN len(string_split(host, '.')) >= 2
         THEN string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
         ELSE host END AS domain
  FROM norm
)"""
    o["url_normalize"] = f"""
WITH {_URL_NORM_CTE}
SELECT doc_id, url, nurl, host, domain FROM canon
"""

    o["domain_quota"] = f"""
WITH {_URL_NORM_CTE},
pages AS (
  SELECT nurl, domain, min(doc_id) AS doc_id
  FROM canon GROUP BY 1, 2
)
SELECT doc_id, nurl, domain FROM (
  SELECT *, row_number() OVER (
    PARTITION BY domain ORDER BY doc_id, nurl) AS rk
  FROM pages
) WHERE rk <= {DOMAIN_QUOTA}
"""

    o["bin_export"] = """
WITH pts AS (
  SELECT event_id, user_id,
         (event_id*9973 % 36000)/100.0 - 180.0 AS lon,
         (event_id*7919 % 18000)/100.0 - 90.0 AS lat,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
h AS (
  SELECT *,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hh
  FROM pts
)
SELECT CAST(CASE WHEN hh >= 2147483648 THEN hh - 4294967296 ELSE hh END AS INT) AS tid,
       CAST(es AS INT) AS secs,
       CAST(round(lat*100) AS INT) AS lat_c,
       CAST(round(lon*100) AS INT) AS lon_c
FROM h
"""

    hbytes = ", ".join(
        f"CAST(('0x' || substr(h, {2 * i + 1}, 2)) AS INT) AS h{i}" for i in range(16)
    )
    feat_cols = ", ".join(f"h{i}" for i in range(16))
    o["media_decode"] = f"""
WITH refs AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         'media://' || CAST(doc_id AS VARCHAR) || '/' || CAST(doc_id % 4 AS VARCHAR)
           AS media_ref,
         CAST(doc_id % 7 AS INT) AS span_offset
  FROM documents
),
hx AS (SELECT *, md5(media_ref) AS h FROM refs),
b AS (SELECT *, {hbytes} FROM hx)
SELECT doc_id, media_ref, span_offset,
  CASE h0 % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_kind,
  CASE WHEN h0 % 3 = 1 THEN 0 ELSE 16 * (1 + (h1 % 64)) END AS width,
  CASE WHEN h0 % 3 = 1 THEN 0 ELSE 16 * (1 + (h2 % 64)) END AS height,
  CASE WHEN h0 % 3 = 2 THEN 1 + (h3 % 240)
       WHEN h0 % 3 = 1 THEN 0 ELSE 1 END AS n_frames,
  CASE WHEN h0 % 3 = 1 THEN 8000 * (1 + (h4 % 6)) ELSE 0 END AS sample_rate,
  concat_ws(',', {feat_cols}) AS feature_fp
FROM b
"""

    o["hash_attribute"] = """
WITH h AS (
  SELECT event_id,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hh
  FROM events
)
SELECT event_id,
       CAST((((CASE WHEN hh >= 2147483648 THEN hh - 4294967296 ELSE hh END) % 10)
             + 10) % 10 AS INT) AS hash
FROM h
"""

    # visibility_scan: auths {admin, audit} satisfy expressions 0
    # ('admin'), 2 ('admin|secret'), 3 ('' = unlabelled); 1
    # ('admin&secret') and 4 ('secret&(audit|admin)') fail — the
    # evaluator itself is pytest-covered (test_security), this gate
    # pins the end-to-end scan semantics
    o["visibility_scan"] = """
SELECT event_id FROM events WHERE user_id % 5 IN (0, 2, 3)
"""

    o["point2point"] = """
WITH pts AS (
  SELECT event_id, user_id,
         (event_id*9973 % 36000)/100.0 - 180.0 AS lon,
         (event_id*7919 % 18000)/100.0 - 90.0 AS lat,
         CAST(floor(epoch(ts)) AS BIGINT) AS es, ts
  FROM events
),
seg AS (
  SELECT user_id AS grp, es AS es1,
         lead(es)  OVER w AS es2,
         lon AS x1, lat AS y1,
         lead(lon) OVER w AS x2,
         lead(lat) OVER w AS y2
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT grp, es1, es2, x1, y1, x2, y2 FROM seg WHERE es2 IS NOT NULL
"""

    # upsert changelog replay: last-write-wins per key in (ts, seq)
    # order, delete tombstones drop the key (upsert.apply_changelog)
    o["stream_replay"] = """
WITH log AS (
  SELECT CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
         CAST(user_id % 500 AS VARCHAR) AS doc_id,
         CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE) AS ts,
         event_id AS seq,
         event_type AS val
  FROM events
)
SELECT doc_id, ts, seq, val FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY ts DESC, seq DESC) AS rn
  FROM log
) WHERE rn = 1 AND op <> 'delete'
"""

    # kafka_replay routes the SAME changelog through JSON wire frames
    # + kafka_changelog (offset = seq); transport must not change the
    # folded state, so the oracle is stream_replay's
    o["kafka_replay"] = o["stream_replay"]

    # converter-config ingest: every transform recomputed directly on
    # the parquet table (md5 over UTF-8 bytes matches Spark's
    # md5(encode(x,'UTF-8')); the CSV round-trip is identity because
    # CAST(double AS STRING) is shortest-roundtrip and .SSS/date_trunc
    # both floor to milliseconds)
    o["convert_ingest"] = """
SELECT md5(CAST(event_id AS VARCHAR)) AS fid,
       upper(event_type) || '_' || CAST(event_id AS VARCHAR) AS tag,
       user_id AS uid,
       CAST(floor(value * 1000000.0) AS BIGINT) AS val_fp,
       epoch_ms(date_trunc('milliseconds', ts)) AS dtg_ms
FROM events
"""

    # geohash encode/decode: spread-interleave + base-32 render in
    # pure SQL; ix/iy recomputed from lon/lat (Spark decodes them
    # from the STRING, so a match proves the inverse)
    o["geohash_encode"] = f"""
WITH {PTS_CTE}
SELECT event_id, gh AS gh9, ix, iy
FROM ({_gh_string_sql(9, "event_id", _gh_quant_sql(9, "event_id", "pts"))})
"""

    # geohash rectangle cover: range × range grid at precision 3,
    # rendered through the same bit machinery, left-joined with
    # closed-box per-cell counts (zero-count cells retained)
    xmin, ymin, xmax, ymax = RECT
    nx3, ny3 = 1 << 8, 1 << 7  # 15 bits: lon 8, lat 7
    ix0 = min(nx3 - 1, max(0, int((xmin + 180.0) / 360.0 * nx3)))
    ix1 = min(nx3 - 1, max(0, int((xmax + 180.0) / 360.0 * nx3)))
    iy0 = min(ny3 - 1, max(0, int((ymin + 90.0) / 180.0 * ny3)))
    iy1 = min(ny3 - 1, max(0, int((ymax + 90.0) / 180.0 * ny3)))
    grid_src = (
        f"SELECT a.range AS gx, b.range AS gy "
        f"FROM range({ix0}, {ix1 + 1}) a, range({iy0}, {iy1 + 1}) b"
    )
    box_src = (
        f"(SELECT lon, lat FROM pts "
        f"WHERE lon BETWEEN {xmin!r} AND {xmax!r} "
        f"AND lat BETWEEN {ymin!r} AND {ymax!r})"
    )
    o["geohash_cover"] = f"""
WITH {PTS_CTE},
cov AS (SELECT gh FROM ({_gh_string_sql(3, "", grid_src)})),
ev AS (
  SELECT gh, count(*) AS n
  FROM ({_gh_string_sql(3, "", _gh_quant_sql(3, "", box_src))})
  GROUP BY gh
)
SELECT cov.gh AS geohash, CAST(COALESCE(ev.n, 0) AS BIGINT) AS n
FROM cov LEFT JOIN ev USING (gh)
"""

    # S2 cells: full trig + chunked-Hilbert recompute in SQL; the
    # range gate adds the BETWEEN literals and pure-bit parent6
    o["s2_encode"] = f"""
WITH {PTS_CTE},
{_s2_cell_sql(S2_LEVEL)}
SELECT event_id, face, i, j, cell FROM s2cell
"""

    s2_lo, s2_hi = S2_RANGE
    _lsb6 = 1 << (2 * (30 - 6))
    o["s2_range"] = f"""
WITH {PTS_CTE},
{_s2_cell_sql(S2_LEVEL)}
SELECT event_id, cell, ((cell & {-_lsb6}) | {_lsb6}) AS parent6
FROM s2cell WHERE cell BETWEEN {s2_lo} AND {s2_hi}
"""

    # S2 bbox scan: the oracle is the DIRECT filter — the engine must
    # reproduce it through cover ranges + refine
    xmin, ymin, xmax, ymax = RECT
    o["s2_bbox"] = f"""
WITH {PTS_CTE},
{_s2_cell_sql(S2_LEVEL)}
SELECT s.event_id, s.cell
FROM s2cell s JOIN pts p USING (event_id)
WHERE p.lon BETWEEN {xmin!r} AND {xmax!r}
  AND p.lat BETWEEN {ymin!r} AND {ymax!r}
"""

    # deterministic epoch shuffle: same md5 bucket, contiguous-range
    # shard, per-shard window (single-threaded window is fine here)
    o["epoch_shuffle"] = f"""
WITH b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('epoch{EPOCH_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 1000000 AS bucket
  FROM documents)
SELECT doc_id,
       CAST((bucket * {EPOCH_SHARDS}) // 1000000 AS BIGINT) AS shard,
       CAST(row_number() OVER (
         PARTITION BY (bucket * {EPOCH_SHARDS}) // 1000000
         ORDER BY bucket, doc_id) AS BIGINT) AS pos
FROM b
"""

    # DSIR: hashed-bigram models + fixed-point likelihood-ratio mean,
    # same md5 bucket arithmetic and integer op order as the engine
    o["dsir_select"] = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM documents),
fb AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tk[i] || ' ' || tk[i+1]), 1, 8)) AS BIGINT)
           % {DSIR_B} AS bucket
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk)-1)) AS i
        FROM toks)),
tc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c_t FROM fb
       WHERE doc_id % 5 = 0 GROUP BY 1),
sc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c_s FROM fb GROUP BY 1),
cf AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt FROM fb
       WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
j AS (
  SELECT cf.doc_id, cf.cnt,
         ((COALESCE(tc.c_t, 0) + 1) * 1000000)
           // (COALESCE(sc.c_s, 0) + 1) AS r
  FROM cf LEFT JOIN tc USING (bucket) LEFT JOIN sc USING (bucket)),
agg AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_feats,
         CAST(CAST(sum(cnt * r) AS BIGINT) // sum(cnt) AS BIGINT) AS score_fp
  FROM j GROUP BY 1)
SELECT d.doc_id, COALESCE(a.n_feats, 0) AS n_feats, a.score_fp
FROM (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0) d
LEFT JOIN agg a USING (doc_id)
ORDER BY score_fp DESC NULLS LAST, d.doc_id
LIMIT {DSIR_K}
"""

    # token-budget shard packing: the oracle IS the naive global
    # window (fine single-threaded in DuckDB; a scale-killer in
    # Spark, which is why the engine uses the two-pass prefix sum)
    o["shard_pack"] = """
WITH toks AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split(text,' '), tok -> tok <> '')) AS BIGINT) AS n_tok
  FROM documents
)
SELECT doc_id, n_tok,
  CAST(SUM(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
  (CAST(SUM(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tok) // 4096 AS shard
FROM toks
"""

    # deterministic sampling: bucket = uint32(md5 prefix) % 1e6,
    # identical arithmetic in both engines (same as shingle_hash)
    bucket = (
        "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
        " % 1000000"
    )
    o["hash_sample"] = f"""
SELECT doc_id FROM documents WHERE {bucket} < 350000
"""

    o["stratified_sample"] = f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY {bucket}, doc_id) AS rk
  FROM documents
) WHERE rk <= 40
"""

    # priority sampling: q_fp = (w * 1e12) // (bucket + 1), top PRI_K
    # by (q desc, doc_id), tau = the (PRI_K+1)-th priority, HT weight
    # = max(w*1e6, tau) — all exact integer arithmetic
    o["priority_sample"] = f"""
WITH w AS (
  SELECT doc_id, CAST(length(text) AS INT) AS wt FROM documents
  WHERE length(text) > 0
),
q AS (
  SELECT doc_id, wt,
         (CAST(wt AS BIGINT) * 1000000000000) // (({bucket}) + 1) AS qv
  FROM w
),
top AS (SELECT * FROM q ORDER BY qv DESC, doc_id LIMIT {PRI_K + 1}),
st AS (SELECT count(*) AS n, min(qv) AS tau FROM top)
SELECT doc_id, wt,
       CAST(greatest(CAST(wt AS BIGINT) * 1000000,
                     CASE WHEN st.n > {PRI_K} THEN st.tau ELSE 0 END)
            AS BIGINT) AS est_weight_fp
FROM top, st
QUALIFY row_number() OVER (ORDER BY qv DESC, doc_id) <= {PRI_K}
"""

    # sessionize: same lag + cumulative-start window, seconds floored
    # identically on both engines
    o["sessionize"] = """
WITH e AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
g AS (
  SELECT event_id, user_id, es,
         es - lag(es) OVER (PARTITION BY user_id ORDER BY es, event_id) AS gap
  FROM e
)
SELECT event_id, user_id,
       CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY es, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
FROM g
"""

    # track dynamics: same window (user_id; ts, event_id), planar
    # legs via identical sqrt(dx*dx+dy*dy) expressions — IEEE
    # correctly-rounded ops, so doubles hash-compare exactly.
    TRACK_M_CTE = """tp AS (
  SELECT event_id, user_id,
         (event_id*9973 % 36000)/100.0 - 180.0 AS lon,
         (event_id*7919 % 18000)/100.0 - 90.0 AS lat,
         CAST(floor(epoch(ts)) AS BIGINT) AS es, ts
  FROM events
),
m AS (
  SELECT user_id, event_id, es, lon, lat,
         CAST(row_number() OVER w AS INT) AS seq,
         lag(lon) OVER w AS plon, lag(lat) OVER w AS plat,
         lag(es) OVER w AS pes
  FROM tp WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
legs AS (
  SELECT user_id, event_id, es, pes, lon, lat, seq,
         CASE WHEN plon IS NULL THEN 0.0
              ELSE sqrt((lon-plon)*(lon-plon) + (lat-plat)*(lat-plat))
         END AS leg_dist,
         CAST(CASE WHEN pes IS NULL THEN 0 ELSE es - pes END AS BIGINT)
           AS dt_s
  FROM m
)"""

    o["track_metrics"] = f"""
WITH {TRACK_M_CTE}
SELECT user_id, event_id, seq, leg_dist, dt_s,
       CASE WHEN dt_s > 0 THEN leg_dist / dt_s END AS speed
FROM legs
"""

    o["track_summary"] = f"""
WITH {TRACK_M_CTE}
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(dt_s) AS BIGINT) AS duration_s,
       CAST(sum(CAST(floor(leg_dist * 1000000.0) AS BIGINT)) AS BIGINT)
         AS total_dist_fp,
       min(lon) AS min_lon, max(lon) AS max_lon,
       min(lat) AS min_lat, max(lat) AS max_lat
FROM legs GROUP BY user_id
"""

    o["geofence"] = f"""
WITH tp AS (
  SELECT event_id, user_id,
         (event_id*9973 % 36000)/100.0 - 180.0 AS lon,
         (event_id*7919 % 18000)/100.0 - 90.0 AS lat,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
sq AS (
  SELECT *,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY es, event_id) AS INT) AS seq,
         CAST(count(*) OVER (PARTITION BY user_id) AS INT) AS n_pts
  FROM tp
),
inside AS (
  SELECT user_id, es, seq, n_pts, 'rect' AS fence_id FROM sq WHERE {rect_cond}
  UNION ALL
  SELECT user_id, es, seq, n_pts, 'tri' FROM sq WHERE {_convex_cond(TRIANGLE)}
  UNION ALL
  SELECT user_id, es, seq, n_pts, 'pent' FROM sq WHERE {_convex_cond(PENTAGON)}
),
fl AS (
  SELECT user_id, fence_id, es, seq, n_pts,
         lag(seq) OVER w AS prev, lead(seq) OVER w AS nxt
  FROM inside WINDOW w AS (PARTITION BY user_id, fence_id ORDER BY seq)
)
SELECT user_id, fence_id, 'enter' AS event, es, seq FROM fl
WHERE prev IS NULL OR prev <> seq - 1
UNION ALL
SELECT user_id, fence_id, 'exit', es, seq FROM fl
WHERE (nxt IS NULL OR nxt <> seq + 1) AND seq < n_pts
"""

    o["cooccurrence"] = f"""
WITH mp AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
pts AS (
  SELECT event_id, es, {_COOC_LON} AS lon, {_COOC_LAT} AS lat FROM mp
)
SELECT a.event_id AS id_a, b.event_id AS id_b,
       (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat) AS dist2,
       CAST(abs(a.es - b.es) AS BIGINT) AS dt_s
FROM pts a JOIN pts b
  ON a.event_id < b.event_id
 AND b.es BETWEEN a.es - 7200 AND a.es + 7200
 AND b.lat BETWEEN a.lat - 0.5 AND a.lat + 0.5
WHERE (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat) <= 0.25
  AND abs(a.es - b.es) <= 7200
"""

    # trips: sessionize (gap > 3600 s on floored epoch, order by full
    # ts) then first/last endpoint per (user, trip) by (es, event_id)
    TRIPS_CTE = f"""mp AS (
  SELECT event_id, user_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
pts AS (
  SELECT event_id, user_id, ts, es,
         {_COOC_LON} AS lon, {_COOC_LAT} AS lat
  FROM mp
),
g AS (
  SELECT *, CASE WHEN lag(es) OVER w IS NULL OR es - lag(es) OVER w > 3600
                 THEN 1 ELSE 0 END AS st
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sgm AS (
  SELECT *, CAST(SUM(st) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS trip_id
  FROM g
),
ep AS (
  SELECT user_id, trip_id, es, event_id, lon, lat,
         row_number() OVER (PARTITION BY user_id, trip_id
                            ORDER BY es, event_id) AS ra,
         row_number() OVER (PARTITION BY user_id, trip_id
                            ORDER BY es DESC, event_id DESC) AS rd,
         CAST(count(*) OVER (PARTITION BY user_id, trip_id) AS BIGINT) AS np
  FROM sgm
),
trips AS (
  SELECT o.user_id, o.trip_id,
         o.es AS o_ts, o.lon AS o_lon, o.lat AS o_lat,
         d.es AS d_ts, d.lon AS d_lon, d.lat AS d_lat,
         o.np AS n_points, CAST(d.es - o.es AS BIGINT) AS duration_s
  FROM (SELECT * FROM ep WHERE ra = 1) o
  JOIN (SELECT * FROM ep WHERE rd = 1) d
    USING (user_id, trip_id)
)"""

    from geomesa_spark.operators.tracks import FLOW_MEAN_SQL as _FLOW
    from geomesa_spark.operators.tracks import TRK_DLON_SQL as _TRK_DLON
    from geomesa_spark.operators.tracks import (
        lon_interp_sql as _lon_interp_sql,
        stop_center_sql as _stop_center_sql,
    )

    o["flow_field"] = f"""
WITH mp AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
pts AS (
  SELECT event_id, user_id, es,
         {_COOC_LON} AS lon, {_COOC_LAT} AS lat
  FROM mp
),
seg AS (
  SELECT user_id, es, lon, lat,
         lead(lon) OVER w AS nlon,
         lead(lat) OVER w AS nlat,
         lead(es) OVER w AS nes
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
),
cells AS (
  SELECT
    CAST(greatest(0, least(31, floor((lon+180.0)/360.0*32.0))) AS BIGINT) AS x,
    CAST(greatest(0, least(31, floor((lat+90.0)/180.0*32.0))) AS BIGINT) AS y,
    nes - es AS dt,
    CAST(floor(({_TRK_DLON.format(a="lon", b="nlon")}) * 1000000.0) AS BIGINT) AS fdx,
    CAST(floor((nlat - lat) * 1000000.0) AS BIGINT) AS fdy
  FROM seg WHERE nes IS NOT NULL AND nes - es <= 86400
),
agg AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS n_legs,
         CAST(sum(dt) AS BIGINT) AS sum_dt_s,
         CAST(sum(fdx) AS BIGINT) AS sum_fp_dx,
         CAST(sum(fdy) AS BIGINT) AS sum_fp_dy
  FROM cells GROUP BY x, y
)
SELECT x, y, n_legs, sum_dt_s, sum_fp_dx, sum_fp_dy,
       {_FLOW.format(X="sum_fp_dx", D="sum_dt_s")} AS u_fp,
       {_FLOW.format(X="sum_fp_dy", D="sum_dt_s")} AS v_fp
FROM agg
"""

    from geomesa_spark.operators.tracks import (
        FLOW_COS_SQL as _FLOW_COS,
        FLOW_MAGR_SQL as _FLOW_MAGR,
    )

    _fa_fmt = dict(fx="fp_dx", fy="fp_dy", SX="sx", SY="sy",
                   dt="dt_s", SD="sd")
    o["flow_anomaly"] = f"""
WITH mp AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
pts AS (
  SELECT event_id, user_id, es,
         {_COOC_LON} AS lon, {_COOC_LAT} AS lat
  FROM mp
),
seg AS (
  SELECT user_id, es, lon, lat,
         lead(lon) OVER w AS nlon,
         lead(lat) OVER w AS nlat,
         lead(es) OVER w AS nes
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
),
legs AS (
  SELECT user_id AS track, es,
    CAST(greatest(0, least(31, floor((lon+180.0)/360.0*32.0))) AS BIGINT) AS x,
    CAST(greatest(0, least(31, floor((lat+90.0)/180.0*32.0))) AS BIGINT) AS y,
    CAST(nes - es AS BIGINT) AS dt_s,
    CAST(floor(({_TRK_DLON.format(a="lon", b="nlon")}) * 1000000.0) AS BIGINT) AS fp_dx,
    CAST(floor((nlat - lat) * 1000000.0) AS BIGINT) AS fp_dy
  FROM seg WHERE nes IS NOT NULL AND nes - es <= 86400
),
field AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS n_cell_legs,
         CAST(sum(dt_s) AS BIGINT) AS sd,
         CAST(sum(fp_dx) AS BIGINT) AS sx,
         CAST(sum(fp_dy) AS BIGINT) AS sy
  FROM legs GROUP BY x, y
)
SELECT track, es, x, y, dt_s, fp_dx, fp_dy, n_cell_legs,
       {_FLOW_COS.format(**_fa_fmt)} AS cos_sim,
       {_FLOW_MAGR.format(**_fa_fmt)} AS speed_ratio
FROM legs JOIN field USING (x, y)
"""

    o["trips"] = f"""
WITH {TRIPS_CTE}
SELECT * FROM trips
"""

    o["od_flows"] = f"""
WITH {TRIPS_CTE}
SELECT
  CAST(greatest(0, least(63, floor((o_lon+180.0)/360.0*64.0))) AS BIGINT) AS ox,
  CAST(greatest(0, least(63, floor((o_lat+90.0)/180.0*64.0))) AS BIGINT) AS oy,
  CAST(greatest(0, least(63, floor((d_lon+180.0)/360.0*64.0))) AS BIGINT) AS dx,
  CAST(greatest(0, least(63, floor((d_lat+90.0)/180.0*64.0))) AS BIGINT) AS dy,
  CAST(floor(CAST(o_ts AS DOUBLE) / 86400.0) AS BIGINT) AS tb,
  CAST(count(*) AS BIGINT) AS n_trips
FROM trips GROUP BY 1, 2, 3, 4, 5
"""

    # stop_detect: anchor on seq==1 OR planar leg > 0.2, running sum
    # of anchors = stop id, same-key rollup, HAVING span >= 600 s.
    STOPS_CTE = f"""mp AS (
  SELECT event_id, user_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
pts AS (
  SELECT event_id, user_id, ts, es,
         {_COOC_LON} AS lon, {_COOC_LAT} AS lat
  FROM mp
),
m AS (
  SELECT *, lag(lon) OVER w AS plon, lag(lat) OVER w AS plat
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
a AS (
  SELECT *, CASE WHEN plon IS NULL
               OR sqrt((lon-plon)*(lon-plon) + (lat-plat)*(lat-plat)) > 0.2
            THEN 1 ELSE 0 END AS st
  FROM m
),
sgm AS (
  SELECT *, CAST(SUM(st) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS stop_id
  FROM a
)
SELECT user_id AS track, stop_id,
       CAST(min(es) AS BIGINT) AS start_ts,
       CAST(max(es) AS BIGINT) AS end_ts,
       CAST(max(es) - min(es) AS BIGINT) AS duration_s,
       CAST(count(*) AS BIGINT) AS n_points,
       {_stop_center_sql(
           "min(lon)", "max(lon)",
           "min(CASE WHEN lon >= 0 THEN lon END)",
           "max(CASE WHEN lon < 0 THEN lon END)",
       )} AS center_lon,
       (min(lat) + max(lat)) / 2 AS center_lat
FROM sgm GROUP BY user_id, stop_id
HAVING max(es) - min(es) >= 600"""
    # STOPS_CTE ends with the final stop SELECT: stop_detect's oracle
    # uses it verbatim; frequent_places re-wraps that tail SELECT as
    # a `stops` CTE (one definition, two gates)

    o["stop_detect"] = f"""
WITH {STOPS_CTE}
"""

    # frequent_places: stops onto the 64-grid of their centers,
    # dwell-ranked top-k per track
    o["frequent_places"] = f"""
WITH {STOPS_CTE.replace(
        chr(10) + ")" + chr(10) + "SELECT user_id AS track",
        chr(10) + ")," + chr(10) + "stops AS (SELECT user_id AS track",
    ) + ")"},
pl AS (
  SELECT track,
         CAST(greatest(0, least(63, floor((center_lon+180.0)/360.0*64.0))) AS BIGINT) AS x,
         CAST(greatest(0, least(63, floor((center_lat+90.0)/180.0*64.0))) AS BIGINT) AS y,
         duration_s
  FROM stops
),
agg AS (
  SELECT track, x, y,
         CAST(count(*) AS BIGINT) AS n_stops,
         CAST(sum(duration_s) AS BIGINT) AS total_dwell_s
  FROM pl GROUP BY 1, 2, 3
)
SELECT track, x, y, n_stops, total_dwell_s, CAST(rk AS INT) AS "rank"
FROM (
  SELECT *, row_number() OVER (PARTITION BY track
                               ORDER BY total_dwell_s DESC, x, y) AS rk
  FROM agg
) WHERE rk <= 3
"""

    # speed_filter: per-leg planar speed vs threshold, NULL-safe
    o["speed_filter"] = f"""
WITH mp AS (
  SELECT event_id, user_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
pts AS (
  SELECT event_id, user_id, ts, es,
         {_COOC_LON} AS lon, {_COOC_LAT} AS lat
  FROM mp
),
m AS (
  SELECT event_id, es, lon, lat,
         lag(lon) OVER w AS plon, lag(lat) OVER w AS plat,
         lag(es) OVER w AS pes
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id,
       CASE WHEN plon IS NOT NULL AND es - pes > 0
             AND sqrt((lon-plon)*(lon-plon) + (lat-plat)*(lat-plat))
                 / (es - pes) > 0.00002
            THEN 1 ELSE 0 END AS is_ghost
FROM m
"""

    # quadkey_tiles: the SAME tile SQL text + a string_agg quadkey
    from geomesa_spark.functions.tiles import tile_sql as _tile_sql

    _tx_sql, _ty_sql = _tile_sql("lon", "lat", 9)
    o["quadkey_tiles"] = f"""
WITH pts AS (
  SELECT event_id,
         (event_id*9973 % 36000)/100.0 - 180.0 AS lon,
         (event_id*7919 % 18000)/100.0 - 90.0 AS lat
  FROM events
),
t AS (
  SELECT event_id, {_tx_sql} AS tx, {_ty_sql} AS ty FROM pts
)
SELECT event_id, tx, ty,
       (SELECT string_agg(
           substr('0123',
                  CAST(1 + ((ty >> (9 - g.k)) & 1) * 2
                         + ((tx >> (9 - g.k)) & 1) AS INT), 1),
           '' ORDER BY g.k)
        FROM generate_series(1, 9) g(k)) AS qk
FROM t
"""

    # zonal_raster: regenerate the synthetic pixel lattice (ids ->
    # ix/iy -> spread-interleaved cell -> wrapped-uint64 base value
    # via HUGEINT mod 2^64), derive exact-double pixel centers, the
    # pip conditions, fixed-point zone aggregates
    _zr_inner = (
        "SELECT t.k AS id, (t.k % 16) AS ix, (t.k // 16) AS iy, "
        "(t.k % 16) AS x, (t.k // 16) AS y "
        "FROM generate_series(0, 255) t(k)"
    )
    _zr_q = (
        "SELECT id, ix, iy, (x & 2147483647) AS x, (y & 2147483647) AS y "
        f"FROM ({_zr_inner})"
    )
    for _sh, _mk in C._SPREAD2:
        _pre = _mk >> _sh
        _zr_q = (
            "SELECT id, ix, iy, "
            f"(((x | ((x & {_pre}) << {_sh})) & {_mk})) AS x, "
            f"(((y | ((y & {_pre}) << {_sh})) & {_mk})) AS y "
            f"FROM ({_zr_q})"
        )
    _zr_pix = f"""
cells AS (
  SELECT id, ix, iy, (x | (y << 1)) AS cell FROM ({_zr_q})
),
vals AS (
  SELECT ix, iy,
         CAST(((CAST(cell AS HUGEINT) * 11400714819323198485)
               % 18446744073709551616) // 1099511627776 AS DOUBLE) AS base
  FROM cells
),
pix AS (
  SELECT
    (CAST(ix AS DOUBLE)
     + (CAST(p.k % 8 AS DOUBLE) + 0.5) / 8.0) / 16.0 * 360.0 - 180.0
      AS lon,
    (CAST(iy AS DOUBLE)
     + (CAST(p.k // 8 AS DOUBLE) + 0.5) / 8.0) / 16.0 * 180.0 - 90.0
      AS lat,
    base + (CAST(p.k // 8 AS DOUBLE) * 0.01
            + CAST(p.k % 8 AS DOUBLE) * 0.0001) AS v
  FROM vals, UNNEST(generate_series(0, 63)) p(k)
)"""

    def _zr_sel(zone: str, cond: str) -> str:
        return f"""
SELECT '{zone}' AS zone,
       CAST(count(*) AS BIGINT) AS n_px,
       min(v) AS vmin, max(v) AS vmax,
       CAST(sum(CAST(floor(v * 1000000.0) AS BIGINT)) AS BIGINT)
         AS sum_fp,
       CAST(CAST(sum(CAST(floor(v * 1000000.0) AS BIGINT)) AS BIGINT)
            AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_fp
FROM pix WHERE {cond}"""

    o["zonal_raster"] = f"""
WITH {_zr_pix}
{_zr_sel('rect', rect_cond)}
UNION ALL {_zr_sel('tri', _convex_cond(TRIANGLE))}
UNION ALL {_zr_sel('pent', _convex_cond(PENTAGON))}
"""

    # map_algebra: same synthetic value model keyed by (cell, idx);
    # layer b = 2000 - 2a on cells % 3 != 0, op = ndiff — the
    # identical double expressions the Spark gate evaluates
    o["map_algebra"] = f"""
WITH cells AS (
  SELECT id, ix, iy, (x | (y << 1)) AS cell FROM ({_zr_q})
),
vals AS (
  SELECT cell,
         CAST(((CAST(cell AS HUGEINT) * 11400714819323198485)
               % 18446744073709551616) // 1099511627776 AS DOUBLE) AS base
  FROM cells
),
pixa AS (
  SELECT cell, CAST(p.k AS INT) AS idx,
         base + (CAST(p.k // 8 AS DOUBLE) * 0.01
                 + CAST(p.k % 8 AS DOUBLE) * 0.0001) AS a
  FROM vals, UNNEST(generate_series(0, 63)) p(k)
),
ab AS (
  SELECT cell, idx, a, 2000.0 - a * 2.0 AS b
  FROM pixa WHERE cell % 3 != 0
)
SELECT cell, idx,
       CASE WHEN (a + b) <> 0.0 THEN (a - b) / (a + b) END AS v
FROM ab
"""

    from geomesa_spark.operators.raster import (
        FOCAL_MEAN_SQL as _FOCAL_MEAN,
    )

    o["focal_stats"] = f"""
WITH cells AS (
  SELECT id, ix, iy, (x | (y << 1)) AS cell FROM ({_zr_q})
),
vals AS (
  SELECT cell, ix, iy,
         CAST(((CAST(cell AS HUGEINT) * 11400714819323198485)
               % 18446744073709551616) // 1099511627776 AS DOUBLE) AS base
  FROM cells
),
pix AS (
  SELECT CAST(ix * 8 + p.k % 8 AS BIGINT) AS gx,
         CAST(iy * 8 + p.k // 8 AS BIGINT) AS gy,
         CAST(floor((base + (CAST(p.k // 8 AS DOUBLE) * 0.01
                             + CAST(p.k % 8 AS DOUBLE) * 0.0001))
                    * 1000000.0) AS BIGINT) AS v_fp
  FROM vals, UNNEST(generate_series(0, 63)) p(k)
),
contrib AS (
  SELECT p.gx + d.dx AS gx, p.gy + d.dy AS gy, p.v_fp
  FROM pix p,
       (SELECT dx.k AS dx, dy.k AS dy
        FROM UNNEST(generate_series(-1, 1)) dx(k),
             UNNEST(generate_series(-1, 1)) dy(k)) d
),
win AS (
  SELECT gx, gy, CAST(count(*) AS BIGINT) AS n_win,
         CAST(sum(v_fp) AS BIGINT) AS sum_fp,
         CAST(min(v_fp) AS BIGINT) AS min_fp,
         CAST(max(v_fp) AS BIGINT) AS max_fp
  FROM contrib GROUP BY 1, 2
)
SELECT p.gx, p.gy, p.v_fp, w.n_win, w.sum_fp, w.min_fp, w.max_fp,
       {_FOCAL_MEAN.format(S="w.sum_fp", n="w.n_win")} AS mean_fp
FROM pix p JOIN win w USING (gx, gy)
"""

    # the level-4 synthetic pixel lattice in fixed-point (shared by
    # the raster_overview / terrain_slope oracles), same CTE text as
    # focal_stats
    _ras_pix = f"""
cells AS (
  SELECT id, ix, iy, (x | (y << 1)) AS cell FROM ({_zr_q})
),
vals AS (
  SELECT cell, ix, iy,
         CAST(((CAST(cell AS HUGEINT) * 11400714819323198485)
               % 18446744073709551616) // 1099511627776 AS DOUBLE) AS base
  FROM cells
),
pix AS (
  SELECT CAST(ix * 8 + p.k % 8 AS BIGINT) AS gx,
         CAST(iy * 8 + p.k // 8 AS BIGINT) AS gy,
         CAST(floor((base + (CAST(p.k // 8 AS DOUBLE) * 0.01
                             + CAST(p.k % 8 AS DOUBLE) * 0.0001))
                    * 1000000.0) AS BIGINT) AS v_fp
  FROM vals, UNNEST(generate_series(0, 63)) p(k)
)"""

    # raster_overview: factor-2 coarse grouping, parent (pcx, pcy)
    # spread-interleaved through the same mask chain as _zr_q, pixel
    # value = the shared OVERVIEW_MEAN_SQL division
    from geomesa_spark.operators.raster import (
        OVERVIEW_MEAN_SQL as _OV_MEAN,
    )

    _ov_keyed = """
  SELECT cgx // 8 AS x, cgy // 8 AS y,
         CAST((cgy % 8) * 8 + (cgx % 8) AS INT) AS idx,
         {v} AS v
  FROM coarse
""".format(v=_OV_MEAN.format(S="sum_fp", n="n_in", fp=1_000_000))
    _ov_q = (
        "SELECT idx, v, (x & 2147483647) AS x, (y & 2147483647) AS y "
        f"FROM ({_ov_keyed})"
    )
    for _sh, _mk in C._SPREAD2:
        _pre = _mk >> _sh
        _ov_q = (
            "SELECT idx, v, "
            f"(((x | ((x & {_pre}) << {_sh})) & {_mk})) AS x, "
            f"(((y | ((y & {_pre}) << {_sh})) & {_mk})) AS y "
            f"FROM ({_ov_q})"
        )
    o["raster_overview"] = f"""
WITH {_ras_pix},
coarse AS (
  SELECT gx // 2 AS cgx, gy // 2 AS cgy,
         CAST(count(*) AS BIGINT) AS n_in,
         CAST(sum(v_fp) AS BIGINT) AS sum_fp
  FROM pix GROUP BY 1, 2
)
SELECT (x | (y << 1)) AS cell, idx, v FROM ({_ov_q})
"""

    # terrain_slope: Horn weight pairs per window offset, exact
    # int64 gradient sums (interior pixels only), derived doubles
    # via the shared TERRAIN_* strings (IEEE-exact ops only)
    from geomesa_spark.operators.raster import (
        TERRAIN_DZ_SQL as _TER_DZ,
        TERRAIN_SLOPE_SQL as _TER_SLOPE,
    )

    _ter_zx = _TER_DZ.format(g="gx_fp", cs=repr(30.0), fp=repr(1e6))
    _ter_zy = _TER_DZ.format(g="gy_fp", cs=repr(25.0), fp=repr(1e6))
    o["terrain_slope"] = f"""
WITH {_ras_pix},
contrib AS (
  SELECT p.gx - d.dx AS gx, p.gy - d.dy AS gy,
         p.v_fp * d.wx AS cx, p.v_fp * d.wy AS cy
  FROM pix p,
       (VALUES (-1,-1,-1,-1),(-1,0,-2,0),(-1,1,-1,1),
               (0,-1,0,-2),(0,0,0,0),(0,1,0,2),
               (1,-1,1,-1),(1,0,2,0),(1,1,1,1)) d(dx,dy,wx,wy)
),
grad AS (
  SELECT gx, gy,
         CAST(sum(cx) AS BIGINT) AS gx_fp,
         CAST(sum(cy) AS BIGINT) AS gy_fp
  FROM contrib GROUP BY 1, 2 HAVING count(*) = 9
)
SELECT p.gx, p.gy, p.v_fp, g.gx_fp, g.gy_fp,
       {_ter_zx} AS dzdx, {_ter_zy} AS dzdy,
       {_TER_SLOPE.format(zx=_ter_zx, zy=_ter_zy)} AS slope_ratio
FROM pix p JOIN grad g USING (gx, gy)
"""

    # viewshed: pairing, round-half-up nearest-pixel sampling
    # (non-negative `//`), and the shared strict cross-multiplied
    # blocking string — all verbatim over the shared pixel CTE
    from geomesa_spark.operators.raster import (
        VIEWSHED_BLOCK_SQL as _VS_BLK,
    )

    o["viewshed"] = f"""
WITH {_ras_pix},
obse AS (
  SELECT CAST(o.ogx AS BIGINT) AS ogx, CAST(o.ogy AS BIGINT) AS ogy,
         p.v_fp AS oe
  FROM (VALUES (10, 10), (64, 100), (100, 30)) o(ogx, ogy)
  JOIN pix p ON p.gx = o.ogx AND p.gy = o.ogy
),
vpairs AS (
  SELECT e.ogx, e.ogy, e.oe, p.gx, p.gy, p.v_fp AS te,
         greatest(abs(p.gx - e.ogx), abs(p.gy - e.ogy)) AS d
  FROM obse e JOIN pix p
    ON abs(p.gx - e.ogx) <= 10 AND abs(p.gy - e.ogy) <= 10
),
vsamp AS (
  SELECT pr.ogx, pr.ogy, pr.oe, pr.gx, pr.gy, pr.te, pr.d, s.k,
         (2*(pr.ogx*(pr.d - s.k) + pr.gx*s.k) + pr.d) // (2*pr.d) AS sx,
         (2*(pr.ogy*(pr.d - s.k) + pr.gy*s.k) + pr.d) // (2*pr.d) AS sy
  FROM vpairs pr, UNNEST(generate_series(1, pr.d - 1)) s(k)
  WHERE pr.d >= 2
),
vblk AS (
  SELECT s.ogx, s.ogy, s.gx, s.gy,
         bool_or(ek IS NOT NULL AND ({_VS_BLK})) AS any_blk
  FROM (SELECT s0.*, p.v_fp AS ek
        FROM vsamp s0
        LEFT JOIN pix p ON p.gx = s0.sx AND p.gy = s0.sy) s
  GROUP BY 1, 2, 3, 4
)
SELECT pr.ogx AS obs_gx, pr.ogy AS obs_gy, pr.gx, pr.gy, pr.d,
       NOT coalesce(b.any_blk, FALSE) AS visible
FROM vpairs pr LEFT JOIN vblk b
  ON b.ogx = pr.ogx AND b.ogy = pr.ogy
 AND b.gx = pr.gx AND b.gy = pr.gy
"""

    # contour: corner assembly via three pix self-joins, the 4-bit
    # case, and the IDENTICAL generated CASE tables for each vertex
    # coordinate (contour_coord_sql — exact-int subtractions + one
    # division per coordinate)
    from geomesa_spark.operators.raster import (
        contour_coord_sql as _ms_coord,
    )

    _MS_LFP = 8388608 * 1_000_000  # floor(2^23 * fp_scale)
    _ms_fmt = dict(L=str(_MS_LFP), bl="bl", br="br", tr="tr", tl="tl")
    _ms_x0 = _ms_coord(0).format(**_ms_fmt)
    _ms_y0 = _ms_coord(1).format(**_ms_fmt)
    _ms_x1 = _ms_coord(2).format(**_ms_fmt)
    _ms_y1 = _ms_coord(3).format(**_ms_fmt)
    o["contour"] = f"""
WITH {_ras_pix},
cells2 AS (
  SELECT p00.gx AS cx, p00.gy AS cy,
         p00.v_fp AS bl, p10.v_fp AS br,
         p11.v_fp AS tr, p01.v_fp AS tl
  FROM pix p00
  JOIN pix p10 ON p10.gx = p00.gx + 1 AND p10.gy = p00.gy
  JOIN pix p01 ON p01.gx = p00.gx AND p01.gy = p00.gy + 1
  JOIN pix p11 ON p11.gx = p00.gx + 1 AND p11.gy = p00.gy + 1
),
cased AS (
  SELECT cx, cy, bl, br, tr, tl,
         CAST((CASE WHEN bl >= {_MS_LFP} THEN 1 ELSE 0 END)
            + (CASE WHEN br >= {_MS_LFP} THEN 2 ELSE 0 END)
            + (CASE WHEN tr >= {_MS_LFP} THEN 4 ELSE 0 END)
            + (CASE WHEN tl >= {_MS_LFP} THEN 8 ELSE 0 END) AS INT)
           AS mcase
  FROM cells2
),
segs AS (
  SELECT c.*, s.sidx
  FROM cased c, (SELECT 0 AS sidx UNION ALL SELECT 1) s
  WHERE c.mcase NOT IN (0, 15)
    AND (s.sidx = 0 OR c.mcase IN (5, 10))
)
SELECT cx, cy, mcase, sidx,
       CAST(cx AS DOUBLE) + ({_ms_x0}) AS x0,
       CAST(cy AS DOUBLE) + ({_ms_y0}) AS y0,
       CAST(cx AS DOUBLE) + ({_ms_x1}) AS x1,
       CAST(cy AS DOUBLE) + ({_ms_y1}) AS y1
FROM segs
"""

    # flow_direction / flow_accumulation: the D8 neighbor VALUES
    # table with the same precedence indices, codes, and dist
    # literals; rates via the shared D8_RATE_SQL divisor semantics
    # (a DOUBLE column equal to the literal divides identically);
    # accumulation = 1 + unique-path transitive closure
    from geomesa_spark.operators.raster import _D8 as _D8T

    _d8_vals = ", ".join(
        f"({dx}, {dy}, {i}, {code}, {repr(float(dist))})"
        for i, (dx, dy, code, dist) in enumerate(_D8T)
    )
    _fd_core = f"""
{_ras_pix},
nbr AS (
  SELECT p.gx - d.dx AS gx, p.gy - d.dy AS gy, d.tag, d.code,
         d.dist, p.v_fp AS vn
  FROM pix p,
       (VALUES {_d8_vals}) d(dx, dy, tag, code, dist)
),
cand AS (
  SELECT n.gx, n.gy, n.tag, n.code,
         CAST(p.v_fp - n.vn AS DOUBLE) / n.dist AS rate,
         p.v_fp - n.vn AS dropi, p.v_fp
  FROM nbr n JOIN pix p ON p.gx = n.gx AND p.gy = n.gy
),
full8 AS (
  SELECT gx, gy FROM cand GROUP BY 1, 2 HAVING count(*) = 8
),
win AS (
  SELECT c.*,
         row_number() OVER (PARTITION BY c.gx, c.gy
                            ORDER BY -c.rate, c.tag) AS rk
  FROM cand c JOIN full8 USING (gx, gy)
),
dirs AS (
  SELECT gx, gy, v_fp,
         CAST(CASE WHEN rate <= 0 THEN 0 ELSE code END AS INT) AS d8,
         CAST(CASE WHEN rate <= 0 THEN 0 ELSE dropi END AS BIGINT)
           AS drop_fp
  FROM win WHERE rk = 1
)"""
    o["flow_direction"] = f"""
WITH {_fd_core}
SELECT gx, gy, v_fp, d8, drop_fp FROM dirs
"""

    _d8_step = " ".join(
        f"WHEN {code} THEN {dx}" for dx, dy, code, _ in _D8T
    )
    _d8_step_y = " ".join(
        f"WHEN {code} THEN {dy}" for dx, dy, code, _ in _D8T
    )
    o["flow_accumulation"] = f"""
WITH RECURSIVE {_fd_core},
edges AS (
  SELECT gx, gy,
         gx + CASE d8 {_d8_step} END AS tx,
         gy + CASE d8 {_d8_step_y} END AS ty
  FROM dirs WHERE d8 > 0
),
reach AS (
  SELECT gx AS src_gx, gy AS src_gy, tx AS gx, ty AS gy FROM edges
  UNION ALL
  SELECT r.src_gx, r.src_gy, e.tx, e.ty
  FROM reach r JOIN edges e ON e.gx = r.gx AND e.gy = r.gy
),
ups AS (
  SELECT gx, gy, CAST(count(*) AS BIGINT) AS n_up
  FROM reach GROUP BY 1, 2
)
SELECT d.gx, d.gy,
       CAST(1 + coalesce(u.n_up, 0) AS BIGINT) AS acc
FROM dirs d LEFT JOIN ups u USING (gx, gy)
"""

    o["watershed"] = f"""
WITH RECURSIVE {_fd_core},
edges AS (
  SELECT gx, gy,
         gx + CASE d8 {_d8_step} END AS tx,
         gy + CASE d8 {_d8_step_y} END AS ty
  FROM dirs WHERE d8 > 0
),
walk AS (
  SELECT gx AS src_gx, gy AS src_gy, tx AS gx, ty AS gy FROM edges
  UNION ALL
  SELECT r.src_gx, r.src_gy, e.tx, e.ty
  FROM walk r JOIN edges e ON e.gx = r.gx AND e.gy = r.gy
),
outs AS (
  SELECT src_gx, src_gy, gx AS out_gx, gy AS out_gy
  FROM walk t
  WHERE NOT EXISTS (SELECT 1 FROM edges e
                    WHERE e.gx = t.gx AND e.gy = t.gy)
)
SELECT d.gx, d.gy,
       CAST(coalesce(o.out_gx, d.gx) AS BIGINT) AS out_gx,
       CAST(coalesce(o.out_gy, d.gy) AS BIGINT) AS out_gy
FROM dirs d LEFT JOIN outs o
  ON o.src_gx = d.gx AND o.src_gy = d.gy
"""

    # region_group: same lattice, sign-safe banding, undirected
    # same-class adjacency, transitive closure by recursive CTE,
    # label = min packed pixel id (self when isolated)
    _rg_q = 2_000_000_000_000
    o["region_group"] = f"""
WITH RECURSIVE {_ras_pix},
rg AS (
  SELECT gx, gy, v_fp,
         (v_fp - ((v_fp % {_rg_q} + {_rg_q}) % {_rg_q})) // {_rg_q}
           AS vq,
         (gx << 32) + gy AS nid
  FROM pix
),
redges AS (
  SELECT a.nid AS na, b.nid AS nb
  FROM rg a JOIN rg b
    ON b.vq = a.vq
   AND ((b.gx = a.gx + 1 AND b.gy = a.gy)
     OR (b.gx = a.gx AND b.gy = a.gy + 1))
),
bedges AS (
  SELECT na, nb FROM redges
  UNION ALL
  SELECT nb AS na, na AS nb FROM redges
),
walk AS (
  SELECT na AS src, nb AS reach FROM bedges
  UNION
  SELECT w.src, e.nb FROM walk w JOIN bedges e ON e.na = w.reach
),
lab AS (SELECT src, min(reach) AS canon FROM walk GROUP BY src)
SELECT r.gx, r.gy, r.v_fp, r.vq,
       CAST(least(coalesce(l.canon, r.nid), r.nid) AS BIGINT)
         AS region,
       region // 4294967296 AS rx,
       region % 4294967296 AS ry
FROM rg r LEFT JOIN lab l ON l.src = r.nid
"""

    # pagerank: 6 unrolled integer rounds via the shared update form
    from geomesa_spark.operators.graph import PR_RANK_SQL as _PR_RANK

    _pr_scale = 1_000_000_000
    _pr_t = _pr_scale * 15 // 100
    _pr_rounds = "\n".join(
        f"""r{i} AS MATERIALIZED (
  SELECT n.node,
         CAST({_pr_t} + (85 * coalesce(c.s, 0)) // 100 AS BIGINT)
           AS r
  FROM pr_nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(r.r // e.od) AS s
    FROM pr_ew e JOIN r{i - 1} r ON r.node = e.src
    GROUP BY e.dst
  ) c ON c.node = n.node
),"""
        for i in range(1, 7)
    )
    o["pagerank"] = f"""
WITH el AS (
  SELECT DISTINCT event_id % 997 AS src,
         (event_id // 997 * 131 + event_id * 31) % 997 AS dst
  FROM events
),
pr_nodes AS (
  SELECT src AS node FROM el UNION SELECT dst FROM el
),
pr_deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS od FROM el GROUP BY src
),
pr_ew AS (
  SELECT e.src, e.dst, d.od FROM el e JOIN pr_deg d USING (src)
),
r0 AS MATERIALIZED (
  SELECT node, CAST({_pr_scale} AS BIGINT) AS r FROM pr_nodes
),
{_pr_rounds}
fin AS (SELECT node, r FROM r6)
SELECT node, r AS rank_fp,
       {_PR_RANK.format(r="r", scale=repr(float(_pr_scale)))} AS rank
FROM fin
"""

    # link_predict: brute set-intersection oracle over the adjacency
    from geomesa_spark.operators.graph import (
        JACCARD_SQL as _LP_J,
    )

    o["link_predict"] = f"""
WITH el AS (
  SELECT event_id % 997 AS src,
         (event_id // 997 * 131 + event_id * 31) % 997 AS dst
  FROM events
),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM el WHERE src <> dst
),
adj AS (
  SELECT a AS n0, b AS nb FROM und
  UNION ALL
  SELECT b AS n0, a AS nb FROM und
),
dg AS (
  SELECT n0, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY n0
),
cand AS (
  SELECT DISTINCT event_id % 997 AS u,
         (event_id // 997 * 17 + event_id * 13 + 5) % 997 AS v
  FROM events
  WHERE event_id % 997
        <> (event_id // 997 * 17 + event_id * 13 + 5) % 997
),
cnc AS (
  SELECT c.u, c.v, CAST(count(*) AS BIGINT) AS cn
  FROM cand c
  JOIN adj x ON x.n0 = c.u
  JOIN adj y ON y.n0 = c.v AND y.nb = x.nb
  GROUP BY c.u, c.v
)
SELECT c.u, c.v,
       CAST(coalesce(n.cn, 0) AS BIGINT) AS cn,
       du.d AS deg_u, dv.d AS deg_v,
       {_LP_J.format(du="du.d", dv="dv.d", cn="coalesce(n.cn, 0)")}
         AS jaccard
FROM cand c
LEFT JOIN cnc n ON n.u = c.u AND n.v = c.v
LEFT JOIN dg du ON du.n0 = c.u
LEFT JOIN dg dv ON dv.n0 = c.v
"""

    # hits: 4 unrolled double-step rounds + max-normalized emission
    from geomesa_spark.operators.graph import (
        HITS_NORM_SQL as _HITS_N,
    )

    _hits_rounds = "\n".join(
        f"""ha{i} AS MATERIALIZED (
  SELECT n.node, CAST(coalesce(c.s, 0) AS BIGINT) AS a
  FROM pr_nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(h.h) AS s
    FROM hel e JOIN hh{i - 1} h ON h.node = e.src
    GROUP BY e.dst
  ) c ON c.node = n.node
),
hh{i} AS MATERIALIZED (
  SELECT n.node, CAST(coalesce(c.s, 0) AS BIGINT) AS h
  FROM pr_nodes n LEFT JOIN (
    SELECT e.src AS node, sum(a.a) AS s
    FROM hel e JOIN ha{i} a ON a.node = e.dst
    GROUP BY e.src
  ) c ON c.node = n.node
),"""
        for i in range(1, 5)
    )
    o["hits"] = f"""
WITH hel AS (
  SELECT DISTINCT event_id % 997 AS src,
         (event_id // 997 * 131 + event_id * 31) % 997 AS dst
  FROM events
  WHERE event_id % 997
        <> (event_id // 997 * 131 + event_id * 31) % 997
),
pr_nodes AS (
  SELECT src AS node FROM hel UNION SELECT dst FROM hel
),
hh0 AS MATERIALIZED (
  SELECT node, CAST(1 AS BIGINT) AS h FROM pr_nodes
),
{_hits_rounds}
hmx AS (
  SELECT (SELECT max(a) FROM ha4) AS ma,
         (SELECT max(h) FROM hh4) AS mh
)
SELECT a.node, a.a AS auth_fp, h.h AS hub_fp,
       {_HITS_N.format(x="a.a", mx="m.ma")} AS authority,
       {_HITS_N.format(x="h.h", mx="m.mh")} AS hub
FROM ha4 a JOIN hh4 h ON h.node = a.node, hmx m
"""

    # wcc: recursive-CTE transitive closure, label = min reachable
    # id (self when isolated — but every node here has an edge)
    o["wcc"] = """
WITH RECURSIVE wel AS (
  SELECT DISTINCT src, dst FROM (
    SELECT event_id % 30011 AS src,
           (event_id // 30011 * 131 + event_id * 31) % 30011 AS dst
    FROM events
  ) WHERE src <> dst
),
bed AS (
  SELECT src AS a, dst AS b FROM wel
  UNION ALL
  SELECT dst AS a, src AS b FROM wel
),
walk AS (
  SELECT a AS src, b AS reach FROM bed
  UNION
  SELECT w.src, e.b FROM walk w JOIN bed e ON e.a = w.reach
),
lab AS (SELECT src, min(reach) AS canon FROM walk GROUP BY src),
nodes AS (SELECT DISTINCT a AS node FROM bed)
SELECT n.node AS doc,
       CAST(least(coalesce(l.canon, n.node), n.node) AS BIGINT)
         AS canon
FROM nodes n LEFT JOIN lab l ON l.src = n.node
"""

    # trustrank: the pagerank rounds with the seed CASE (node % 10
    # = 0) in the start vector and teleport term
    _tr_rounds = "\n".join(
        f"""t{i} AS MATERIALIZED (
  SELECT n.node,
         CAST(CASE WHEN n.node % 10 = 0 THEN {_pr_t} ELSE 0 END
              + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS r
  FROM pr_nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(r.r // e.od) AS s
    FROM pr_ew e JOIN t{i - 1} r ON r.node = e.src
    GROUP BY e.dst
  ) c ON c.node = n.node
),"""
        for i in range(1, 7)
    )
    o["trustrank"] = f"""
WITH el AS (
  SELECT DISTINCT event_id % 997 AS src,
         (event_id // 997 * 131 + event_id * 31) % 997 AS dst
  FROM events
),
pr_nodes AS (
  SELECT src AS node FROM el UNION SELECT dst FROM el
),
pr_deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS od FROM el GROUP BY src
),
pr_ew AS (
  SELECT e.src, e.dst, d.od FROM el e JOIN pr_deg d USING (src)
),
t0 AS MATERIALIZED (
  SELECT node,
         CAST(CASE WHEN node % 10 = 0 THEN {_pr_scale} ELSE 0 END
              AS BIGINT) AS r
  FROM pr_nodes
),
{_tr_rounds}
fin AS (SELECT node, r FROM t6)
SELECT node, r AS rank_fp,
       {_PR_RANK.format(r="r", scale=repr(float(_pr_scale)))} AS rank
FROM fin
"""

    # triangles: brute neighbor-pair + closing-edge oracle (no
    # orientation trick — independence from the engine's shape);
    # clustering via the shared string
    from geomesa_spark.operators.graph import (
        CLUSTERING_SQL as _TRI_C,
    )

    o["triangles"] = f"""
WITH el AS (
  SELECT event_id % 997 AS src,
         (event_id // 997 * 131 + event_id * 31) % 997 AS dst
  FROM events
),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM el WHERE src <> dst
),
adj AS (
  SELECT a AS v, b AS n FROM und
  UNION ALL
  SELECT b AS v, a AS n FROM und
),
deg AS (
  SELECT v AS node, CAST(count(*) AS BIGINT) AS degree
  FROM adj GROUP BY v
),
tric AS (
  SELECT x.v AS node, CAST(count(*) AS BIGINT) AS t
  FROM adj x
  JOIN adj y ON y.v = x.v AND x.n < y.n
  JOIN und e ON e.a = x.n AND e.b = y.n
  GROUP BY x.v
)
SELECT d.node, d.degree,
       CAST(coalesce(t.t, 0) AS BIGINT) AS triangles,
       {_TRI_C.format(d="d.degree", t="coalesce(t.t, 0)")}
         AS clustering
FROM deg d LEFT JOIN tric t ON t.node = d.node
"""

    # k_core: 8 unrolled synchronous peel stages (keep = degree >= k
    # among survivors, then both-endpoint filter)
    _kc_stages = "\n".join(
        f"""keep{i} AS MATERIALIZED (
  SELECT node FROM (
    SELECT a AS node FROM s{i - 1}
    UNION ALL
    SELECT b AS node FROM s{i - 1}
  ) GROUP BY node HAVING count(*) >= 19
),
s{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM s{i - 1} e
  JOIN keep{i} ka ON ka.node = e.a
  JOIN keep{i} kb ON kb.node = e.b
),"""
        for i in range(1, 9)
    )
    o["k_core"] = f"""
WITH s0 AS MATERIALIZED (
  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM (
    SELECT event_id % 997 AS s,
           (event_id // 997 * 131 + event_id * 31) % 997 AS d
    FROM events
    UNION ALL
    SELECT event_id % 23 AS s, (event_id // 253) % 23 AS d
    FROM events WHERE event_id % 11 = 0
  ) WHERE s <> d
),
{_kc_stages}
fin AS (SELECT a, b FROM s8)
SELECT a, b FROM fin
"""

    # cost_distance: 16 unrolled Bellman-Ford stages.  (dist, src)
    # packs into ONE int64 (dist * 2^35 + node: node < 2^35 on the
    # 8x8 lattice, dist < 2^28 at oracle scale) so each stage is a
    # single MIN group-by — the lexicographic (dist, src) min the
    # engine's min-struct computes.  Node ids are gx * 2^32 + gy,
    # verbatim the engine's grid_node packing.
    _cd_pack = 34359738368  # 2^35
    # MATERIALIZED: each stage references its predecessor twice, and
    # DuckDB inlines plain CTEs — 16 stages would expand to 2^16
    # scans of the base table without it
    _cd_relax = "\n".join(
        f"""d{i} AS MATERIALIZED (
  SELECT node, MIN(p) AS p FROM (
    SELECT node, p FROM d{i - 1}
    UNION ALL
    SELECT e.dst AS node,
           (d.p // {_cd_pack} + e.w) * {_cd_pack} + d.p % {_cd_pack} AS p
    FROM d{i - 1} d JOIN cd_edges e ON e.src = d.node
  ) GROUP BY node
),"""
        for i in range(1, 17)
    )
    o["cost_distance"] = f"""
WITH tp AS (
  SELECT (event_id*9973 % 36000)/100.0 - 180.0 AS lon,
         (event_id*7919 % 18000)/100.0 - 90.0 AS lat
  FROM events
),
cd_cells AS (
  SELECT CAST(greatest(0, least(7, floor((lon+180.0)/360.0*8.0))) AS BIGINT) AS gx,
         CAST(greatest(0, least(7, floor((lat+90.0)/180.0*8.0))) AS BIGINT) AS gy,
         CAST(count(*) AS BIGINT) AS cost
  FROM tp GROUP BY 1, 2
),
cd_edges AS (
  SELECT a.gx*4294967296 + a.gy AS src,
         b.gx*4294967296 + b.gy AS dst,
         b.cost AS w
  FROM cd_cells a JOIN cd_cells b
    ON abs(a.gx - b.gx) + abs(a.gy - b.gy) = 1
),
d0 AS (
  SELECT gx*4294967296 + gy AS node,
         CAST(0 AS BIGINT) * {_cd_pack} + gx*4294967296 + gy AS p
  FROM cd_cells WHERE gx = 0
),
{_cd_relax}
fin AS (SELECT node, p FROM d16)
SELECT node // 4294967296 AS gx,
       node % 4294967296 AS gy,
       p // {_cd_pack} AS dist,
       (p % {_cd_pack}) // 4294967296 AS src_gx,
       (p % {_cd_pack}) % 4294967296 AS src_gy
FROM fin
"""

    # route_paths: CONVERGED relaxation (66 unrolled stages — past
    # the 64-node hop diameter plus tie settling) over packed
    # (dist, src6, par6) = dist*4096 + src6*64 + par6, node6 =
    # gx*8+gy (monotone with the engine's gx*2^32+gy ids, so the
    # lexicographic mins agree), then a recursive-CTE parent walk
    # from the east column.  The min-accumulation over ALL-node
    # offers per stage equals the engine's frontier-only offers:
    # repeat offers are idempotent under min.
    _rp_relax = "\n".join(
        f"""r{i} AS MATERIALIZED (
  SELECT node, MIN(p) AS p FROM (
    SELECT node, p FROM r{i - 1}
    UNION ALL
    SELECT e.dst AS node,
           (d.p // 4096 + e.w) * 4096
             + ((d.p % 4096) // 64) * 64 + e.src AS p
    FROM r{i - 1} d JOIN rp_edges e ON e.src = d.node
  ) GROUP BY node
),"""
        for i in range(1, 67)
    )
    o["route_paths"] = f"""
WITH RECURSIVE tp AS (
  SELECT (event_id*9973 % 36000)/100.0 - 180.0 AS lon,
         (event_id*7919 % 18000)/100.0 - 90.0 AS lat
  FROM events
),
rp_cells AS (
  SELECT CAST(greatest(0, least(7, floor((lon+180.0)/360.0*8.0))) AS BIGINT) AS gx,
         CAST(greatest(0, least(7, floor((lat+90.0)/180.0*8.0))) AS BIGINT) AS gy,
         CAST(count(*) AS BIGINT) AS cost
  FROM tp GROUP BY 1, 2
),
rp_edges AS (
  SELECT a.gx*8 + a.gy AS src,
         b.gx*8 + b.gy AS dst,
         b.cost AS w
  FROM rp_cells a JOIN rp_cells b
    ON abs(a.gx - b.gx) + abs(a.gy - b.gy) = 1
),
r0 AS (
  SELECT gx*8 + gy AS node,
         (gx*8 + gy) * 64 + (gx*8 + gy) AS p
  FROM rp_cells WHERE gx = 0
),
{_rp_relax}
fin AS (SELECT node, p FROM r66),
walk AS (
  SELECT f.node AS tgt, 0 AS seq, f.node AS node
  FROM fin f WHERE f.node // 8 = 7
  UNION ALL
  SELECT w.tgt, w.seq + 1, f.p % 64
  FROM walk w JOIN fin f ON f.node = w.node
  WHERE f.p % 64 <> w.node
)
SELECT tgt // 8 AS tgt_gx, tgt % 8 AS tgt_gy,
       CAST(seq AS BIGINT) AS seq,
       node // 8 AS gx, node % 8 AS gy
FROM walk
"""

    # spatial_split: clamp/floor grid at bits=4, spread interleave,
    # the portable md5 block bucket — all verbatim
    _ss_q = (
        "SELECT event_id, "
        "CAST(least(15, greatest(0, floor((lon+180.0)/360.0*16.0)))"
        " AS BIGINT) AS x, "
        "CAST(least(15, greatest(0, floor((lat+90.0)/180.0*16.0)))"
        " AS BIGINT) AS y "
        f"FROM (SELECT event_id, {_BLOB_LON} AS lon, {_BLOB_LAT} AS lat"
        " FROM events)"
    )
    for _sh, _mk in C._SPREAD2:
        _pre = _mk >> _sh
        _ss_q = (
            "SELECT event_id, "
            f"(((x | ((x & {_pre}) << {_sh})) & {_mk})) AS x, "
            f"(((y | ((y & {_pre}) << {_sh})) & {_mk})) AS y "
            f"FROM ({_ss_q})"
        )
    o["spatial_split"] = f"""
WITH cells AS (
  SELECT event_id, (x | (y << 1)) AS split_block FROM ({_ss_q})
)
SELECT event_id, split_block,
       (CAST(('0x' || substr(md5('spatial-split'
            || CAST(split_block AS VARCHAR)), 1, 8)) AS BIGINT)
        % 1000000) < 300000 AS is_test
FROM cells
"""

    # areal_interp: full bits=5 grid (a superset of the engine's
    # bbox candidates — membership needs the center inside the
    # polygon, which lies inside its bbox), the same zone
    # conditions the zonal gates use, one integer division per
    # zone, int64 per-cell totals
    from geomesa_spark.operators.interp import (
        AREAL_VALUE_SQL as _AREAL_VAL,
    )

    _ai_q = (
        "SELECT "
        "(CAST(gx.k AS DOUBLE)+0.5)/32.0*360.0-180.0 AS lon, "
        "(CAST(gy.k AS DOUBLE)+0.5)/32.0*180.0-90.0 AS lat, "
        "CAST(gx.k AS BIGINT) AS x, CAST(gy.k AS BIGINT) AS y "
        "FROM UNNEST(generate_series(0, 31)) gx(k), "
        "UNNEST(generate_series(0, 31)) gy(k)"
    )
    for _sh, _mk in C._SPREAD2:
        _pre = _mk >> _sh
        _ai_q = (
            "SELECT lon, lat, "
            f"(((x | ((x & {_pre}) << {_sh})) & {_mk})) AS x, "
            f"(((y | ((y & {_pre}) << {_sh})) & {_mk})) AS y "
            f"FROM ({_ai_q})"
        )
    o["areal_interp"] = f"""
WITH cells AS (
  SELECT (x | (y << 1)) AS cell, lon, lat FROM ({_ai_q})
),
inside AS (
  SELECT 'rect' AS zid, cell FROM cells WHERE {rect_cond}
  UNION ALL SELECT 'tri', cell FROM cells WHERE {_convex_cond(TRIANGLE)}
  UNION ALL SELECT 'pent', cell FROM cells WHERE {_convex_cond(PENTAGON)}
),
counts AS (
  SELECT zid, CAST(count(*) AS BIGINT) AS n_cells FROM inside GROUP BY 1
),
vals(zid, v_fp) AS (VALUES
  ('rect', CAST(1000000000 AS BIGINT)),
  ('tri', CAST(500500000 AS BIGINT)),
  ('pent', CAST(250250000 AS BIGINT))
),
shares AS (
  SELECT cell, v_fp // n_cells AS share_fp
  FROM inside JOIN counts USING (zid) JOIN vals USING (zid)
)
SELECT cell, CAST(sum(share_fp) AS BIGINT) AS total_fp,
       {_AREAL_VAL.format(S="total_fp", fp=1_000_000)} AS value
FROM shares GROUP BY cell
"""

    # dbscan: quadratic pair mining with a bbox prefilter (fine
    # single-threaded at sf0.01), core test (min_pts=4 incl. self),
    # transitive closure for core components, min-label border attach
    o["dbscan"] = f"""
WITH RECURSIVE pts AS (
  SELECT event_id AS id, {_BLOB_LON} AS lon, {_BLOB_LAT} AS lat
  FROM events
),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM pts a JOIN pts b
    ON a.id < b.id
   AND b.lat BETWEEN a.lat - 0.02 AND a.lat + 0.02
   AND b.lon BETWEEN a.lon - 0.02 AND a.lon + 0.02
  WHERE (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat)
        <= 0.02 * 0.02
),
nbrs AS (
  SELECT id_a AS id, id_b AS nb FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
core AS (
  SELECT id FROM nbrs GROUP BY id HAVING count(*) + 1 >= 4
),
ce AS (
  SELECT id_a, id_b FROM pairs
  WHERE id_a IN (SELECT id FROM core) AND id_b IN (SELECT id FROM core)
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM ce
  UNION SELECT id_b, id_a FROM ce
),
reach AS (
  SELECT id AS doc, id AS other FROM core
  UNION
  SELECT r.doc, e.d FROM reach r JOIN edges e ON e.s = r.other
),
canon AS (SELECT doc AS id, min(other) AS cluster FROM reach GROUP BY doc)
SELECT id, cluster, 1 AS is_core FROM canon
UNION ALL
SELECT n.id, min(c.cluster) AS cluster, 0 AS is_core
FROM nbrs n JOIN canon c ON c.id = n.nb
WHERE n.id NOT IN (SELECT id FROM core)
GROUP BY n.id
"""

    # st_dbscan: the dbscan chain with the two-eps (spatial AND
    # temporal) neighborhood predicate and min_pts=3
    o["st_dbscan"] = f"""
WITH RECURSIVE pts AS (
  SELECT event_id AS id, {_BLOB_LON} AS lon, {_BLOB_LAT} AS lat,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM pts a JOIN pts b
    ON a.id < b.id
   AND b.lat BETWEEN a.lat - 0.02 AND a.lat + 0.02
   AND b.lon BETWEEN a.lon - 0.02 AND a.lon + 0.02
  WHERE (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat)
        <= 0.02 * 0.02
    AND abs(a.es - b.es) <= 604800
),
nbrs AS (
  SELECT id_a AS id, id_b AS nb FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
core AS (
  SELECT id FROM nbrs GROUP BY id HAVING count(*) + 1 >= 3
),
ce AS (
  SELECT id_a, id_b FROM pairs
  WHERE id_a IN (SELECT id FROM core) AND id_b IN (SELECT id FROM core)
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM ce
  UNION SELECT id_b, id_a FROM ce
),
reach AS (
  SELECT id AS doc, id AS other FROM core
  UNION
  SELECT r.doc, e.d FROM reach r JOIN edges e ON e.s = r.other
),
canon AS (SELECT doc AS id, min(other) AS cluster FROM reach GROUP BY doc)
SELECT id, cluster, 1 AS is_core FROM canon
UNION ALL
SELECT n.id, min(c.cluster) AS cluster, 0 AS is_core
FROM nbrs n JOIN canon c ON c.id = n.nb
WHERE n.id NOT IN (SELECT id FROM core)
GROUP BY n.id
"""

    # track_resample: segments own ticks in (es, nes]; the first
    # point owns its own tick when grid-aligned; exact-double interp
    RESAMPLE_CTE = f"""mp AS (
  SELECT event_id, user_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
pts AS (
  SELECT event_id, user_id, ts, es,
         {_COOC_LON} AS lon, {_COOC_LAT} AS lat
  FROM mp
),
seg AS (
  SELECT user_id, es, lon, lat,
         row_number() OVER w AS seq,
         lead(es) OVER w AS nes,
         lead(lon) OVER w AS nlon, lead(lat) OVER w AS nlat
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
ticks AS (
  SELECT user_id, es, nes, lon, lat, nlon, nlat, u.k
  FROM seg, UNNEST(generate_series(es // 3600 + 1, nes // 3600)) AS u(k)
  WHERE nes IS NOT NULL
  UNION ALL
  SELECT user_id, es, nes, lon, lat, nlon, nlat, es // 3600
  FROM seg WHERE seq = 1 AND es % 3600 = 0
),
rs AS (
  SELECT user_id AS track,
         CAST(k * 3600 AS BIGINT) AS tick_ts,
         CASE WHEN k * 3600 = es THEN lon
              ELSE {_lon_interp_sql(
                  "lon", "nlon",
                  "CAST(k*3600 - es AS DOUBLE) / CAST(nes - es AS DOUBLE)",
              )}
         END AS lon,
         CASE WHEN k * 3600 = es THEN lat
              ELSE lat + (nlat - lat)
                   * (CAST(k*3600 - es AS DOUBLE) / CAST(nes - es AS DOUBLE))
         END AS lat
  FROM ticks
)"""

    o["track_resample"] = f"""
WITH {RESAMPLE_CTE}
SELECT track, tick_ts, lon, lat FROM rs
"""

    # co_travel: per-tick eps self-join over the resampled grid,
    # count aggregate with the min_shared threshold
    o["co_travel"] = f"""
WITH {RESAMPLE_CTE}
SELECT a.track AS track_a, b.track AS track_b,
       CAST(count(*) AS BIGINT) AS n_shared,
       CAST(min(a.tick_ts) AS BIGINT) AS first_ts,
       CAST(max(a.tick_ts) AS BIGINT) AS last_ts
FROM rs a JOIN rs b
  ON a.tick_ts = b.tick_ts
 AND a.track < b.track
 AND b.lat BETWEEN a.lat - 0.5 AND a.lat + 0.5
WHERE (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat) <= 0.25
GROUP BY 1, 2
HAVING count(*) >= 200
"""

    # hausdorff: co_travel pairs (as a CTE) x 12-hourly resample
    # sample; per-(pair, side, probe) min over exact planar d2, pair
    # max, one final sqrt
    o["hausdorff"] = f"""
WITH {RESAMPLE_CTE},
sub AS (SELECT track, lon, lat FROM rs WHERE tick_ts % 43200 = 0),
ct AS (
  SELECT a.track AS track_a, b.track AS track_b
  FROM rs a JOIN rs b
    ON a.tick_ts = b.tick_ts
   AND a.track < b.track
   AND b.lat BETWEEN a.lat - 0.5 AND a.lat + 0.5
  WHERE (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat) <= 0.25
  GROUP BY 1, 2
  HAVING count(*) >= 200
),
inner_min AS (
  SELECT p.track_a, p.track_b, 0 AS side, a.lon AS px, a.lat AS py,
         min((a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat))
           AS md
  FROM ct p
  JOIN sub a ON a.track = p.track_a
  JOIN sub b ON b.track = p.track_b
  GROUP BY 1, 2, 3, 4, 5
  UNION ALL
  SELECT p.track_a, p.track_b, 1, b.lon, b.lat,
         min((a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat))
  FROM ct p
  JOIN sub a ON a.track = p.track_a
  JOIN sub b ON b.track = p.track_b
  GROUP BY 1, 2, 3, 4, 5
)
SELECT track_a, track_b, sqrt(max(md)) AS hausdorff
FROM inner_min GROUP BY 1, 2
"""

    # idw_surface: scatter to the 5x5 neighbor cells, smoothed
    # 1/d^2 integer weights, int64 sums, one final division.
    # cw=5.625, ch=2.8125, h2=cw^2=31.640625 — all exact binary.
    o["idw_surface"] = """
WITH pts AS (
  SELECT (event_id*9973 % 36000)/100.0 - 180.0 AS lon,
         (event_id*7919 % 18000)/100.0 - 90.0 AS lat,
         CAST(floor(value * 1000000.0) AS BIGINT) AS v
  FROM events
),
hx AS (
  SELECT lon, lat, v,
         CAST(greatest(0, least(63, floor((lon+180.0)/360.0*64.0))) AS BIGINT) AS x,
         CAST(greatest(0, least(63, floor((lat+90.0)/180.0*64.0))) AS BIGINT) AS y
  FROM pts
),
sc AS (
  SELECT ((x + dx.k + 64) % 64) AS tx, (y + dy.k) AS ty, lon, lat, v
  FROM hx,
       UNNEST(generate_series(-2, 2)) dx(k),
       UNNEST(generate_series(-2, 2)) dy(k)
  WHERE y + dy.k BETWEEN 0 AND 63
),
wts AS (
  SELECT tx, ty, v,
         CAST(floor(1000000.0 * 31.640625 / (31.640625 + d2)) AS BIGINT) AS w
  FROM (
    SELECT tx, ty, v,
           least(abs(lon - ((tx+0.5)*5.625 - 180.0)),
                 360.0 - abs(lon - ((tx+0.5)*5.625 - 180.0)))
           * least(abs(lon - ((tx+0.5)*5.625 - 180.0)),
                   360.0 - abs(lon - ((tx+0.5)*5.625 - 180.0)))
           + (lat - ((ty+0.5)*2.8125 - 90.0))
           * (lat - ((ty+0.5)*2.8125 - 90.0)) AS d2
    FROM sc
  )
),
agg AS (
  SELECT tx AS x, ty AS y,
         CAST(count(*) AS BIGINT) AS n_samples,
         CAST(sum(w) AS BIGINT) AS den,
         CAST(sum(w * v) AS BIGINT) AS num
  FROM wts GROUP BY 1, 2
)
SELECT x, y, n_samples, den, num,
       CASE WHEN den > 0
            THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS value
FROM agg
"""

    # distance_surface: the idw scatter with a row_number winner —
    # d2 text identical to the engine's IEEE sequence, ties (d2, id)
    o["distance_surface"] = """
WITH pts AS (
  SELECT event_id AS tid,
         (event_id*9973 % 36000)/100.0 - 180.0 AS lon,
         (event_id*7919 % 18000)/100.0 - 90.0 AS lat
  FROM events WHERE event_id % 97 = 0
),
hx AS (
  SELECT tid, lon, lat,
         CAST(greatest(0, least(63, floor((lon+180.0)/360.0*64.0))) AS BIGINT) AS x,
         CAST(greatest(0, least(63, floor((lat+90.0)/180.0*64.0))) AS BIGINT) AS y
  FROM pts
),
sc AS (
  SELECT ((x + dx.k + 64) % 64) AS tx, (y + dy.k) AS ty, tid, lon, lat
  FROM hx,
       UNNEST(generate_series(-2, 2)) dx(k),
       UNNEST(generate_series(-2, 2)) dy(k)
  WHERE y + dy.k BETWEEN 0 AND 63
),
cand AS (
  SELECT tx, ty, tid,
         least(abs(lon - ((tx+0.5)*5.625 - 180.0)),
               360.0 - abs(lon - ((tx+0.5)*5.625 - 180.0)))
         * least(abs(lon - ((tx+0.5)*5.625 - 180.0)),
                 360.0 - abs(lon - ((tx+0.5)*5.625 - 180.0)))
         + (lat - ((ty+0.5)*2.8125 - 90.0))
         * (lat - ((ty+0.5)*2.8125 - 90.0)) AS d2
  FROM sc
),
win AS (
  SELECT tx, ty, tid, d2,
         count(*) OVER (PARTITION BY tx, ty) AS nc,
         row_number() OVER (PARTITION BY tx, ty
                            ORDER BY d2, tid) AS rk
  FROM cand
)
SELECT tx AS x, ty AS y, CAST(nc AS BIGINT) AS n_candidates,
       d2, sqrt(d2) AS dist, tid AS nearest_id
FROM win WHERE rk = 1
"""

    # snap_nearest: the gate-line constants mirrored arithmetically
    # (the WKT round-trip is value-exact: Double.toString is
    # re-parse-exact and string->double casts are correctly rounded),
    # exact planar projection, (d2, gid, seg) total tie order
    o["snap_nearest"] = """
WITH pts AS (
  SELECT event_id,
         (event_id*9973 % 36000)/100.0 - 180.0 AS lon,
         (event_id*7919 % 18000)/100.0 - 90.0 AS lat
  FROM events
),
lx AS (
  SELECT event_id AS gid, lon*0.96 AS x0, lat*0.9 AS y0
  FROM pts WHERE event_id % 50 = 0
),
segs AS (
  SELECT gid, 0 AS seg, x0, y0, x0 + 3.007 AS x1, y0 + 1.003 AS y1 FROM lx
  UNION ALL
  SELECT gid, 1, x0 + 3.007, y0 + 1.003, x0 + 6.014, y0 - 1.003 FROM lx
),
cand AS (
  SELECT p.event_id, s.gid, s.seg,
         CASE WHEN (s.x1-s.x0)*(s.x1-s.x0) + (s.y1-s.y0)*(s.y1-s.y0) > 0
              THEN least(1.0, greatest(0.0,
                   ((p.lon-s.x0)*(s.x1-s.x0) + (p.lat-s.y0)*(s.y1-s.y0))
                   / ((s.x1-s.x0)*(s.x1-s.x0) + (s.y1-s.y0)*(s.y1-s.y0))))
              ELSE 0.0 END AS frac,
         s.x0, s.y0, s.x1, s.y1, p.lon, p.lat
  FROM pts p JOIN segs s
    ON p.lat BETWEEN least(s.y0, s.y1) - 2.0 AND greatest(s.y0, s.y1) + 2.0
   AND p.lon BETWEEN least(s.x0, s.x1) - 2.0 AND greatest(s.x0, s.x1) + 2.0
),
scored AS (
  SELECT event_id, gid, seg, frac,
         x0 + frac*(x1-x0) AS snap_lon,
         y0 + frac*(y1-y0) AS snap_lat,
         (lon - (x0 + frac*(x1-x0))) * (lon - (x0 + frac*(x1-x0)))
         + (lat - (y0 + frac*(y1-y0))) * (lat - (y0 + frac*(y1-y0))) AS dist2
  FROM cand
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_id
                               ORDER BY dist2, gid, seg) AS rn
  FROM scored WHERE dist2 <= 4.0
)
SELECT event_id, gid, seg, dist2, frac, snap_lon, snap_lat
FROM ranked WHERE rn = 1
"""

    # morans_i: integer moments + the shared canonical expressions
    from geomesa_spark.operators.moran import (
        geary_global_expr as _gge,
        moran_global_expr as _mge,
        moran_local_expr as _mle,
    )

    # shared CTE chain: blob lattice -> occupied cells -> queen
    # neighbors -> joined frame (morans_i and geary_c both read it)
    MORAN_J_CTE = """tp AS (
  SELECT (event_id*9973 % 36000)/100.0 - 180.0 AS lon,
         (event_id*7919 % 18000)/100.0 - 90.0 AS lat
  FROM events
),
g AS (
  SELECT CAST(greatest(0, least(63, floor((lon+180.0)/360.0*64.0))) AS BIGINT) AS x,
         CAST(greatest(0, least(63, floor((lat+90.0)/180.0*64.0))) AS BIGINT) AS y,
         CAST(count(*) AS BIGINT) AS w
  FROM tp GROUP BY 1, 2
),
nb AS (
  SELECT ((g.x + dx.k + 64) % 64) AS x, (g.y + dy.k) AS y, g.w
  FROM g,
       UNNEST(generate_series(-1, 1)) dx(k),
       UNNEST(generate_series(-1, 1)) dy(k)
  WHERE NOT (dx.k = 0 AND dy.k = 0)
    AND g.y + dy.k BETWEEN 0 AND 63
),
nbr AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS nbr_n,
         CAST(sum(w) AS BIGINT) AS nbr_sum
  FROM nb GROUP BY 1, 2
),
j AS (
  SELECT g.x, g.y, g.w,
         COALESCE(nbr.nbr_n, 0) AS nbr_n,
         COALESCE(nbr.nbr_sum, 0) AS nbr_sum
  FROM g LEFT JOIN nbr USING (x, y)
)"""

    from geomesa_spark.operators.moran import jc_exprs as _jce

    _jc_mu, _jc_var, _jc_z = _jce()
    o["join_counts"] = f"""
WITH pts AS (
  SELECT {_BLOB_LON} AS lon, {_BLOB_LAT} AS lat, event_type AS cat
  FROM events
),
per AS (
  SELECT CAST(greatest(0, least(63, floor((lon+180.0)/360.0*64.0))) AS BIGINT) AS x,
         CAST(greatest(0, least(63, floor((lat+90.0)/180.0*64.0))) AS BIGINT) AS y,
         cat, CAST(count(*) AS BIGINT) AS cnt
  FROM pts GROUP BY 1, 2, 3
),
mx AS (SELECT x, y, max(cnt) AS mc FROM per GROUP BY 1, 2),
labeled AS (
  SELECT per.x, per.y, max(per.cat) AS label
  FROM per JOIN mx ON per.x = mx.x AND per.y = mx.y AND per.cnt = mx.mc
  GROUP BY 1, 2
),
ed AS (
  SELECT l.x AS ox, l.y AS oy, l.label AS label_a,
         ((l.x + d.dx + 64) % 64) AS x, (l.y + d.dy) AS y
  FROM labeled l,
       (SELECT dx.k AS dx, dy.k AS dy
        FROM UNNEST(generate_series(-1, 1)) dx(k),
             UNNEST(generate_series(-1, 1)) dy(k)
        WHERE dx.k > 0 OR (dx.k = 0 AND dy.k > 0)) d
  WHERE l.y + d.dy BETWEEN 0 AND 63
),
edj AS (
  SELECT ed.ox, ed.oy, ed.label_a, ed.x, ed.y, l2.label AS label_b
  FROM ed JOIN labeled l2 ON ed.x = l2.x AND ed.y = l2.y
),
ends AS (
  SELECT x AS kx, y AS ky FROM edj
  UNION ALL SELECT ox, oy FROM edj
),
degs AS (SELECT kx, ky, CAST(count(*) AS BIGINT) AS k
         FROM ends GROUP BY 1, 2),
gstats AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM labeled) AS n_cells,
         (SELECT CAST(count(*) AS BIGINT) FROM edj) AS n_edges,
         (SELECT CAST(coalesce(sum(k*k), 0) AS BIGINT) FROM degs) AS sum_k2
),
sizes AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_label
  FROM labeled GROUP BY 1
),
same AS (
  SELECT label_a AS label, CAST(count(*) AS BIGINT) AS j_same
  FROM edj WHERE label_a = label_b GROUP BY 1
),
base AS (
  SELECT sizes.label, sizes.n_label,
         CAST(coalesce(same.j_same, 0) AS BIGINT) AS j_same,
         gstats.n_cells, gstats.n_edges, gstats.sum_k2
  FROM sizes LEFT JOIN same USING (label) CROSS JOIN gstats
)
SELECT label, n_label, j_same, n_cells, n_edges, sum_k2,
       {_jc_mu} AS expected_j,
       {_jc_var} AS var_j,
       {_jc_z} AS z
FROM base
"""

    o["geary_c"] = f"""
WITH {MORAN_J_CTE},
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(nbr_n) AS BIGINT) AS s0,
         CAST(sum(w) AS BIGINT) AS sum_w,
         CAST(sum(w*w) AS BIGINT) AS sum_q,
         CAST(sum(w*nbr_sum) AS BIGINT) AS sum_a,
         CAST(sum(w*w*nbr_n) AS BIGINT) AS sum_g1
  FROM j
)
SELECT n_cells, s0, sum_w, sum_q, sum_a, sum_g1,
       {_gge()} AS geary_c
FROM st
"""

    o["morans_i"] = f"""
WITH tp AS (
  SELECT (event_id*9973 % 36000)/100.0 - 180.0 AS lon,
         (event_id*7919 % 18000)/100.0 - 90.0 AS lat
  FROM events
),
g AS (
  SELECT CAST(greatest(0, least(63, floor((lon+180.0)/360.0*64.0))) AS BIGINT) AS x,
         CAST(greatest(0, least(63, floor((lat+90.0)/180.0*64.0))) AS BIGINT) AS y,
         CAST(count(*) AS BIGINT) AS w
  FROM tp GROUP BY 1, 2
),
nb AS (
  SELECT ((g.x + dx.k + 64) % 64) AS x, (g.y + dy.k) AS y, g.w
  FROM g,
       UNNEST(generate_series(-1, 1)) dx(k),
       UNNEST(generate_series(-1, 1)) dy(k)
  WHERE NOT (dx.k = 0 AND dy.k = 0)
    AND g.y + dy.k BETWEEN 0 AND 63
),
nbr AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS nbr_n,
         CAST(sum(w) AS BIGINT) AS nbr_sum
  FROM nb GROUP BY 1, 2
),
j AS (
  SELECT g.x, g.y, g.w,
         COALESCE(nbr.nbr_n, 0) AS nbr_n,
         COALESCE(nbr.nbr_sum, 0) AS nbr_sum
  FROM g LEFT JOIN nbr USING (x, y)
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(w) AS BIGINT) AS sum_w,
         CAST(sum(w*w) AS BIGINT) AS sum_q,
         CAST(sum(nbr_n) AS BIGINT) AS s0,
         CAST(sum(w*nbr_n) AS BIGINT) AS sum_b,
         CAST(sum(nbr_sum) AS BIGINT) AS sum_c,
         CAST(sum(w*nbr_sum) AS BIGINT) AS sum_a
  FROM j
)
SELECT j.x, j.y, j.w, j.nbr_n, j.nbr_sum,
       {_mle(x="j.w", S="j.nbr_sum", n="j.nbr_n")} AS local_i,
       {_mge()} AS global_i,
       st.s0, st.n_cells
FROM j, st
"""

    # tile_pyramid: full-res Z2 (the z_encode SQL), parent at 8 bits,
    # then the ancestor explode over AGGREGATED cells
    o["tile_pyramid"] = f"""
WITH {PTS_CTE},
z2 AS ({_z2_cell_sql()}),
fine AS (
  SELECT (z2.cell >> 26) AS cell,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(p.value * 1000000.0) AS BIGINT)) AS BIGINT) AS w
  FROM z2 JOIN pts p USING (event_id)
  GROUP BY 1
)
SELECT CAST(b.k AS INT) AS bits,
       (fine.cell >> (2 * (8 - b.k))) AS cell,
       CAST(sum(n) AS BIGINT) AS n,
       CAST(sum(w) AS BIGINT) AS w
FROM fine, UNNEST(generate_series(0, 8)) b(k)
GROUP BY 1, 2
"""

    from geomesa_spark.operators.hotspot import gi_star_expr as _gi_expr

    o["hotspot"] = f"""
WITH tp AS (
  SELECT (event_id*9973 % 36000)/100.0 - 180.0 AS lon,
         (event_id*7919 % 18000)/100.0 - 90.0 AS lat
  FROM events
),
g AS (
  SELECT CAST(greatest(0, least(63, floor((lon+180.0)/360.0*64.0))) AS BIGINT) AS x,
         CAST(greatest(0, least(63, floor((lat+90.0)/180.0*64.0))) AS BIGINT) AS y
  FROM tp
),
cells AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS w FROM g GROUP BY x, y
),
offs AS (
  SELECT a.dx, b.dy FROM (VALUES (-1),(0),(1)) a(dx), (VALUES (-1),(0),(1)) b(dy)
),
contrib AS (
  SELECT ((x + dx) % 64 + 64) % 64 AS tx, y + dy AS ty, w
  FROM cells, offs WHERE y + dy BETWEEN 0 AND 63
),
nbr AS (
  SELECT tx AS x, ty AS y, CAST(count(*) AS BIGINT) AS nbr_n,
         CAST(sum(w) AS BIGINT) AS nbr_sum
  FROM contrib GROUP BY tx, ty
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(w) AS BIGINT) AS sum_w,
         CAST(sum(w*w) AS BIGINT) AS sum_q
  FROM cells
)
SELECT c.x, c.y, c.w, nbr_n, nbr_sum,
       {_gi_expr()} AS gi_star
FROM cells c JOIN nbr USING (x, y), st
"""

    o["hotspot_st"] = f"""
WITH tp AS (
  SELECT (event_id*9973 % 36000)/100.0 - 180.0 AS lon,
         (event_id*7919 % 18000)/100.0 - 90.0 AS lat,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
g AS (
  SELECT CAST(greatest(0, least(63, floor((lon+180.0)/360.0*64.0))) AS BIGINT) AS x,
         CAST(greatest(0, least(63, floor((lat+90.0)/180.0*64.0))) AS BIGINT) AS y,
         CAST(floor(CAST(es AS DOUBLE) / 86400.0) AS BIGINT) AS tb
  FROM tp
),
cells AS (
  SELECT x, y, tb, CAST(count(*) AS BIGINT) AS w FROM g GROUP BY x, y, tb
),
offs AS (
  SELECT a.dx, b.dy, c.dt
  FROM (VALUES (-1),(0),(1)) a(dx), (VALUES (-1),(0),(1)) b(dy),
       (VALUES (-1),(0),(1)) c(dt)
),
contrib AS (
  SELECT ((x + dx) % 64 + 64) % 64 AS tx, y + dy AS ty, tb + dt AS tt, w
  FROM cells, offs WHERE y + dy BETWEEN 0 AND 63
),
nbr AS (
  SELECT tx AS x, ty AS y, tt AS tb, CAST(count(*) AS BIGINT) AS nbr_n,
         CAST(sum(w) AS BIGINT) AS nbr_sum
  FROM contrib GROUP BY tx, ty, tt
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(w) AS BIGINT) AS sum_w,
         CAST(sum(w*w) AS BIGINT) AS sum_q
  FROM cells
)
SELECT c.x, c.y, c.tb, c.w, nbr_n, nbr_sum,
       {_gi_expr()} AS gi_star
FROM cells c JOIN nbr USING (x, y, tb), st
"""

    from geomesa_spark.operators.hotspot import (
        MK_Z_SQL as _MK_Z,
        PATTERN_SQL as _PAT,
        SEN_SQL as _SEN,
    )

    # sen_slope: the bits=4 space-time bins + pairwise slopes + the
    # order-statistic median via the shared SEN_SQL division
    o["sen_slope"] = f"""
WITH tp AS (
  SELECT (event_id*9973 % 36000)/100.0 - 180.0 AS lon,
         (event_id*7919 % 18000)/100.0 - 90.0 AS lat,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
g AS (
  SELECT CAST(greatest(0, least(15, floor((lon+180.0)/360.0*16.0))) AS BIGINT) AS x,
         CAST(greatest(0, least(15, floor((lat+90.0)/180.0*16.0))) AS BIGINT) AS y,
         CAST(floor(CAST(es AS DOUBLE) / 86400.0) AS BIGINT) AS tb
  FROM tp
),
cells AS (
  SELECT x, y, tb, CAST(count(*) AS BIGINT) AS w FROM g GROUP BY x, y, tb
),
pr AS (
  SELECT a.x, a.y, (b.w - a.w) / (b.tb - a.tb) AS s
  FROM cells a JOIN cells b
    ON a.x = b.x AND a.y = b.y AND a.tb < b.tb
),
rnk AS (
  SELECT x, y, s,
         row_number() OVER (PARTITION BY x, y ORDER BY s) AS r,
         count(*) OVER (PARTITION BY x, y) AS m
  FROM pr
),
mid AS (
  SELECT * FROM rnk WHERE r >= (m + 1) // 2 AND r <= m // 2 + 1
)
SELECT x, y, CAST(max(m) AS BIGINT) AS n_pairs,
       {_SEN.format(ss="sum(s)", cnt="count(*)")} AS sen
FROM mid GROUP BY x, y
"""

    # emerging_hotspots gate: the hotspot_st pipeline at bits=4, then
    # per-cell Mann-Kendall on bin weights + classification — the MK z
    # and pattern come from the SAME shared SQL strings the operator
    # evaluates, so the doubles and labels hash-compare.
    o["emerging_hotspots"] = f"""
WITH tp AS (
  SELECT (event_id*9973 % 36000)/100.0 - 180.0 AS lon,
         (event_id*7919 % 18000)/100.0 - 90.0 AS lat,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
g AS (
  SELECT CAST(greatest(0, least(15, floor((lon+180.0)/360.0*16.0))) AS BIGINT) AS x,
         CAST(greatest(0, least(15, floor((lat+90.0)/180.0*16.0))) AS BIGINT) AS y,
         CAST(floor(CAST(es AS DOUBLE) / 86400.0) AS BIGINT) AS tb
  FROM tp
),
cells AS (
  SELECT x, y, tb, CAST(count(*) AS BIGINT) AS w FROM g GROUP BY x, y, tb
),
offs AS (
  SELECT a.dx, b.dy, c.dt
  FROM (VALUES (-1),(0),(1)) a(dx), (VALUES (-1),(0),(1)) b(dy),
       (VALUES (-1),(0),(1)) c(dt)
),
contrib AS (
  SELECT ((x + dx) % 16 + 16) % 16 AS tx, y + dy AS ty, tb + dt AS tt, w
  FROM cells, offs WHERE y + dy BETWEEN 0 AND 15
),
nbr AS (
  SELECT tx AS x, ty AS y, tt AS tb, CAST(count(*) AS BIGINT) AS nbr_n,
         CAST(sum(w) AS BIGINT) AS nbr_sum
  FROM contrib GROUP BY tx, ty, tt
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(w) AS BIGINT) AS sum_w,
         CAST(sum(w*w) AS BIGINT) AS sum_q
  FROM cells
),
bins AS (
  SELECT c.x, c.y, c.tb, c.w, {_gi_expr()} AS gi_star
  FROM cells c JOIN nbr USING (x, y, tb), st
),
glast AS (SELECT max(tb) AS lt FROM bins),
agg AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS n_bins,
         CAST(sum(CASE WHEN gi_star >= 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
         CAST(max(CASE WHEN tb = (SELECT lt FROM glast)
                        AND gi_star >= 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS last_hot
  FROM bins GROUP BY x, y
),
prs AS (
  SELECT a.x, a.y,
         CAST(sum(CASE WHEN b.w > a.w THEN 1
                       WHEN b.w < a.w THEN -1 ELSE 0 END) AS BIGINT) AS s
  FROM bins a JOIN bins b ON a.x = b.x AND a.y = b.y AND a.tb < b.tb
  GROUP BY a.x, a.y
),
ties AS (
  SELECT x, y, CAST(sum(c*(c-1)*(2*c+5)) AS BIGINT) AS tt
  FROM (SELECT x, y, w, CAST(count(*) AS BIGINT) AS c
        FROM bins GROUP BY x, y, w)
  GROUP BY x, y
),
mk AS (
  SELECT agg.x, agg.y, n_bins, n_hot, last_hot,
         CAST(coalesce(prs.s, 0) AS BIGINT) AS s,
         CAST(n_bins*(n_bins-1)*(2*n_bins+5)
              - coalesce(ties.tt, 0) AS BIGINT) AS var_num
  FROM agg LEFT JOIN prs USING (x, y) LEFT JOIN ties USING (x, y)
)
SELECT x, y, n_bins, n_hot, last_hot, s, var_num,
       {_MK_Z.format(S="s", V="var_num")} AS mk_z,
       {_PAT.format(tz=1.0)} AS pattern
FROM mk
"""

    o["histogram_job"] = """
SELECT day, event_type, CAST(count(*) AS BIGINT) AS count FROM (
  SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day,
    coalesce(nullif(CAST(event_type AS VARCHAR),''),'null') AS event_type,
    coalesce(nullif(CAST(user_id AS VARCHAR),''),'null') AS uid
  FROM events WHERE value > 0.1
) GROUP BY 1, 2
"""

    o["decontaminate"] = """
WITH toks AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+3], ' ') AS s
       FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk)-3)) AS i
             FROM toks)),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 37 = 0),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM sh GROUP BY 1),
hits AS (SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
         FROM sh JOIN bench USING (s) GROUP BY 1)
SELECT d.doc_id,
  CAST(coalesce(sz.n_shingles,0) AS BIGINT) AS n_shingles,
  CAST(coalesce(hits.n_overlap,0) AS BIGINT) AS n_overlap,
  CASE WHEN coalesce(sz.n_shingles,0) > 0
       THEN coalesce(hits.n_overlap,0) / sz.n_shingles ELSE 0.0
  END AS overlap_frac,
  CAST(CASE WHEN coalesce(hits.n_overlap,0) > 0 THEN 1 ELSE 0 END AS INT)
    AS contaminated
FROM documents d
LEFT JOIN sz ON d.doc_id = sz.doc_id
LEFT JOIN hits ON d.doc_id = hits.doc_id
"""

    o["repetition_profile"] = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text,' '), t -> t <> '') AS tk
  FROM documents),
tokrows AS (
  SELECT doc_id, unnest(tk) AS tok, generate_subscripts(tk,1) AS i FROM toks),
runs AS (
  SELECT doc_id, count(*) AS run FROM (
    SELECT doc_id, tok, i,
           i - row_number() OVER (PARTITION BY doc_id, tok ORDER BY i) AS grp
    FROM tokrows) GROUP BY doc_id, tok, grp),
maxrun AS (SELECT doc_id, CAST(max(run) AS BIGINT) AS max_token_run
           FROM runs GROUP BY 1),
big AS (
  SELECT doc_id, tk[i] || ' ' || tk[i+1] AS bg
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk)-1)) AS i
        FROM toks)),
topbg AS (
  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_count FROM (
    SELECT doc_id, bg, count(*) AS c FROM big GROUP BY 1, 2) GROUP BY 1)
SELECT t.doc_id,
  CAST(len(t.tk) AS BIGINT) AS n_tokens,
  CASE WHEN len(t.tk) > 0
       THEN (len(t.tk) - len(list_distinct(t.tk))) / len(t.tk) ELSE 0.0
  END AS dup_token_ratio,
  CAST(coalesce(topbg.top_bigram_count,0) AS BIGINT) AS top_bigram_count,
  CASE WHEN len(t.tk) >= 2
       THEN coalesce(topbg.top_bigram_count,0) / (len(t.tk)-1) ELSE 0.0
  END AS top_bigram_frac,
  CAST(coalesce(maxrun.max_token_run,0) AS BIGINT) AS max_token_run
FROM toks t
LEFT JOIN maxrun ON t.doc_id = maxrun.doc_id
LEFT JOIN topbg ON t.doc_id = topbg.doc_id
"""

    # mixture sampling: same integer cut arithmetic + md5 bucket
    o["mixture_sample"] = f"""
WITH w(lang, wt) AS (VALUES ('en',5),('fr',2),('de',2),('es',1)),
counts AS (SELECT lang, count(*) AS c
           FROM documents JOIN w USING (lang) GROUP BY 1),
cuts AS (SELECT counts.lang,
                LEAST(1000000, (1000000 * 150 * wt) // (10 * c)) AS cut
         FROM counts JOIN w ON counts.lang = w.lang)
SELECT d.doc_id, d.lang
FROM documents d JOIN cuts ON d.lang = cuts.lang
WHERE {bucket} < cut
"""

    o["vocab"] = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text,' '), t -> t <> '')) AS token
  FROM documents),
tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
       FROM toks GROUP BY 1, 2)
SELECT token, CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS total_tf
FROM tf GROUP BY 1 HAVING count(*) >= 2
"""

    o["keyword_topk"] = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text,' '), t -> t <> '')) AS token
  FROM documents),
tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
       FROM toks GROUP BY 1, 2),
dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT doc_id, token, tf, df,
         CAST((tf * 1000000) // df AS BIGINT) AS score_fp
  FROM tf JOIN dfreq USING (token))
SELECT doc_id, token, tf, df, score_fp FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score_fp DESC, token) AS rk
  FROM scored)
WHERE rk <= 5
"""

    # bigram LM: identical integer smoothing arithmetic; contexts
    # derive from the collapsed bigram table (sum(c12) per w1) and
    # the vocab size is the distinct continuation count
    o["lm_quality"] = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM documents),
bg AS (
  SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk)-1)) AS i
        FROM toks)),
m12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2),
m1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM m12 GROUP BY 1),
vv AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM bg),
pos AS (
  SELECT b.doc_id,
         CASE WHEN m12.c12 IS NULL THEN 1 ELSE 0 END AS oov,
         ((COALESCE(m12.c12, 0) + 1) * 1000000)
           // (COALESCE(m1.c1, 0) + (SELECT v FROM vv)) AS p
  FROM bg b
  LEFT JOIN m12 ON m12.w1 = b.w1 AND m12.w2 = b.w2
  LEFT JOIN m1 ON m1.w1 = b.w1),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(oov) AS BIGINT) AS oov_bigrams,
         CAST(CAST(sum(p) AS BIGINT) // count(*) AS BIGINT) AS score_fp
  FROM pos GROUP BY doc_id)
SELECT d.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams,
       COALESCE(a.oov_bigrams, 0) AS oov_bigrams, a.score_fp
FROM documents d LEFT JOIN agg a USING (doc_id)
"""

    bm25_vals = ", ".join(
        f"('{qid}', '{t}')" for qid, ts in BM25_QUERIES.items() for t in ts
    )
    # constants below clear k1=6/5, b=3/4 of fractions:
    # (b1+a)*d=44, b1*d=20, a*(d-c)=6, a*c=18
    o["bm25_topk"] = f"""
WITH q(query_id, term) AS (VALUES {bm25_vals}),
toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM documents),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
tt AS (SELECT CAST(sum(len(tk)) AS BIGINT) AS t FROM toks),
ts AS (SELECT doc_id, tok AS token, CAST(count(*) AS BIGINT) AS tf
       FROM (SELECT doc_id, unnest(tk) AS tok FROM toks) GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM ts GROUP BY 1),
terms AS (SELECT DISTINCT term FROM q),
post AS (SELECT ts.* FROM ts JOIN terms ON ts.token = terms.term),
dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY 1),
sc AS (
  SELECT q.query_id, p.doc_id,
         CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(
           ((((SELECT n FROM nn) - dfq.df) * 1000000) // dfq.df)
           * (p.tf * 44 * (SELECT t FROM tt))
           // (p.tf * 20 * (SELECT t FROM tt)
               + 6 * (SELECT t FROM tt)
               + dl.dl * 18 * (SELECT n FROM nn))
         ) AS BIGINT) AS score_fp
  FROM post p
  JOIN q ON q.term = p.token
  JOIN dfq USING (token)
  JOIN dl USING (doc_id)
  GROUP BY 1, 2)
SELECT query_id, doc_id, n_terms, score_fp, CAST(rk AS INT) AS "rank"
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score_fp DESC, doc_id) AS rk
      FROM sc)
WHERE rk <= 10
"""

    # int8 quantization: one IEEE division + floor, both
    # correctly-rounded in each engine, so codes hash exactly
    o["embed_quantize"] = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
  FROM embeddings),
sc AS (SELECT vec_id, v,
              CASE WHEN mx = 0 THEN 1.0 ELSE mx/127.0 END AS qscale
       FROM base)
SELECT vec_id, qscale, CAST(i - 1 AS INT) AS i,
       CAST(floor(v[i]/qscale + 0.5) AS INT) AS q
FROM sc, unnest(generate_series(1, len(v))) AS t(i)
"""

    # line-level dedup: same 3-token line reshaping, corpus count,
    # <2-occurrence filter, in-order reassembly
    o["line_dedup"] = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(coalesce(text,''),' '), t -> t <> '') AS tk
  FROM documents),
lx AS (
  SELECT doc_id, i,
         array_to_string(tk[i*3+1 : i*3+3], ' ') AS line
  FROM (SELECT doc_id, tk,
               unnest(range(0, CAST(ceil(len(tk)/3.0) AS BIGINT))) AS i
        FROM toks)),
c AS (SELECT line, count(*) AS n FROM lx GROUP BY 1),
kept AS (SELECT lx.doc_id, lx.i, lx.line
         FROM lx JOIN c USING (line) WHERE c.n < 2),
clean AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS text,
                 CAST(count(*) AS BIGINT) AS n_kept
          FROM kept GROUP BY 1),
per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM lx GROUP BY 1)
SELECT d.doc_id,
  coalesce(clean.text, '') AS text,
  CAST(coalesce(per.n_lines, 0) AS BIGINT) AS n_lines,
  CAST(coalesce(per.n_lines, 0) - coalesce(clean.n_kept, 0) AS BIGINT) AS n_removed
FROM documents d
LEFT JOIN per ON d.doc_id = per.doc_id
LEFT JOIN clean ON d.doc_id = clean.doc_id
"""

    # PII redaction: identical synthetic-PII construction + the same
    # ordered email -> ip -> phone patterns (RE2 'g' = Java-regex
    # replace-all; the patterns avoid lookaround/backrefs so both
    # engines match identical spans)
    o["pii_redact"] = r"""
WITH salted AS (
  SELECT doc_id,
    concat_ws(' ',
      substr(coalesce(text,''), 1, 60),
      'user' || CAST(doc_id AS VARCHAR) || '@ex-ample.org',
      '10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
            || CAST(doc_id % 250 + 1 AS VARCHAR),
      'tel +1 415 555 0' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
    ) AS t
  FROM documents)
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(t,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
    '\+?\d[\d().\- ]{6,}\d\b', '<PHONE>', 'g') AS redacted
FROM salted
"""

    # token-window chunking: ceil(n/stride) windows of chunk_size
    # tokens, 1-based inclusive list slice == Spark's slice()
    o["chunk_docs"] = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(coalesce(text,''),' '), t -> t <> '') AS tk
  FROM documents),
ex AS (
  SELECT doc_id, tk,
         unnest(range(0, CAST(ceil(len(tk)/24.0) AS BIGINT))) AS chunk_id
  FROM toks)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
  CAST(len(tk[chunk_id*24+1 : chunk_id*24+32]) AS BIGINT) AS n_tokens,
  array_to_string(tk[chunk_id*24+1 : chunk_id*24+32], ' ') AS chunk_text
FROM ex
"""

    # exact-substring dedup: duplicated 8-token rolling windows cover
    # token positions; covered tokens are excised everywhere
    o["substring_dedup"] = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(coalesce(text,''),' '), t -> t <> '') AS tk
  FROM documents),
w AS (
  SELECT doc_id, i, array_to_string(tk[i+1 : i+8], ' ') AS w
  FROM (SELECT doc_id, tk,
               unnest(range(0, greatest(len(tk)-7, 0))) AS i
        FROM toks)),
c AS (SELECT w, count(*) AS n FROM w GROUP BY 1),
dupstart AS (SELECT w.doc_id, w.i FROM w JOIN c USING (w) WHERE c.n >= 2),
covered AS (SELECT DISTINCT doc_id, i + d AS pos
            FROM dupstart, unnest(range(0, 8)) AS t(d)),
tok AS (SELECT doc_id, generate_subscripts(tk,1) - 1 AS pos, unnest(tk) AS tok
        FROM toks),
kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
         LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
         WHERE c.pos IS NULL),
clean AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
                 CAST(count(*) AS BIGINT) AS n_kept
          FROM kept GROUP BY 1)
SELECT d.doc_id,
  coalesce(clean.text, '') AS text,
  CAST(len(t.tk) AS BIGINT) AS n_tokens,
  CAST(len(t.tk) - coalesce(clean.n_kept, 0) AS BIGINT) AS n_removed
FROM documents d
JOIN toks t ON d.doc_id = t.doc_id
LEFT JOIN clean ON d.doc_id = clean.doc_id
"""

    # streaming ingest-dedup batch twin: global event-order first
    # record per fingerprint (unix_timestamp truncates to seconds,
    # hence the floor(epoch))
    o["ingest_dedup"] = """
WITH log AS (
  SELECT CAST(user_id % 311 AS VARCHAR) || ':' || event_type AS fp,
         CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE) AS ts,
         event_id AS seq,
         event_type AS val
  FROM events)
SELECT fp, ts, seq, val FROM (
  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY ts, seq) AS rn
  FROM log
) WHERE rn = 1
"""

    # as-of join: DuckDB's native ASOF JOIN is the independent oracle
    # (the engine never builds a range join; it uses union+window)
    o["asof_join"] = """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id, ts, max(event_id) AS view_id,
         max(CAST(floor(value * 1000000) AS BIGINT)) AS view_vfx
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
)
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS es,
       epoch_us(r.ts) AS r_es,
       r.view_id AS r_view_id, r.view_vfx AS r_view_vfx
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""

    o["interval_join"] = """
WITH w AS (
  SELECT event_id AS wid, user_id, ts AS start_ts,
         ts + INTERVAL 1 DAY AS end_ts
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
)
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS es,
       w.wid AS i_wid, epoch_us(w.start_ts) AS i_ses
FROM p JOIN w ON p.user_id = w.user_id
            AND p.ts >= w.start_ts AND p.ts < w.end_ts
"""

    o["overlap_join"] = """
WITH a AS (
  SELECT event_id AS aid, user_id, ts AS s, ts + INTERVAL 12 HOURS AS e
  FROM events WHERE event_type = 'click'
),
b AS (
  SELECT event_id AS bid, user_id, ts AS s, ts + INTERVAL 12 HOURS AS e
  FROM events WHERE event_type = 'view'
)
SELECT a.user_id, a.aid AS l_aid, b.bid AS r_bid,
       epoch_us(a.s) AS l_ses, epoch_us(b.s) AS r_ses
FROM a JOIN b ON a.user_id = b.user_id AND a.s < b.e AND b.s < a.e
"""

    # attr_stats: one UNION ALL row per profiled attribute; min/max
    # string-rendered (bigint/varchar casts are engine-identical)
    def _attr_stat_row(col):
        return f"""
SELECT '{col}' AS "column", count(*) AS n_rows, count({col}) AS n_values,
       count(DISTINCT {col}) AS n_distinct,
       CAST(min({col}) AS VARCHAR) AS min_value,
       CAST(max({col}) AS VARCHAR) AS max_value,
       CASE WHEN count(DISTINCT {col}) <= 1000 THEN 'low' ELSE 'high' END
         AS cardinality
FROM events"""

    o["attr_stats"] = " UNION ALL ".join(
        _attr_stat_row(c) for c in ("event_id", "user_id", "event_type")
    )

    # numeric_profile: exact integer moments on the fixed-point
    # lattice; dyadic quantile fractions interpolate exactly in both
    # engines (lo + f*(hi-lo) with f in {.25,.5,.75} is exact IEEE)
    o["numeric_profile"] = """
WITH f AS (
  SELECT CAST(round(value * 1000000) AS BIGINT) AS fx FROM events
),
m AS (
  SELECT count(*) AS n_rows, count(fx) AS n_values,
         min(fx) AS min_fx, max(fx) AS max_fx,
         CAST(sum(fx) AS BIGINT) AS sum_fx,
         sum(CAST(fx AS HUGEINT) * fx) AS sumsq,
         count(DISTINCT fx) AS n_distinct_fx,
         quantile_cont(fx, 0.25) AS p25_fx,
         quantile_cont(fx, 0.5) AS p50_fx,
         quantile_cont(fx, 0.75) AS p75_fx
  FROM f
)
SELECT n_rows, n_values, min_fx, max_fx, sum_fx,
       CAST(sumsq AS VARCHAR) AS sumsq_fx, n_distinct_fx,
       CAST(sum_fx AS DOUBLE) / n_values AS mean_fx,
       sqrt(greatest(CAST(sumsq AS DOUBLE) / n_values
                     - (CAST(sum_fx AS DOUBLE) / n_values)
                       * (CAST(sum_fx AS DOUBLE) / n_values), 0.0)) AS std_fx,
       p25_fx, p50_fx, p75_fx
FROM m
"""

    # point-pattern statistics: brute pair joins (bbox-prefiltered,
    # fine single-threaded at sf0.01 subset sizes) + the operators'
    # own shared derived-value strings
    from geomesa_spark.operators.pointpat import (
        KNOX_EXPECTED_SQL as _KNOX_E,
        KNOX_RATIO_SQL as _KNOX_R,
        PAIRS_TOTAL_SQL as _PAIRS_T,
        PART_PI_SQL as _PART_PI,
        PART_RATIO_SQL as _PART_PR,
        RIPLEY_BIN_SQL as _RIP_BIN,
        RIPLEY_K_SQL as _RIP_K,
        RIPLEY_L_SQL as _RIP_L,
        RIPLEY_R_SQL as _RIP_R,
    )

    _R_DR = repr(0.05 / 5)
    _R_D2 = repr(0.05 ** 2)

    # g_function: brute per-point nearest neighbor (bbox prefilter —
    # any neighbor within r_max is inside the box, so the censoring
    # HAVING sees every relevant candidate), then the identical
    # bin/axis/cumsum/division pipeline
    from geomesa_spark.operators.pointpat import NN_G_SQL as _NN_G

    o["g_function"] = f"""
WITH pts AS (
  SELECT event_id AS id, {_BLOB_LON} AS lon, {_BLOB_LAT} AS lat
  FROM events WHERE event_id % 4 = 0
),
nn AS (
  SELECT a.id,
         min((a.lon-b.lon)*(a.lon-b.lon)
             + (a.lat-b.lat)*(a.lat-b.lat)) AS nn_d2
  FROM pts a JOIN pts b
    ON a.id <> b.id
   AND b.lat BETWEEN a.lat - 0.05 AND a.lat + 0.05
   AND b.lon BETWEEN a.lon - 0.05 AND a.lon + 0.05
  GROUP BY a.id
  HAVING min((a.lon-b.lon)*(a.lon-b.lon)
             + (a.lat-b.lat)*(a.lat-b.lat)) <= {_R_D2}
),
binned AS (
  SELECT {_RIP_BIN.format(nb=5, d2="nn_d2", dr=_R_DR)} AS bin,
         CAST(count(*) AS BIGINT) AS n_pts
  FROM nn GROUP BY 1
),
axis AS (SELECT CAST(range AS BIGINT) AS bin FROM range(1, 6)),
np AS (SELECT CAST(count(*) AS BIGINT) AS n_points FROM pts),
c AS (
  SELECT axis.bin,
         CAST(coalesce(n_pts, 0) AS BIGINT) AS n_pts,
         CAST(sum(coalesce(n_pts, 0)) OVER (ORDER BY axis.bin
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pts
  FROM axis LEFT JOIN binned USING (bin)
)
SELECT bin, {_RIP_R.format(bin="bin", dr=_R_DR)} AS r,
       n_pts, cum_pts,
       {_NN_G.format(C="cum_pts", n="n_points")} AS g_est
FROM c CROSS JOIN np
"""

    # j_function: both curves brute in DuckDB — G over point pairs,
    # F over probe->pattern cross NN (probe lattice arithmetic
    # rendered with the IDENTICAL literals probe_grid embeds), J
    # from the four exact counts via the shared J_SQL
    from geomesa_spark.operators.pointpat import J_SQL as _J_SQL

    _FJ_DR = repr(8.0 / 5)
    _FJ_D2 = repr(8.0 ** 2)
    _fj_wx = repr((176.0 - -174.0) / 35)
    _fj_wy = repr((86.0 - -84.0) / 17)
    o["j_function"] = f"""
WITH pts AS (
  SELECT event_id AS id, {_BLOB_LON} AS lon, {_BLOB_LAT} AS lat
  FROM events WHERE event_id % 4 = 0
),
probes AS (
  SELECT CAST(t.k AS BIGINT) AS rid,
         -174.0 + (CAST(t.k % 35 AS DOUBLE) + 0.5) * {_fj_wx} AS lon,
         -84.0 + (CAST(t.k // 35 AS DOUBLE) + 0.5) * {_fj_wy} AS lat
  FROM generate_series(0, {35 * 17 - 1}) t(k)
),
gnn AS (
  SELECT a.id,
         min((a.lon-b.lon)*(a.lon-b.lon)
             + (a.lat-b.lat)*(a.lat-b.lat)) AS nn_d2
  FROM pts a JOIN pts b
    ON a.id <> b.id
   AND b.lat BETWEEN a.lat - 8.0 AND a.lat + 8.0
   AND b.lon BETWEEN a.lon - 8.0 AND a.lon + 8.0
  GROUP BY a.id
  HAVING min((a.lon-b.lon)*(a.lon-b.lon)
             + (a.lat-b.lat)*(a.lat-b.lat)) <= {_FJ_D2}
),
fnn AS (
  SELECT a.rid,
         min((a.lon-b.lon)*(a.lon-b.lon)
             + (a.lat-b.lat)*(a.lat-b.lat)) AS nn_d2
  FROM probes a JOIN pts b
    ON b.lat BETWEEN a.lat - 8.0 AND a.lat + 8.0
   AND b.lon BETWEEN a.lon - 8.0 AND a.lon + 8.0
  GROUP BY a.rid
  HAVING min((a.lon-b.lon)*(a.lon-b.lon)
             + (a.lat-b.lat)*(a.lat-b.lat)) <= {_FJ_D2}
),
gbin AS (
  SELECT {_RIP_BIN.format(nb=5, d2="nn_d2", dr=_FJ_DR)} AS bin,
         CAST(count(*) AS BIGINT) AS n_pts
  FROM gnn GROUP BY 1
),
fbin AS (
  SELECT {_RIP_BIN.format(nb=5, d2="nn_d2", dr=_FJ_DR)} AS bin,
         CAST(count(*) AS BIGINT) AS n_ref
  FROM fnn GROUP BY 1
),
axis AS (SELECT CAST(range AS BIGINT) AS bin FROM range(1, 6)),
np AS (SELECT CAST(count(*) AS BIGINT) AS n_points FROM pts),
nr AS (SELECT CAST(count(*) AS BIGINT) AS n_probes FROM probes),
c AS (
  SELECT axis.bin,
         CAST(coalesce(g.n_pts, 0) AS BIGINT) AS n_pts,
         CAST(sum(coalesce(g.n_pts, 0)) OVER (ORDER BY axis.bin
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pts,
         CAST(coalesce(f.n_ref, 0) AS BIGINT) AS n_ref,
         CAST(sum(coalesce(f.n_ref, 0)) OVER (ORDER BY axis.bin
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_ref
  FROM axis LEFT JOIN gbin g USING (bin) LEFT JOIN fbin f USING (bin)
)
SELECT bin, {_RIP_R.format(bin="bin", dr=_FJ_DR)} AS r,
       n_pts, cum_pts,
       {_NN_G.format(C="cum_pts", n="n_points")} AS g_est,
       n_ref, cum_ref,
       {_NN_G.format(C="cum_ref", n="n_probes")} AS f_est,
       {_J_SQL.format(cg="cum_pts", ng="n_points",
                      cf="cum_ref", nf="n_probes")} AS j_est
FROM c CROSS JOIN np CROSS JOIN nr
"""

    _rip_k = _RIP_K.format(A=repr(59500.0), C="cum_pairs", n="n_points")
    o["ripley_k"] = f"""
WITH pts AS (
  SELECT event_id AS id, {_BLOB_LON} AS lon, {_BLOB_LAT} AS lat
  FROM events WHERE event_id % 4 = 0
),
pr AS (
  SELECT (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat) AS dist2
  FROM pts a JOIN pts b
    ON a.id < b.id
   AND b.lat BETWEEN a.lat - 0.05 AND a.lat + 0.05
   AND b.lon BETWEEN a.lon - 0.05 AND a.lon + 0.05
  WHERE (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat)
        <= {_R_D2}
),
binned AS (
  SELECT {_RIP_BIN.format(nb=5, d2="dist2", dr=_R_DR)} AS bin,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM pr GROUP BY 1
),
axis AS (SELECT CAST(range AS BIGINT) AS bin FROM range(1, 6)),
np AS (SELECT CAST(count(*) AS BIGINT) AS n_points FROM pts),
c AS (
  SELECT axis.bin,
         CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
         CAST(sum(coalesce(n_pairs, 0)) OVER (ORDER BY axis.bin
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pairs
  FROM axis LEFT JOIN binned USING (bin)
)
SELECT bin, {_RIP_R.format(bin="bin", dr=_R_DR)} AS r,
       n_pairs, cum_pairs,
       {_rip_k} AS k_est,
       {_RIP_L.format(K=_rip_k)} AS l_est
FROM c CROSS JOIN np
"""

    # sd_ellipse: fp-quantized HUGEINT moments per event_type, every
    # emitted double the shared CENTRO_* string verbatim
    from geomesa_spark.operators.pointpat import (
        CENTRO_COV_SQL as _CEN_COV,
        CENTRO_MEAN_SQL as _CEN_MEAN,
        CENTRO_SDD_SQL as _CEN_SDD,
        CENTRO_VAR_SQL as _CEN_VAR,
    )

    _cen_fp = repr(10000000.0)
    _cen_mx = _CEN_MEAN.format(S="sx", n="n", fp=_cen_fp)
    _cen_my = _CEN_MEAN.format(S="sy", n="n", fp=_cen_fp)
    _cen_vx = _CEN_VAR.format(S2="sxx", n="n", fp=_cen_fp, m=_cen_mx)
    _cen_vy = _CEN_VAR.format(S2="syy", n="n", fp=_cen_fp, m=_cen_my)
    o["sd_ellipse"] = f"""
WITH tq AS (
  SELECT event_type,
         CAST(round(((event_id*9973 % 36000)/100.0 - 180.0)
              * 10000000.0) AS BIGINT) AS xq,
         CAST(round(((event_id*7919 % 18000)/100.0 - 90.0)
              * 10000000.0) AS BIGINT) AS yq
  FROM events
),
mom AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(xq AS HUGEINT)) AS sx,
         sum(CAST(yq AS HUGEINT)) AS sy,
         sum(CAST(xq AS HUGEINT) * xq) AS sxx,
         sum(CAST(yq AS HUGEINT) * yq) AS syy,
         sum(CAST(xq AS HUGEINT) * yq) AS sxy
  FROM tq GROUP BY 1
)
SELECT event_type, n,
       {_cen_mx} AS mean_x, {_cen_my} AS mean_y,
       {_cen_vx} AS vx, {_cen_vy} AS vy,
       {_CEN_COV.format(Sxy="sxy", n="n", fp=_cen_fp,
                        mx=_cen_mx, my=_cen_my)} AS cxy,
       {_CEN_SDD.format(vx=_cen_vx, vy=_cen_vy)} AS sd_dist
FROM mom
"""

    # convex_hull: the O(n³) directed hull-edge characterization —
    # no chain, no recursion: (a,b) is a CCW hull edge iff every
    # other point is strictly left (integer cross > 0) or
    # collinear-within the segment
    o["convex_hull"] = """
WITH tq AS (
  SELECT DISTINCT event_type AS g,
         CAST(round(((event_id*9973 % 36000)/100.0 - 180.0)
              * 10000000.0) AS BIGINT) AS xq,
         CAST(round(((event_id*7919 % 18000)/100.0 - 90.0)
              * 10000000.0) AS BIGINT) AS yq
  FROM events WHERE event_id % 37 = 0
)
SELECT c.g AS event_type,
       CAST(c.ax AS DOUBLE) / 10000000.0 AS ax,
       CAST(c.ay AS DOUBLE) / 10000000.0 AS ay,
       CAST(c.bx AS DOUBLE) / 10000000.0 AS bx,
       CAST(c.by2 AS DOUBLE) / 10000000.0 AS by_
FROM (
  SELECT a.g, a.xq AS ax, a.yq AS ay, b.xq AS bx, b.yq AS by2
  FROM tq a JOIN tq b
    ON a.g = b.g AND (a.xq <> b.xq OR a.yq <> b.yq)
) c
WHERE NOT EXISTS (
  SELECT 1 FROM tq p
  WHERE p.g = c.g
    AND NOT (
      (c.bx - c.ax) * (p.yq - c.ay)
        - (c.by2 - c.ay) * (p.xq - c.ax) > 0
      OR (
        (c.bx - c.ax) * (p.yq - c.ay)
          - (c.by2 - c.ay) * (p.xq - c.ax) = 0
        AND p.xq BETWEEN least(c.ax, c.bx) AND greatest(c.ax, c.bx)
        AND p.yq BETWEEN least(c.ay, c.by2) AND greatest(c.ay, c.by2)
      )
    )
)
-- degenerate (all-collinear) groups qualify in BOTH directions while
-- hull_edges emits the single open segment once; keep the ascending
-- direction only when the whole group is collinear
AND NOT (
  (c.ax, c.ay) > (c.bx, c.by2)
  AND NOT EXISTS (
    SELECT 1 FROM tq p2
    WHERE p2.g = c.g
      AND (c.bx - c.ax) * (p2.yq - c.ay)
          - (c.by2 - c.ay) * (p2.xq - c.ax) <> 0
  )
)
"""

    # hull_moments: the convex_hull edge characterization as a CTE,
    # then the per-edge-independent moments in HUGEINT; emissions via
    # the shared HULL_* strings (verbatim what polygon_moments emits)
    from geomesa_spark.operators.hull import (
        HULL_AREA_SQL as _HM_AREA,
        HULL_CENTROID_SQL as _HM_CEN,
        HULL_PERIM_SQL as _HM_PERIM,
    )

    _hm_fp = repr(10_000_000.0)
    o["hull_moments"] = f"""
WITH tq AS (
  SELECT DISTINCT event_type AS g,
         CAST(round(((event_id*9973 % 36000)/100.0 - 180.0)
              * 10000000.0) AS BIGINT) AS xq,
         CAST(round(((event_id*7919 % 18000)/100.0 - 90.0)
              * 10000000.0) AS BIGINT) AS yq
  FROM events WHERE event_id % 37 = 0
),
he AS (
  SELECT c.g, c.ax, c.ay, c.bx, c.by2
  FROM (
    SELECT a.g, a.xq AS ax, a.yq AS ay, b.xq AS bx, b.yq AS by2
    FROM tq a JOIN tq b
      ON a.g = b.g AND (a.xq <> b.xq OR a.yq <> b.yq)
  ) c
  WHERE NOT EXISTS (
    SELECT 1 FROM tq p
    WHERE p.g = c.g
      AND NOT (
        (c.bx - c.ax) * (p.yq - c.ay)
          - (c.by2 - c.ay) * (p.xq - c.ax) > 0
        OR (
          (c.bx - c.ax) * (p.yq - c.ay)
            - (c.by2 - c.ay) * (p.xq - c.ax) = 0
          AND p.xq BETWEEN least(c.ax, c.bx) AND greatest(c.ax, c.bx)
          AND p.yq BETWEEN least(c.ay, c.by2)
                       AND greatest(c.ay, c.by2)
        )
      )
  )
  AND NOT (
    (c.ax, c.ay) > (c.bx, c.by2)
    AND NOT EXISTS (
      SELECT 1 FROM tq p2
      WHERE p2.g = c.g
        AND (c.bx - c.ax) * (p2.yq - c.ay)
            - (c.by2 - c.ay) * (p2.xq - c.ax) <> 0
    )
  )
),
em AS (
  SELECT g,
    CAST(ax AS HUGEINT) * by2 - CAST(bx AS HUGEINT) * ay AS cr,
    (CAST(ax AS HUGEINT) + bx)
      * (CAST(ax AS HUGEINT) * by2 - CAST(bx AS HUGEINT) * ay) AS sx,
    (CAST(ay AS HUGEINT) + by2)
      * (CAST(ax AS HUGEINT) * by2 - CAST(bx AS HUGEINT) * ay) AS sy,
    CAST(floor(sqrt(CAST(
          CAST(bx - ax AS HUGEINT) * (bx - ax)
          + CAST(by2 - ay AS HUGEINT) * (by2 - ay) AS DOUBLE))
        + 0.5) AS BIGINT) AS elen
  FROM he
),
mg AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_edges,
         sum(cr) AS a2r, sum(sx) AS sxr, sum(sy) AS syr,
         CAST(sum(elen) AS HUGEINT) AS perim_fp
  FROM em GROUP BY g
),
mz AS (
  SELECT g, n_edges,
    CASE WHEN n_edges >= 3 THEN a2r ELSE 0 END AS area2_fp,
    CASE WHEN n_edges >= 3 THEN sxr ELSE 0 END AS sx_fp,
    CASE WHEN n_edges >= 3 THEN syr ELSE 0 END AS sy_fp,
    perim_fp
  FROM mg
)
SELECT g AS event_type, n_edges,
  CAST(area2_fp AS DOUBLE) AS area2_d,
  CAST(perim_fp AS DOUBLE) AS perim_d,
  {_HM_AREA.format(a2="area2_fp", fp=_hm_fp)} AS area,
  {_HM_PERIM.format(pf="perim_fp", fp=_hm_fp)} AS perimeter,
  {_HM_CEN.format(sx="sx_fp", a2="area2_fp", fp=_hm_fp)} AS cx,
  {_HM_CEN.format(sx="sy_fp", a2="area2_fp", fp=_hm_fp)} AS cy
FROM mz
"""

    # quadrat: occupied-cell counts over the window grid + the
    # closed-form chi-square via the shared QUADRAT_* strings
    from geomesa_spark.operators.pointpat import (
        QUADRAT_CHI2_SQL as _QD_CHI2,
        QUADRAT_VMR_SQL as _QD_VMR,
    )

    _qd_chi2 = _QD_CHI2.format(nq="nq", ssq="ssq", n="n")
    o["quadrat"] = f"""
WITH tp AS (
  SELECT (event_id*9973 % 36000)/100.0 - 180.0 AS lon,
         (event_id*7919 % 18000)/100.0 - 90.0 AS lat
  FROM events
),
qin AS (
  SELECT least(7, CAST(floor((lon - -120.0) / 240.0 * 8) AS BIGINT))
           AS cx,
         least(5, CAST(floor((lat - -60.0) / 120.0 * 6) AS BIGINT))
           AS cy
  FROM tp
  WHERE lon >= -120.0 AND lon <= 120.0
    AND lat >= -60.0 AND lat <= 60.0
),
qcounts AS (
  SELECT cx, cy, CAST(count(*) AS BIGINT) AS c
  FROM qin GROUP BY 1, 2
),
qstats AS (
  SELECT CAST(48 AS BIGINT) AS nq,
         CAST(coalesce(sum(c), 0) AS BIGINT) AS n,
         CAST(coalesce(sum(c * c), 0) AS BIGINT) AS ssq
  FROM qcounts
)
SELECT cx, cy, c, nq, n, ssq,
       {_qd_chi2} AS chi2,
       {_QD_VMR.format(chi2=_qd_chi2, nq="nq")} AS vmr
FROM qcounts CROSS JOIN qstats
"""

    from geomesa_spark.operators.pointpat import (
        RIPLEY_XK_SQL as _RIP_XK,
    )

    _rip_xk = _RIP_XK.format(A=repr(59500.0), C="cum_pairs",
                             na="n_a", nb="n_b")
    o["ripley_cross_k"] = f"""
WITH pts AS (
  SELECT event_id AS id, event_type AS cat,
         {_BLOB_LON} AS lon, {_BLOB_LAT} AS lat
  FROM events WHERE event_type IN ('click', 'purchase')
),
pr AS (
  SELECT (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat) AS dist2
  FROM pts a JOIN pts b
    ON a.id < b.id
   AND a.cat <> b.cat
   AND b.lat BETWEEN a.lat - 0.05 AND a.lat + 0.05
   AND b.lon BETWEEN a.lon - 0.05 AND a.lon + 0.05
  WHERE (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat)
        <= {_R_D2}
),
binned AS (
  SELECT {_RIP_BIN.format(nb=5, d2="dist2", dr=_R_DR)} AS bin,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM pr GROUP BY 1
),
axis AS (SELECT CAST(range AS BIGINT) AS bin FROM range(1, 6)),
np AS (
  SELECT CAST(sum(CASE WHEN cat = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN cat = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_b
  FROM pts
),
c AS (
  SELECT axis.bin,
         CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
         CAST(sum(coalesce(n_pairs, 0)) OVER (ORDER BY axis.bin
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pairs
  FROM axis LEFT JOIN binned USING (bin)
)
SELECT bin, {_RIP_R.format(bin="bin", dr=_R_DR)} AS r,
       n_pairs, cum_pairs,
       {_rip_xk} AS k_est,
       {_RIP_L.format(K=_rip_xk)} AS l_est
FROM c CROSS JOIN np
"""

    o["knox_test"] = f"""
WITH mp AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events WHERE event_id % 7 = 0
),
pts AS (
  SELECT event_id AS id, CAST(es AS DOUBLE) AS t,
         {_COOC_LON} AS lon, {_COOC_LAT} AS lat
  FROM mp
),
pr AS (
  SELECT (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat) AS d2,
         abs(a.t - b.t) AS dt
  FROM pts a JOIN pts b ON a.id < b.id
),
agg AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM pts) AS n_points,
         CAST(sum(CASE WHEN d2 <= {repr(1.0 ** 2)} THEN 1 ELSE 0 END)
              AS BIGINT) AS space_pairs,
         CAST(sum(CASE WHEN dt <= 43200.0 THEN 1 ELSE 0 END)
              AS BIGINT) AS time_pairs,
         CAST(sum(CASE WHEN d2 <= {repr(1.0 ** 2)} AND dt <= 43200.0
              THEN 1 ELSE 0 END) AS BIGINT) AS st_pairs
  FROM pr
)
SELECT n_points,
       {_PAIRS_T.format(n="n_points")} AS pairs_total,
       space_pairs, time_pairs, st_pairs,
       {_KNOX_E.format(X="space_pairs", Y="time_pairs", n="n_points")}
         AS expected_st,
       {_KNOX_R.format(O="st_pairs", X="space_pairs", Y="time_pairs",
                       n="n_points")} AS knox_ratio
FROM agg
"""

    from geomesa_spark.operators.pointpat import (
        STK_K_SQL as _STK_K,
        STK_TBIN_SQL as _STK_TB,
    )

    _stk_k = _STK_K.format(A=repr(64800.0), T=repr(2592000.0),
                           C="cum_pairs", n="n_points")
    _stk_dr = repr(1.0 / 4)
    _stk_dw = repr(86400.0 / 3)
    o["space_time_k"] = f"""
WITH mp AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events WHERE event_id % 7 = 0
),
pts AS (
  SELECT event_id AS id, CAST(es AS DOUBLE) AS t,
         {_COOC_LON} AS lon, {_COOC_LAT} AS lat
  FROM mp
),
pr AS (
  SELECT (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat) AS dist2,
         abs(a.t - b.t) AS dt
  FROM pts a JOIN pts b ON a.id < b.id
  WHERE (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat)
        <= {repr(1.0 ** 2)}
    AND abs(a.t - b.t) <= 86400.0
),
binned AS (
  SELECT {_RIP_BIN.format(nb=4, d2="dist2", dr=_stk_dr)} AS rb,
         {_STK_TB.format(nb=3, d="dt", dw=_stk_dw)} AS tb,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM pr GROUP BY 1, 2
),
grid AS (
  SELECT CAST(r.range AS BIGINT) AS rb, CAST(t.range AS BIGINT) AS tb
  FROM range(1, 5) r CROSS JOIN range(1, 4) t
),
np AS (SELECT CAST(count(*) AS BIGINT) AS n_points FROM pts),
c0 AS (
  SELECT grid.rb, grid.tb,
         CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs
  FROM grid LEFT JOIN binned USING (rb, tb)
),
c1 AS (
  SELECT *, sum(n_pairs) OVER (PARTITION BY tb ORDER BY rb
             ROWS UNBOUNDED PRECEDING) AS _cr
  FROM c0
),
c AS (
  SELECT rb, tb, n_pairs,
         CAST(sum(_cr) OVER (PARTITION BY rb ORDER BY tb
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pairs
  FROM c1
)
SELECT rb, tb,
       {_RIP_R.format(bin="rb", dr=_stk_dr)} AS r,
       {_RIP_R.format(bin="tb", dr=_stk_dw)} AS tau,
       n_pairs, cum_pairs,
       {_stk_k} AS k_est
FROM c CROSS JOIN np
"""

    _co_pa = _PART_PR.format(c="n_a_with_b", n="n_a")
    _co_pb = _PART_PR.format(c="n_b_with_a", n="n_b")
    o["colocation"] = f"""
WITH mp AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events WHERE event_id % 3 = 0
),
pts AS (
  SELECT event_id AS id, event_type AS cat,
         {_COOC_LON} AS lon, {_COOC_LAT} AS lat
  FROM mp
),
pr AS (
  SELECT a.id AS id_a, a.cat AS cat_a, b.id AS id_b, b.cat AS cat_b
  FROM pts a JOIN pts b
    ON a.id < b.id
   AND b.lat BETWEEN a.lat - 0.5 AND a.lat + 0.5
   AND b.lon BETWEEN a.lon - 0.5 AND a.lon + 0.5
  WHERE (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat)
        <= {repr(0.5 ** 2)}
),
directed AS (
  SELECT id_a AS pid, cat_a AS own, cat_b AS nbr FROM pr
  UNION
  SELECT id_b, cat_b, cat_a FROM pr
),
part AS (
  SELECT own, nbr, CAST(count(*) AS BIGINT) AS n_part
  FROM directed GROUP BY 1, 2
),
sizes AS (
  SELECT cat, CAST(count(*) AS BIGINT) AS n_cat FROM pts GROUP BY 1
),
fwd AS (
  SELECT own AS cat_a, nbr AS cat_b, n_part AS n_a_with_b
  FROM part WHERE own <= nbr
),
rev AS (
  SELECT nbr AS cat_a, own AS cat_b, n_part AS n_b_with_a
  FROM part WHERE own >= nbr
)
SELECT cat_a, cat_b, sa.n_cat AS n_a, sb.n_cat AS n_b,
       n_a_with_b, n_b_with_a,
       {_co_pa} AS pr_ab,
       {_co_pb} AS pr_ba,
       {_PART_PI.format(pa=_co_pa, pb=_co_pb)} AS pi
FROM fwd JOIN rev USING (cat_a, cat_b)
JOIN sizes sa ON sa.cat = cat_a
JOIN sizes sb ON sb.cat = cat_b
"""

    # mst: unrolled Borůvka rounds — per round the per-component
    # cheapest crossing edge (the unique (w, a, b) total order), the
    # engine's dedup, then a recursive-CTE closure over the merge
    # graph relabeling every old component to its min component id
    # (exactly dup_components' fixed point).  10 unrolled rounds is
    # the HARD bound for 997 nodes (components at least halve per
    # round, ceil(log2 997) = 10); rounds past the fixed point are
    # idempotent (observed convergence: 5).
    _mst_rounds = "\n".join(
        f"""cr{i} AS MATERIALIZED (
  SELECT e.a, e.b, e.w, la.c AS ca, lb.c AS cb
  FROM me e
  JOIN mlab{i - 1} la ON la.node = e.a
  JOIN mlab{i - 1} lb ON lb.node = e.b
  WHERE la.c <> lb.c
),
pk{i} AS (
  SELECT * FROM (
    SELECT comp, a, b, w, ca, cb,
           row_number() OVER (
             PARTITION BY comp ORDER BY w, a, b
           ) AS rn
    FROM (
      SELECT ca AS comp, a, b, w, ca, cb FROM cr{i}
      UNION ALL
      SELECT cb AS comp, a, b, w, ca, cb FROM cr{i}
    )
  ) WHERE rn = 1
),
sel{i} AS MATERIALIZED (
  SELECT DISTINCT a, b, w, ca, cb FROM pk{i}
),
bed{i} AS (
  SELECT ca AS x, cb AS y FROM sel{i}
  UNION ALL
  SELECT cb AS x, ca AS y FROM sel{i}
),
wk{i} AS (
  SELECT x AS s, y AS r FROM bed{i}
  UNION
  SELECT k.s, e.y FROM wk{i} k JOIN bed{i} e ON e.x = k.r
),
mp{i} AS (
  SELECT s, least(s, min(r)) AS nc FROM wk{i} GROUP BY s
),
mlab{i} AS MATERIALIZED (
  SELECT l.node, coalesce(m.nc, l.c) AS c
  FROM mlab{i - 1} l LEFT JOIN mp{i} m ON m.s = l.c
),"""
        for i in range(1, 11)
    )
    _mst_emit = "\nUNION ALL\n".join(
        f"SELECT a, b, w, CAST({i} AS INTEGER) AS round FROM sel{i}"
        for i in range(1, 11)
    )
    o["mst"] = f"""
WITH RECURSIVE me AS MATERIALIZED (
  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
         min(w) AS w
  FROM (
    SELECT event_id % 997 AS src,
           (event_id // 997 * 131 + event_id * 31) % 997 AS dst,
           (event_id * 37 + event_id // 31) % 9973 + 1 AS w
    FROM events
  ) WHERE src <> dst
  GROUP BY 1, 2
),
mlab0 AS MATERIALIZED (
  SELECT node, node AS c FROM (
    SELECT a AS node FROM me UNION SELECT b FROM me
  )
),
{_mst_rounds}
fin AS ({_mst_emit})
SELECT a, b, w, round FROM fin
"""

    # closeness: INDEPENDENT oracle — 16-hop recursive walk, min
    # hop distance per (source, node), matching the gate's
    # rounds=16 bounded-hop form exactly at ANY sf
    from geomesa_spark.operators.graph import (
        CLOSENESS_SQL as _CLO_SQL,
    )

    o["closeness"] = f"""
WITH RECURSIVE cel AS (
  SELECT DISTINCT src, dst FROM (
    SELECT event_id % 997 AS src,
           (event_id // 997 * 131 + event_id * 31) % 997 AS dst
    FROM events
  ) WHERE src <> dst
),
cbed AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM cel
  UNION
  SELECT dst AS a, src AS b FROM cel
),
csrc AS (SELECT CAST(range AS BIGINT) AS s FROM range(0, 997, 37)),
cwk AS (
  SELECT s, s AS n, 0 AS d FROM csrc
  UNION
  SELECT k.s, e.b, k.d + 1
  FROM cwk k JOIN cbed e ON e.a = k.n
  WHERE k.d < 16
),
cdm AS (SELECT s, n, min(d) AS d FROM cwk GROUP BY s, n),
cag AS (
  SELECT s AS src,
         CAST(count(*) AS BIGINT) AS n_reached,
         CAST(sum(d) AS BIGINT) AS total_dist,
         CAST(max(d) AS BIGINT) AS eccentricity
  FROM cdm GROUP BY s
)
SELECT src, n_reached, total_dist, eccentricity,
       {_CLO_SQL.format(nr="n_reached", td="total_dist")} AS closeness
FROM cag
"""

    # communities: 4 unrolled synchronous LPA rounds — the identical
    # (count DESC, label) argmax tiebreak
    _lpa_rounds = "\n".join(
        f"""cl{i} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT a.n AS node, l.label,
           row_number() OVER (
             PARTITION BY a.n
             ORDER BY count(*) DESC, l.label
           ) AS rn
    FROM cadj a JOIN cl{i - 1} l ON l.node = a.nb
    GROUP BY a.n, l.label
  ) WHERE rn = 1
),"""
        for i in range(1, 5)
    )
    o["communities"] = f"""
WITH lel AS (
  SELECT DISTINCT src, dst FROM (
    SELECT event_id % 997 AS src,
           (event_id // 997 * 131 + event_id * 31) % 997 AS dst
    FROM events
  ) WHERE src <> dst
),
lund AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM lel
),
cadj AS MATERIALIZED (
  SELECT a AS n, b AS nb FROM lund
  UNION ALL
  SELECT b AS n, a AS nb FROM lund
),
cl0 AS MATERIALIZED (
  SELECT DISTINCT n AS node, n AS label FROM cadj
),
{_lpa_rounds}
fin AS (SELECT node, label FROM cl4)
SELECT node, label FROM fin
"""

    # assortativity: HUGEINT stub sums, the shared division form
    from geomesa_spark.operators.graph import (
        ASSORTATIVITY_SQL as _ASSORT_SQL,
    )

    _as_m = "(CAST(2 AS HUGEINT) * CAST(m AS HUGEINT))"
    o["assortativity"] = f"""
WITH ael AS (
  SELECT DISTINCT src, dst FROM (
    SELECT event_id % 997 AS src,
           (event_id // 997 * 131 + event_id * 31) % 997 AS dst
    FROM events
  ) WHERE src <> dst
),
aund AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM ael
),
astub AS (
  SELECT a AS x, b AS y FROM aund
  UNION ALL
  SELECT b AS x, a AS y FROM aund
),
adeg AS (
  SELECT x AS n, CAST(count(*) AS BIGINT) AS d
  FROM astub GROUP BY x
),
aj AS (
  SELECT dx.d AS dx, dy.d AS dy
  FROM astub s
  JOIN adeg dx ON dx.n = s.x
  JOIN adeg dy ON dy.n = s.y
),
aag AS (
  SELECT CAST(count(*) // 2 AS BIGINT) AS m,
         sum(CAST(dx AS HUGEINT)) AS s1,
         sum(CAST(dx AS HUGEINT) * dx) AS s2,
         sum(CAST(dx AS HUGEINT) * dy) AS sxy
  FROM aj
)
SELECT m,
       CAST(s1 AS DOUBLE) AS s1_d,
       CAST(s2 AS DOUBLE) AS s2_d,
       CAST(sxy AS DOUBLE) AS sxy_d,
       {_ASSORT_SQL.format(m=_as_m, s1="s1", s2="s2", sxy="sxy")}
         AS assortativity
FROM aag
"""

    # hybrid_search: the bm25_topk and ann_bruteforce oracles reused
    # verbatim as CTEs, then the shared-RRF_TERM_SQL fixed-order
    # fusion expression + (rrf DESC, doc_id) window
    from geomesa_spark.operators.ann import RRF_TERM_SQL as _RRF_T

    _rrf0 = _RRF_T.format(k=60, r="rank_0")
    _rrf1 = _RRF_T.format(k=60, r="rank_1")
    o["hybrid_search"] = f"""
WITH bm AS ({o["bm25_topk"]}),
ce AS ({o["ann_bruteforce"]}),
hla AS (
  SELECT query_id AS qid, CAST(doc_id AS BIGINT) AS doc_id,
         CAST(min("rank") AS BIGINT) AS rank_0
  FROM bm GROUP BY 1, 2
),
hlb AS (
  SELECT 'q' || CAST(qid AS VARCHAR) AS qid,
         CAST(vec_id AS BIGINT) AS doc_id,
         CAST(min("rank") AS BIGINT) AS rank_1
  FROM ce WHERE qid IN (1, 2, 3) GROUP BY 1, 2
),
hfo AS (
  SELECT coalesce(a.qid, b.qid) AS qid,
         coalesce(a.doc_id, b.doc_id) AS doc_id,
         a.rank_0, b.rank_1
  FROM hla a FULL OUTER JOIN hlb b
    ON b.qid = a.qid AND b.doc_id = a.doc_id
),
hsc AS (
  SELECT qid, doc_id, rank_0, rank_1,
         {_rrf0} + {_rrf1} AS rrf
  FROM hfo
)
SELECT qid, doc_id, rank_0, rank_1, rrf, "rank" FROM (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY qid ORDER BY rrf DESC, doc_id
  ) AS INTEGER) AS "rank"
  FROM hsc
) WHERE "rank" <= 15
"""

    # tile_cut: the four Sutherland-Hodgman passes as MATERIALIZED
    # list-lambda CTE stages over the mercator-projected gate
    # triangles; every stage mirrors the engine expression-for-
    # expression (see the gate docstring)
    def _tc_pass(src, axis, bound, keep_le):
        c = f"{src}[i].{axis}"
        pidx = f"CASE WHEN i = 1 THEN len({src}) ELSE i - 1 END"
        pc = f"{src}[{pidx}].{axis}"
        op = "<=" if keep_le else ">="
        cur = f"{src}[i]"
        prv = f"{src}[{pidx}]"
        t = f"(({bound} - {pc}) / ({c} - {pc}))"
        if axis == "x":
            inter = (f"{{'x': {bound}, "
                     f"'y': {prv}.y + {t} * ({cur}.y - {prv}.y)}}")
        else:
            inter = (f"{{'x': {prv}.x + {t} * ({cur}.x - {prv}.x), "
                     f"'y': {bound}}}")
        return f"""CASE WHEN len({src}) < 3
    THEN CAST([] AS STRUCT(x DOUBLE, y DOUBLE)[])
    ELSE flatten(list_transform(range(1, len({src}) + 1), i ->
      CASE
        WHEN {c} {op} {bound} AND {pc} {op} {bound} THEN [{cur}]
        WHEN {c} {op} {bound} THEN [{inter}, {cur}]
        WHEN {pc} {op} {bound} THEN [{inter}]
        ELSE CAST([] AS STRUCT(x DOUBLE, y DOUBLE)[])
      END))
  END"""

    from geomesa_spark.functions.tiles import (
        DEG2RAD as _TCD, MAX_MERC_LAT as _TCM, PI as _TCPI,
        PI_4 as _TCP4,
    )

    def _tc_mx(v):
        return f"(({v} + 180.0) / 360.0)"

    def _tc_my(v):
        cl = f"greatest(-{_TCM!r}, least({_TCM!r}, {v}))"
        return (f"((1.0 - ln(tan({_TCP4!r} + ({cl} * {_TCD!r}) / 2.0))"
                f" / {_TCPI!r}) / 2.0)")

    _tc_qx = ("CAST(floor(((p.x - bx0) * 64.0) * 4096.0 + 0.5)"
              " AS INTEGER)")
    _tc_qy = ("CAST(floor(((p.y - by0) * 64.0) * 4096.0 + 0.5)"
              " AS INTEGER)")
    o["tile_cut"] = f"""
WITH tc_pts AS (
  SELECT event_id,
         (event_id*9973 % 36000)/100.0 - 180.0 AS lon,
         (event_id*7919 % 18000)/100.0 - 90.0 AS lat
  FROM events WHERE event_id % 7 = 0
),
tc_tri AS (
  SELECT event_id AS geom_id, lon*0.96 AS ax, lat*0.9 AS ay
  FROM tc_pts
),
tc_ring AS MATERIALIZED (
  SELECT geom_id,
    [ {{'x': {_tc_mx("ax")}, 'y': {_tc_my("ay")}}},
      {{'x': {_tc_mx("(ax + 2.004)")}, 'y': {_tc_my("(ay + 0.504)")}}},
      {{'x': {_tc_mx("(ax + 1.002)")}, 'y': {_tc_my("(ay + 1.506)")}}} ]
    AS r0
  FROM tc_tri
),
tc_cover AS (
  SELECT geom_id, r0,
    greatest(0, least(63, CAST(floor(least(r0[1].x, r0[2].x, r0[3].x)
      * 64.0) AS BIGINT))) AS tx0,
    greatest(0, least(63, CAST(floor(greatest(r0[1].x, r0[2].x, r0[3].x)
      * 64.0) AS BIGINT))) AS tx1,
    greatest(0, least(63, CAST(floor(least(r0[1].y, r0[2].y, r0[3].y)
      * 64.0) AS BIGINT))) AS ty0,
    greatest(0, least(63, CAST(floor(greatest(r0[1].y, r0[2].y, r0[3].y)
      * 64.0) AS BIGINT))) AS ty1
  FROM tc_ring
),
tc_txe AS (
  SELECT geom_id, r0, ty0, ty1,
         unnest(range(tx0, tx1 + 1)) AS tx
  FROM tc_cover
),
tc_tye AS (
  SELECT geom_id, r0, tx,
         unnest(range(ty0, ty1 + 1)) AS ty,
         CAST(tx AS DOUBLE) * 0.015625 AS bx0,
         CAST(tx + 1 AS DOUBLE) * 0.015625 AS bx1
  FROM tc_txe
),
tc_tiles AS MATERIALIZED (
  SELECT geom_id, r0, tx, ty, bx0, bx1,
         CAST(ty AS DOUBLE) * 0.015625 AS by0,
         CAST(ty + 1 AS DOUBLE) * 0.015625 AS by1
  FROM tc_tye
),
tc_c1 AS MATERIALIZED (SELECT geom_id, tx, ty, bx0, by0, bx1, by1,
  {_tc_pass("r0", "x", "bx0", False)} AS r1 FROM tc_tiles),
tc_c2 AS MATERIALIZED (SELECT geom_id, tx, ty, bx0, by0, bx1, by1,
  {_tc_pass("r1", "x", "bx1", True)} AS r2 FROM tc_c1),
tc_c3 AS MATERIALIZED (SELECT geom_id, tx, ty, bx0, by0, bx1, by1,
  {_tc_pass("r2", "y", "by0", False)} AS r3 FROM tc_c2),
tc_c4 AS MATERIALIZED (SELECT geom_id, tx, ty, bx0, by0,
  {_tc_pass("r3", "y", "by1", True)} AS r4 FROM tc_c3),
tc_q AS MATERIALIZED (
  SELECT geom_id, tx, ty,
    list_transform(r4, p -> {{'px': {_tc_qx}, 'py': {_tc_qy}}}) AS q
  FROM tc_c4 WHERE len(r4) >= 3
),
tc_w AS MATERIALIZED (
  SELECT geom_id, tx, ty,
    CASE WHEN list_sum(list_transform(range(1, len(q) + 1), i ->
        CAST(q[i].px AS BIGINT)
          * q[CASE WHEN i = len(q) THEN 1 ELSE i + 1 END].py
        - CAST(q[CASE WHEN i = len(q) THEN 1 ELSE i + 1 END].px
               AS BIGINT) * q[i].py)) < 0
      THEN list_reverse(q) ELSE q END AS q2
  FROM tc_q
)
SELECT geom_id, CAST(6 AS INTEGER) AS z, tx, ty,
       CAST(0 AS INTEGER) AS ring_i,
       CAST(u.pos AS INTEGER) AS pos, u.px, u.py
FROM tc_w,
     UNNEST(list_transform(range(1, len(q2) + 1),
            i -> {{'pos': i - 1, 'px': q2[i].px, 'py': q2[i].py}}))
       AS t(u)
"""

    # tile_lines: Liang-Barsky as chained lateral-alias columns in
    # the engine's constraint order; window-lag re-chaining; shared
    # mercator/quant text with the tile_cut oracle
    _tl_lb = """
  (x1 - x0) AS dx, (y1 - y0) AS dy,
  ((-dx = 0 AND x0 - bx0 < 0) OR (dx = 0 AND bx1 - x0 < 0)
   OR (-dy = 0 AND y0 - by0 < 0) OR (dy = 0 AND by1 - y0 < 0))
    AS reject,
  CASE WHEN -dx < 0 THEN greatest(0.0, (x0 - bx0) / (-dx))
       ELSE 0.0 END AS t0a,
  CASE WHEN dx < 0 THEN greatest(t0a, (bx1 - x0) / dx)
       ELSE t0a END AS t0b,
  CASE WHEN -dy < 0 THEN greatest(t0b, (y0 - by0) / (-dy))
       ELSE t0b END AS t0c,
  CASE WHEN dy < 0 THEN greatest(t0c, (by1 - y0) / dy)
       ELSE t0c END AS t0,
  CASE WHEN -dx > 0 THEN least(1.0, (x0 - bx0) / (-dx))
       ELSE 1.0 END AS t1a,
  CASE WHEN dx > 0 THEN least(t1a, (bx1 - x0) / dx)
       ELSE t1a END AS t1b,
  CASE WHEN -dy > 0 THEN least(t1b, (y0 - by0) / (-dy))
       ELSE t1b END AS t1c,
  CASE WHEN dy > 0 THEN least(t1c, (by1 - y0) / dy)
       ELSE t1c END AS t1,
  (NOT reject) AND t0 < t1 AS keep
"""
    o["tile_lines"] = f"""
WITH tl_p AS (
  SELECT event_id,
         (event_id*9973 % 36000)/100.0 - 180.0 AS lon,
         (event_id*7919 % 18000)/100.0 - 90.0 AS lat
  FROM events WHERE event_id % 7 = 0
),
tl_v AS (
  SELECT event_id AS geom_id, lon*0.96 AS ax, lat*0.9 AS ay FROM tl_p
),
tl_segs AS MATERIALIZED (
  SELECT geom_id, 0 AS seg_i,
         {_tc_mx("ax")} AS x0, {_tc_my("ay")} AS y0,
         {_tc_mx("(ax + 3.007)")} AS x1, {_tc_my("(ay + 1.003)")} AS y1
  FROM tl_v
  UNION ALL
  SELECT geom_id, 1,
         {_tc_mx("(ax + 3.007)")}, {_tc_my("(ay + 1.003)")},
         {_tc_mx("(ax + 6.014)")}, {_tc_my("(ay - 1.003)")}
  FROM tl_v
),
tl_cov AS (
  SELECT *,
    greatest(0, least(63, CAST(floor(least(x0, x1) * 64.0)
      AS BIGINT))) AS tx0,
    greatest(0, least(63, CAST(floor(greatest(x0, x1) * 64.0)
      AS BIGINT))) AS tx1,
    greatest(0, least(63, CAST(floor(least(y0, y1) * 64.0)
      AS BIGINT))) AS ty0,
    greatest(0, least(63, CAST(floor(greatest(y0, y1) * 64.0)
      AS BIGINT))) AS ty1
  FROM tl_segs
),
tl_txe AS (
  SELECT geom_id, seg_i, x0, y0, x1, y1, ty0, ty1,
         unnest(range(tx0, tx1 + 1)) AS tx
  FROM tl_cov
),
tl_tye AS MATERIALIZED (
  SELECT geom_id, seg_i, x0, y0, x1, y1, tx,
         unnest(range(ty0, ty1 + 1)) AS ty
  FROM tl_txe
),
tl_b AS (
  SELECT *,
         CAST(tx AS DOUBLE) * 0.015625 AS bx0,
         CAST(ty AS DOUBLE) * 0.015625 AS by0,
         CAST(tx + 1 AS DOUBLE) * 0.015625 AS bx1,
         CAST(ty + 1 AS DOUBLE) * 0.015625 AS by1
  FROM tl_tye
),
tl_lb AS MATERIALIZED (
  SELECT geom_id, seg_i, tx, ty, bx0, by0, x0, y0, x1, y1,
  {_tl_lb}
  FROM tl_b
),
tl_clip AS MATERIALIZED (
  SELECT geom_id, seg_i, tx, ty, bx0, by0,
         x0 + t0 * (x1 - x0) AS cx0,
         y0 + t0 * (y1 - y0) AS cy0,
         x0 + t1 * (x1 - x0) AS cx1,
         y0 + t1 * (y1 - y0) AS cy1
  FROM tl_lb WHERE keep
),
tl_chain AS (
  SELECT *,
    CASE WHEN lag(seg_i) OVER w IS NULL THEN 1
         WHEN lag(seg_i) OVER w <> seg_i - 1 THEN 1
         WHEN lag(cx1) OVER w <> cx0 THEN 1
         WHEN lag(cy1) OVER w <> cy0 THEN 1
         ELSE 0 END AS is_new
  FROM tl_clip
  WINDOW w AS (PARTITION BY geom_id, tx, ty ORDER BY seg_i)
),
tl_parts AS MATERIALIZED (
  SELECT *,
    CAST(sum(is_new) OVER (PARTITION BY geom_id, tx, ty
                           ORDER BY seg_i) - 1 AS INTEGER) AS part_i
  FROM tl_chain
),
tl_emit AS (
  SELECT geom_id, tx, ty, part_i,
         CAST(row_number() OVER (
           PARTITION BY geom_id, tx, ty, part_i ORDER BY seg_i
         ) AS INTEGER) AS rn,
         is_new, cx0, cy0, cx1, cy1, bx0, by0
  FROM tl_parts
),
tl_pe AS (
  SELECT geom_id, tx, ty, part_i, 0 AS pos,
         cx0 AS px_m, cy0 AS py_m, bx0, by0
  FROM tl_emit WHERE is_new = 1
  UNION ALL
  SELECT geom_id, tx, ty, part_i, rn, cx1, cy1, bx0, by0
  FROM tl_emit
)
SELECT geom_id, CAST(6 AS INTEGER) AS z, tx, ty, part_i,
       CAST(pos AS INTEGER) AS pos,
       CAST(floor(((px_m - bx0) * 64.0) * 4096.0 + 0.5) AS INTEGER)
         AS px,
       CAST(floor(((py_m - by0) * 64.0) * 4096.0 + 0.5) AS INTEGER)
         AS py
FROM tl_pe
"""

    # tile_points: shared mercator + clamp + quant text, no clip
    o["tile_points"] = f"""
WITH tp AS (
  SELECT event_id AS geom_id,
         (event_id*9973 % 36000)/100.0 - 180.0 AS lon,
         (event_id*7919 % 18000)/100.0 - 90.0 AS lat
  FROM events WHERE event_id % 3 = 0
),
tm AS (
  SELECT geom_id, {_tc_mx("lon")} AS mx, {_tc_my("lat")} AS my
  FROM tp
),
tt AS (
  SELECT geom_id, mx, my,
    greatest(0, least(127, CAST(floor(mx * 128.0) AS BIGINT))) AS tx,
    greatest(0, least(127, CAST(floor(my * 128.0) AS BIGINT))) AS ty
  FROM tm
)
SELECT geom_id, CAST(7 AS INTEGER) AS z, tx, ty,
  CAST(floor(((mx - CAST(tx AS DOUBLE) * 0.0078125) * 128.0)
       * 4096.0 + 0.5) AS INTEGER) AS px,
  CAST(floor(((my - CAST(ty AS DOUBLE) * 0.0078125) * 128.0)
       * 4096.0 + 0.5) AS INTEGER) AS py
FROM tt
"""

    # streaming-twin gates: the stream replay equals the batch
    # operator on the full corpus (the pytest batch-twin theorems),
    # so the oracles are the batch SQLs — minus per-row columns the
    # stream path does not emit (stop_id / seq)
    o["stop_stream_twin"] = (
        "SELECT track, start_ts, end_ts, duration_s, n_points, "
        "center_lon, center_lat FROM (" + o["stop_detect"] + ")"
    )
    o["hotspot_stream_twin"] = o["hotspot_st"]
    o["geofence_stream_twin"] = (
        "SELECT user_id, fence_id, event, es FROM ("
        + o["geofence"] + ")"
    )
    o["co_travel_stream_twin"] = o["co_travel"]
    o["flow_stream_twin"] = o["flow_field"]

    return o
