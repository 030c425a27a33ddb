"""Seeded, vectorized input generator for the benchmark.

Everything here is a pure function of the seed: the same seed gives
byte-identical inputs.  No Spark and no per-row Python loops — the
docs table is built column-wise with numpy and pyarrow compute and
written as one Parquet file that Spark then reads as raw input.

Inputs:

* ``docs``: rows in the engine's ``sources.docs.DOCS_SCHEMA`` shape
  (``doc_id``, ``spans``).  Half of the features fall in three city
  clusters, half uniformly over the world; timestamps are whole
  seconds spread over three weeks that straddle four epoch weeks.
  Coordinates sit on the 6-decimal grid.
* ``polygons``: star-shaped simple polygons whose vertices sit
  OFF that grid (offset by ``OFF_GRID``), so no point lies on an
  edge and even-odd containment is unambiguous.
* ``query_round``: one round of the ECQL query mix (every kind once,
  placed at drawn features, DURING intervals anywhere in the span),
  each query with the parameters the numpy oracle needs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# 2010-05-01T00:00:00Z, three weeks on: crosses 4 epoch weeks
T0 = 1272672000
SPAN_S = 21 * 86400
CITIES = np.array([[-73.98, 40.75], [2.35, 48.86], [139.69, 35.68]])
CITY_SIGMA = 0.5
OFF_GRID = 3.37e-7  # vertex offset from the 6-decimal point grid
WORDS = np.array(
    ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
     "hotel", "india", "juliet", "kilo", "lima", "mike", "november"]
)


@dataclass
class Points:
    """The generated features, as the oracle sees them."""

    lon: np.ndarray
    lat: np.ndarray
    epoch: np.ndarray  # int64 seconds

    def __len__(self) -> int:
        return len(self.lon)


def points(seed: int, n: int) -> Points:
    rng = np.random.default_rng([seed, 1])
    in_city = rng.random(n) < 0.5
    which = rng.integers(0, len(CITIES), n)
    g = rng.standard_normal((n, 2)) * CITY_SIGMA
    lon = np.where(in_city, CITIES[which, 0] + g[:, 0], rng.uniform(-180, 180, n))
    lat = np.where(in_city, CITIES[which, 1] + g[:, 1], rng.uniform(-85, 85, n))
    lon = np.round(np.clip(lon, -179.999999, 179.999999), 6)
    lat = np.round(np.clip(lat, -89.999999, 89.999999), 6)
    epoch = T0 + rng.integers(0, SPAN_S, n)
    return Points(lon=lon, lat=lat, epoch=epoch.astype(np.int64))


def doc_ids(n: int) -> pa.Array:
    """``doc000000000042``: zero-padded, so string order = index order."""
    # 10^12 + i, minus its leading "1": a vectorized zero-pad
    num = pc.cast(pa.array(np.arange(n, dtype=np.int64) + 10**12), pa.string())
    return pc.binary_join_element_wise("doc", pc.utf8_slice_codeunits(num, 1), "")


def docs_table(seed: int, pts: Points) -> pa.Table:
    """Raw docs (``doc_id``, ``spans``) for `pts`: 1-3 interleaved
    text/media spans, then one ``geo`` span (WKT POINT) and one
    ``time`` span (ISO instant), per the docs-table contract."""
    n = len(pts)
    rng = np.random.default_rng([seed, 2])
    n_extra = rng.integers(1, 4, n)
    counts = n_extra + 2
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])
    total = int(offsets[-1])
    doc = np.repeat(np.arange(n), counts)
    j = np.arange(total) - offsets[:-1][doc]
    ne = n_extra[doc]
    # kind code: 0 text, 1 media, 2 geo, 3 time
    kind_code = np.where(j < ne, j % 2, np.where(j == ne, 2, 3))
    kind = pc.take(pa.array(["text", "media", "geo", "time"]), kind_code)

    lon_s = pc.cast(pa.array(pts.lon), pa.string())
    lat_s = pc.cast(pa.array(pts.lat), pa.string())
    wkt = pc.binary_join_element_wise("POINT (", lon_s, " ", lat_s, ")", "")
    # "2010-05-01 00:00:00" -> "2010-05-01T00:00:00Z" (strftime is 30x slower)
    iso = pc.cast(pa.array(pts.epoch.astype("datetime64[s]")), pa.string())
    iso = pc.binary_join_element_wise(pc.replace_substring(iso, " ", "T"), "Z", "")
    phrases = pa.array(
        [f"{a} {b}" for a in WORDS for b in WORDS], pa.string()
    )
    n_ph = len(phrases)
    # one string pool: phrases | wkt | iso; media rows take a null
    pool = pa.concat_arrays([phrases, wkt, iso])
    text_idx = np.select(
        [kind_code == 0, kind_code == 2, kind_code == 3],
        [rng.integers(0, n_ph, total), n_ph + doc, n_ph + n + doc],
        -1,
    )
    text = pc.take(pool, pa.array(text_idx, mask=text_idx < 0))
    ids = doc_ids(n)
    mdoc = doc[kind_code == 1]
    media = pc.binary_join_element_wise(
        "media://bucket/",
        pc.cast(pa.array(mdoc % 1024), pa.string()),
        "/",
        pc.take(ids, pa.array(mdoc)),
        ".bin",
        "",
    )
    media_idx = np.full(total, -1)
    media_idx[kind_code == 1] = np.arange(len(mdoc))
    media = pc.take(media, pa.array(media_idx, mask=media_idx < 0))
    spans = pa.StructArray.from_arrays(
        [kind, text, media, pa.array((j * 16).astype(np.int32))],
        names=["kind", "text", "media_ref", "offset"],
    )
    return pa.table(
        {"doc_id": ids, "spans": pa.ListArray.from_arrays(pa.array(offsets), spans)}
    )


def _fmt(v: np.ndarray) -> list[str]:
    return [f"{x:.9f}" for x in v]


def star_polygon(rng, cx: float, cy: float, r: float, k: int) -> np.ndarray:
    """A simple star-shaped ring (closed) with vertices off the point
    grid; returned as the exact doubles its WKT text parses to."""
    # jittered even spacing keeps every angular gap below pi, so the
    # ring is star-shaped around (cx, cy) and simple
    ang = (np.arange(k) + rng.uniform(0.1, 0.9, k)) * (2 * np.pi / k)
    rad = r * rng.uniform(0.45, 1.0, k)
    x = np.clip(cx + rad * np.cos(ang), -179.9, 179.9)
    y = np.clip(cy + rad * np.sin(ang), -84.9, 84.9)
    x = np.round(x, 6) + OFF_GRID
    y = np.round(y, 6) + OFF_GRID
    ring = np.column_stack([x, y])
    ring = np.vstack([ring, ring[:1]])
    return np.array([[float(a), float(b)] for a, b in zip(_fmt(ring[:, 0]), _fmt(ring[:, 1]))])


def ring_wkt(ring: np.ndarray) -> str:
    xs, ys = _fmt(ring[:, 0]), _fmt(ring[:, 1])
    return "POLYGON ((" + ", ".join(f"{a} {b}" for a, b in zip(xs, ys)) + "))"


@dataclass
class Polygons:
    rings: list  # closed rings, exact doubles
    wkt: list[str] = field(default_factory=list)

    def __post_init__(self):
        self.wkt = [ring_wkt(r) for r in self.rings]


def polygons(seed: int, n: int, salt: int, r_city: tuple, r_world: tuple,
             city_share: float = 0.75) -> Polygons:
    """`n` polygons, `city_share` of them dropped on the city clusters
    (the skew the points have), the rest uniform over the world."""
    rng = np.random.default_rng([seed, salt])
    rings = []
    for i in range(n):
        k = int(rng.integers(6, 14))
        if rng.random() < city_share:
            c = CITIES[rng.integers(0, len(CITIES))]
            cx, cy = rng.normal(c[0], 1.2 * CITY_SIGMA), rng.normal(c[1], 1.2 * CITY_SIGMA)
            r = rng.uniform(*r_city)
        else:
            cx, cy = rng.uniform(-170, 170), rng.uniform(-70, 70)
            r = rng.uniform(*r_world)
        rings.append(star_polygon(rng, cx, cy, r, k))
    return Polygons(rings)


# ---------------------------------------------------------------------------
# query mix
# ---------------------------------------------------------------------------

KINDS = ("bbox_during", "poly_during", "id_in", "attr_bbox", "or_boxes", "wide_bbox")


@dataclass
class Query:
    kind: str
    ecql: str
    box: tuple | None = None        # inclusive lon/lat box
    box2: tuple | None = None       # second box (OR)
    t: tuple | None = None          # exclusive epoch interval
    ring: np.ndarray | None = None  # polygon ring (even-odd)
    ids: np.ndarray | None = None   # doc indexes
    id_lt: int | None = None        # doc index bound (attribute)


def _iso(e: float) -> str:
    s = np.datetime_as_string(np.datetime64(int(e), "s"))
    return s + "Z"


def _at_feature(rng, pts: Points, w: float, h: float) -> tuple[float, float]:
    """Centre of a `w` x `h` query shape: the location of a drawn
    feature, so queries go where the data is (half of them near a
    cluster), moved inward so the shape stays on the map."""
    i = int(rng.integers(0, len(pts)))
    cx = float(np.clip(pts.lon[i], -180 + w / 2, 180 - w / 2))
    cy = float(np.clip(pts.lat[i], -85 + h / 2, 85 - h / 2))
    return cx, cy


def _off(v: float) -> float:
    """`v` moved off the 6-decimal point grid, as its WKT text parses."""
    return float(f"{round(v, 6) + OFF_GRID:.9f}")


def _box(rng, pts: Points, w: float, h: float) -> tuple:
    """A `w` x `h` degree box around a drawn feature."""
    cx, cy = _at_feature(rng, pts, w, h)
    return tuple(_off(v) for v in (cx - w / 2, cy - h / 2, cx + w / 2, cy + h / 2))


def _interval(rng, hours: float) -> tuple:
    """`hours` long, starting anywhere in the data's time span (so
    about one in five crosses an epoch-week boundary)."""
    a = T0 + int(rng.integers(0, SPAN_S - int(hours * 3600)))
    return (a, a + int(hours * 3600))


def _bbox_sql(b) -> str:
    return "BBOX(geom, " + ", ".join(f"{v:.9f}" for v in b) + ")"


def _during_sql(t) -> str:
    return f"dtg DURING {_iso(t[0])}/{_iso(t[1])}"


def make_query(rng, kind: str, pts: Points) -> Query:
    """One query of `kind`: size fixed per kind; position, interval,
    ids and attribute cut drawn."""
    n_docs = len(pts)
    if kind == "bbox_during":
        b = _box(rng, pts, 0.4, 0.25)
        t = _interval(rng, 36.0)
        return Query(kind, f"{_bbox_sql(b)} AND {_during_sql(t)}", box=b, t=t)
    if kind == "poly_during":
        cx, cy = _at_feature(rng, pts, 0.6, 0.6)
        ring = star_polygon(rng, cx, cy, 0.3, 10)
        t = _interval(rng, 36.0)
        return Query(kind, f"INTERSECTS(geom, {ring_wkt(ring)}) AND {_during_sql(t)}",
                     ring=ring, t=t)
    if kind == "id_in":
        ids = np.sort(rng.choice(n_docs, size=20, replace=False))
        lst = ", ".join(f"'doc{i:012d}'" for i in ids)
        return Query(kind, f"IN ({lst})", ids=ids)
    if kind == "attr_bbox":
        b = _box(rng, pts, 6.0, 4.0)
        k = int(rng.integers(n_docs // 3, 2 * n_docs // 3))
        return Query(kind, f"doc_id < 'doc{k:012d}' AND {_bbox_sql(b)}", box=b, id_lt=k)
    if kind == "or_boxes":
        b1 = _box(rng, pts, 0.4, 0.2)
        b2 = _box(rng, pts, 0.4, 0.2)
        return Query(kind, f"{_bbox_sql(b1)} OR {_bbox_sql(b2)}", box=b1, box2=b2)
    if kind == "wide_bbox":
        b = _box(rng, pts, 18.0, 9.0)
        return Query(kind, _bbox_sql(b), box=b)
    raise ValueError(kind)


def query_round(seed: int, rnd: int, pts: Points) -> list[Query]:
    """Round `rnd` of the mix: every kind once (uniform weights), in a
    seeded order with seeded parameters."""
    rng = np.random.default_rng([seed, 3, rnd])
    kinds = list(KINDS)
    rng.shuffle(kinds)
    return [make_query(rng, k, pts) for k in kinds]
