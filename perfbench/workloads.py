"""The workloads: set-up, one round of operations, and the output
checks.

Untraced, every op goes through the engine's public entry points
exactly as a user calls them.  Traced, the same calls run inside
spans, each layer's output is materialized before the next layer
starts, and Spark's plan metrics are read after the op; the set-up
ingest is split into ``extract_geometry``, the ``cells`` key
functions and the write half of ``write_docs_table``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import oracle
import tracing
from oracle import require

from geomesa_spark.functions import cells as C
from geomesa_spark.operators import tilecut
from geomesa_spark.operators.spatial_join import pip_join_broadcast
from geomesa_spark.plans import cover, ecql, planner
from geomesa_spark.sources import docs, mvt

SIZES = {
    "query_docs": 100_000,
    "pip_points": 100_000,
    "pip_polys": 200,
    "tile_polys": 300,
    "tile_zoom": 8,
}


def _doc_index(ids: pa.ChunkedArray) -> np.ndarray:
    return pc.cast(pc.utf8_slice_codeunits(ids, 3), pa.int64()).to_numpy()


def _write_raw(work: str, name: str, table: pa.Table) -> str:
    path = os.path.join(work, name)
    pq.write_table(table, path)
    return path


class Workload:
    name = ""
    # untimed warm-up rounds; counts read off the warm-up curves in
    # README.md (the round time levels off after them)
    warmup = 1
    # measured rounds at least, however long they take, so that each
    # kind's median has more than one sample
    min_rounds = 2

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tr = tracing.NullTracer()

    def setup(self) -> None:
        raise NotImplementedError

    def prepare_checks(self) -> None:
        """Oracle work that does not count as set-up."""

    def units(self, rnd: int):
        """Yield the units of work of round `rnd`, each a list of
        (kind, thunk); a thunk runs one op and returns its check,
        which runs outside the timed region."""
        raise NotImplementedError

    def wrappers(self):
        """Context managers that span engine-internal layer calls."""
        return []


class Query(Workload):
    """ECQL queries over a z3-layout docs table.  The table is written
    by ``write_docs_table`` during set-up; that write is the ingest
    this workload measures (in ``setup_s``, and layer by layer in a
    traced run) and its output is checked like any op's."""

    name = "query"
    warmup = 1

    def setup(self):
        self.pts = gen.points(self.seed, SIZES["query_docs"])
        self.raw_table = gen.docs_table(self.seed, self.pts)
        self.raw = raw = self.spark.read.parquet(
            _write_raw(self.work, "query_raw.parquet", self.raw_table))
        self.traced_schema = None
        require(raw.schema.simpleString() == docs.DOCS_SCHEMA.simpleString(),
                f"generated docs are not DOCS_SCHEMA: {raw.schema.simpleString()}")
        self.path = os.path.join(self.work, "query_table")
        self.tr.op = SETUP_OP
        with self.tr.span("op"):
            self.ingest(raw)
        self.tr.op = None
        self.table = self.spark.read.parquet(self.path)

    def ingest(self, raw):
        tr = self.tr
        if not tr.on:
            docs.write_docs_table(raw, self.path, layout="z3")
            return
        with tr.span("sources.docs.extract"):
            ext = docs.extract_geometry(raw).select(
                "doc_id", "spans", "lon", "lat", "dtg").persist()
            ext.count()
        # the key columns below must stay the ones extract_geometry
        # adds (same names, order, types and values): prepare_checks
        # compares this schema with extract_geometry's, and check_table
        # checks the key values against the oracle's interleaves
        with tr.span("functions.cells.encode"):
            lon, lat, dtg = F.col("lon"), F.col("lat"), F.col("dtg")
            enc = (
                ext.withColumn("week", C.week(dtg))
                .withColumn("cell", C.z2_cell(lon, lat))
                .withColumn("z3", C.z3_cell(lon, lat, dtg))
                .persist()
            )
            enc.count()
        self.traced_schema = enc.schema
        with tr.span("ingest.write"):
            # the write half of write_docs_table, on the materialized
            # encode output
            docs._write_enriched(enc, self.path, "z3")
        enc.unpersist()
        ext.unpersist()

    def prepare_checks(self):
        if self.traced_schema is not None:
            want = docs.extract_geometry(self.raw).schema
            require(self.traced_schema == want,
                    f"traced ingest builds {self.traced_schema.simpleString()}, "
                    f"write_docs_table {want.simpleString()}")
        self.check_table()
        self.raw_table = self.raw = None

    def check_table(self):
        """The ingest checks: rows, ids and spans preserved, week and
        curve keys right, every file sorted by z3."""
        files = _parquet_files(self.path)
        n = len(self.pts)
        self.files = len(files)
        self.stored = _stored_bytes(self.path)
        for f in files:
            z = pq.read_table(f, columns=["z3"]).column(0).to_numpy()
            require(np.all(np.diff(z) >= 0), f"{os.path.basename(f)} not sorted by z3")
        t = pds.dataset(self.path, format="parquet", partitioning="hive").to_table()
        require(t.num_rows == n, f"{t.num_rows} rows written, {n} ingested")
        idx = _doc_index(t.column("doc_id"))
        order = np.argsort(idx)
        require(np.array_equal(idx[order], np.arange(n)), "doc ids not preserved")
        t = t.take(pa.array(order))
        _require_same_spans(t.column("spans"), self.raw_table.column("spans"))
        p = self.pts
        epoch = pc.cast(pc.cast(t.column("dtg"), pa.timestamp("s")), pa.int64()).to_numpy()
        require(np.array_equal(epoch, p.epoch), "dtg differs from the time span")
        require(np.array_equal(t.column("lon").to_numpy(), p.lon)
                and np.array_equal(t.column("lat").to_numpy(), p.lat), "lon/lat differ from WKT")
        week = pc.cast(t.column("week"), pa.int64()).to_numpy()
        require(np.array_equal(week, p.epoch // oracle.WEEK_S), "week != floor(epoch/604800)")
        require(np.array_equal(t.column("cell").to_numpy(), oracle.z2(p.lon, p.lat)),
                "cell != z2 interleave")
        require(np.array_equal(t.column("z3").to_numpy(), oracle.z3(p.lon, p.lat, p.epoch)),
                "z3 != z3 interleave")

    def wrappers(self):
        tr = self.tr
        return [
            tracing.wrap(tr, ecql, "compile_ecql", "plans.ecql.compile"),
            tracing.wrap(tr, cover, "zranges_2d", "plans.cover.zranges"),
            tracing.wrap(tr, cover, "zranges_3d", "plans.cover.zranges"),
            tracing.wrap(tr, planner, "cell_range_predicate", None,
                         count=("plans.cover.ranges", lambda a, out: len(a[0]))),
        ]

    def units(self, rnd):
        for q in gen.query_round(self.seed, rnd, self.pts):
            yield [(q.kind, lambda q=q: self.query(q))]

    def query(self, q):
        tr = self.tr
        with tr.span("plans.planner.scan_build"):
            df = ecql.ecql_scan(self.table, q.ecql).select("doc_id")
        if tr.on:
            with tr.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("query.exec"):
            got = df.toArrow()

        def check():
            want = np.nonzero(oracle.query_mask(q, self.pts))[0]
            have = np.sort(_doc_index(got.column(0)))
            require(np.array_equal(have, want),
                    f"{q.kind}: {len(have)} ids returned, {len(want)} expected: {q.ecql[:120]}")
            if tr.on:
                nodes = tracing.plan_metrics(df)
                tr.count("scan.rows_scanned", tracing.metric_sum(nodes, "Scan parquet", "numOutputRows"))
                tr.count("scan.files_read", tracing.metric_sum(nodes, "Scan parquet", "numFiles"))
                tr.count("query.hits", len(want))
        return check


SETUP_OP = -1


def _parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(r, f) for r, _, fs in os.walk(path)
        for f in fs if f.endswith(".parquet")
    )


def _stored_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _parquet_files(path))


def _require_same_spans(got: pa.ChunkedArray, want: pa.ChunkedArray) -> None:
    g, w = got.combine_chunks(), want.combine_chunks()
    require(np.array_equal(pc.list_value_length(g).to_numpy(),
                           pc.list_value_length(w).to_numpy()), "span counts changed")
    gf, wf = pc.list_flatten(g), pc.list_flatten(w)
    for name in ("kind", "text", "media_ref", "offset"):
        require(gf.field(name).equals(wf.field(name)), f"span field {name} changed")


class JoinTiles(Workload):
    name = "join_tiles"
    warmup = 1

    def setup(self):
        s = self.seed
        self.pts = gen.points(s, SIZES["pip_points"])
        p = self.pts
        stored = pa.table({
            "doc_id": gen.doc_ids(len(p)),
            "lon": p.lon, "lat": p.lat,
            "cell": oracle.z2(p.lon, p.lat),
        })
        self.points = self.spark.read.parquet(_write_raw(self.work, "points.parquet", stored))
        self.polys = gen.polygons(s, SIZES["pip_polys"], 4, (0.05, 0.4), (1.0, 6.0))
        self.poly_list = [(f"p{i:04d}", w) for i, w in enumerate(self.polys.wkt)]
        self.layer_polys = gen.polygons(s, SIZES["tile_polys"], 5, (0.01, 0.2), (0.2, 2.0))
        layer = pa.table({
            "geom_id": np.arange(len(self.layer_polys.wkt), dtype=np.int64),
            "geom_wkt": self.layer_polys.wkt,
        })
        self.layer = self.spark.read.parquet(_write_raw(self.work, "layer.parquet", layer))

    def prepare_checks(self):
        self.want_pairs = oracle.pip_pairs(self.pts, self.polys.rings)

    def wrappers(self):
        return [tracing.wrap(self.tr, cover, "polyfill_detail", "plans.cover.polyfill")]

    def units(self, rnd):
        yield [("pip", self.pip), ("vector_tiles", self.tiles)]

    def pip(self):
        tr = self.tr
        with tr.span("operators.spatial_join.join"):
            df = pip_join_broadcast(self.points, self.poly_list).select("doc_id", "poly_id")
            if tr.on:
                with tr.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
            got = df.toArrow()

        def check():
            have = np.sort(
                _doc_index(got.column("doc_id")) * 1024
                + pc.cast(pc.utf8_slice_codeunits(got.column("poly_id"), 1), pa.int64()).to_numpy()
            )
            require(np.array_equal(have, self.want_pairs),
                    f"pip: {len(have)} pairs returned, {len(self.want_pairs)} expected")
            if tr.on:
                nodes = tracing.plan_metrics(df)
                # every candidate passes the cover join and the edge
                # join (one row per polygon) before the exact refine
                joined = tracing.metric_sum(nodes, "BroadcastHashJoin", "numOutputRows")
                tr.count("pip.candidates", joined / 2)
                tr.count("pip.matches", len(have))
        return check

    def tiles(self):
        tr = self.tr
        z = SIZES["tile_zoom"]
        with tr.span("operators.tilecut.cut"):
            cut = tilecut.enforce_winding(tilecut.tile_cut(self.layer, z))
            if tr.on:
                cut = cut.persist()
                tr.count("tiles.pieces", cut.count())
                tr.count("tiles.geoms", len(self.layer_polys.wkt))
        with tr.span("sources.mvt.encode"):
            df = mvt.mvt_encode(cut)
            if tr.on:
                with tr.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
            got = df.toArrow()
        if tr.on:
            cut.unpersist()

        def check():
            cols = [got.column(c).to_pylist() for c in ("z", "tx", "ty", "n_features", "mvt")]
            oracle.check_tiles(zip(*cols), self.layer_polys.rings, z)
            if tr.on:
                nodes = tracing.plan_metrics(df)
                tr.count("mvt.python_bytes",
                           tracing.metric_sum(nodes, "MapInPandas", "pythonDataSent")
                           + tracing.metric_sum(nodes, "MapInPandas", "pythonDataReceived"))
        return check


WORKLOADS = {w.name: w for w in (Query, JoinTiles)}
