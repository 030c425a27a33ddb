"""Two-cluster-size scaling evidence (north_rule: efficiency >= 0.8
from N to 4N executors).

No real cluster exists in this sandbox, so the same job runs at two
parallelism levels — local[4] (N) and local[16] (4N) — against the
SAME on-disk input, and we report throughput at both plus the
scaling efficiency  (rate_4N / rate_N) / 4.

The job is the engine's benchmark path (SURVEY.md §7.2): read the
interleaved-doc corpus, extract geometry from spans (pure column
regex), Z2-encode, point-in-polygon join against a polygon layer
(broadcast strategy, salted) + tile assignments at res 8 — i.e. the
"spatial-join docs/sec and tile-assignments/sec" metric of
BASELINE.json.

Usage: python bench_scaling.py [n_docs]   (default 16,000,000)
Writes BENCH/BASELINE.md and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CORPUS = os.environ.get(
    "SPARK_GRAFT_SCALE_CORPUS", "/tmp/geomesa_spark_scale_corpus"
)
TEXT_CORPUS = os.environ.get(
    "SPARK_GRAFT_SCALE_TEXT_CORPUS", "/tmp/geomesa_spark_scale_textcorpus"
)
EMB_CORPUS = os.environ.get(
    "SPARK_GRAFT_SCALE_EMB_CORPUS", "/tmp/geomesa_spark_scale_embcorpus"
)
WAREHOUSE = "/tmp/geomesa_spark_scale_warehouse"
POLYS = [
    ("rect", "POLYGON ((10.005 20.005, 80.005 20.005, 80.005 60.005, 10.005 60.005, 10.005 20.005))"),
    ("tri", "POLYGON ((-120.005 -40.005, -60.005 -40.005, -90.005 30.005, -120.005 -40.005))"),
    ("pent", "POLYGON ((100.005 -10.005, 140.005 0.005, 130.005 40.005, 105.005 45.005, 90.005 15.005, 100.005 -10.005))"),
]


def session(cpus: int):
    from geomesa_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": WAREHOUSE}
    evdir = os.environ.get("SPARK_GRAFT_SCALE_EVLOG")
    if evdir:
        # scripts/scaling_breakdown.py parses the stage/task metrics
        # of the TIMED jobs into the compute-vs-exchange attribution
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        f"scaling-{cpus}", master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 2, 16), extra_conf=conf,
    )


def build_corpus(n_docs: int) -> None:
    """One-time deterministic corpus build (not part of the timing)."""
    if os.path.exists(f"{CORPUS}/_SUCCESS"):
        return
    shutil.rmtree(CORPUS, ignore_errors=True)
    from geomesa_spark.sources.docs import synth_docs

    spark = session(32)
    spark.sparkContext.setLogLevel("ERROR")
    synth_docs(spark, n_docs, partitions=256).write.mode("overwrite").parquet(CORPUS)
    spark.stop()


def build_text_corpus(n_docs: int) -> None:
    """One-time deterministic text corpus for the dedup row (untimed).

    48-token documents over a 20,011-word vocabulary (so random
    pairs share ~no trigram shingles and candidate volume is set by
    the ENGINEERED near-dups, not hash noise). Docs are grouped in
    fours; within a group, ~30% of the non-base members are the
    base's token stream with two token substitutions (Jaccard ~0.8,
    well above the 0.5 threshold). splitmix64 counter arithmetic —
    partition-count independent, identical input at both levels.
    """
    if os.path.exists(f"{TEXT_CORPUS}/_SUCCESS"):
        return
    shutil.rmtree(TEXT_CORPUS, ignore_errors=True)
    import numpy as np
    import pandas as pd

    from geomesa_spark.sources.docs import _splitmix64, _u01

    N_TOK = 48

    def gen(batches):
        for pdf in batches:
            idx = pdf["id"].to_numpy()
            base = (idx // 4) * 4
            is_dup = (idx % 4 != 0) & (_u01(idx, 9) < 0.3)
            seed = np.where(is_dup, base, idx)
            # token id matrix: vocab word per (seed, position)
            pos = np.arange(N_TOK, dtype=np.uint64)
            tok = (
                _splitmix64(seed[:, None].astype(np.uint64) * np.uint64(64) + pos)
                % np.uint64(20011)
            ).astype(np.int64)
            # two deterministic substitutions for the dup rows
            p1 = (_splitmix64(idx.astype(np.uint64) + np.uint64(11)) % np.uint64(N_TOK)).astype(np.int64)
            p2 = (_splitmix64(idx.astype(np.uint64) + np.uint64(13)) % np.uint64(N_TOK)).astype(np.int64)
            rows = np.arange(len(idx))
            sub1 = (_splitmix64(idx.astype(np.uint64) + np.uint64(17)) % np.uint64(20011)).astype(np.int64)
            sub2 = (_splitmix64(idx.astype(np.uint64) + np.uint64(19)) % np.uint64(20011)).astype(np.int64)
            dup_rows = rows[is_dup]
            tok[dup_rows, p1[is_dup]] = sub1[is_dup]
            tok[dup_rows, p2[is_dup]] = sub2[is_dup]
            texts = [" ".join(f"w{t}" for t in row) for row in tok]
            yield pd.DataFrame({"doc_id": idx, "text": texts})

    spark = session(32)
    spark.sparkContext.setLogLevel("ERROR")
    (
        spark.range(0, n_docs, 1, 256)
        .mapInPandas(gen, schema="doc_id long, text string")
        .write.mode("overwrite")
        .parquet(TEXT_CORPUS)
    )
    spark.stop()


def build_emb_corpus(n_vecs: int) -> None:
    """One-time deterministic embedding corpus for the ann row
    (untimed): 64-dim uniform [-1, 1) vectors from splitmix64
    counters — partition-count independent, identical input at both
    parallelism levels. Throughput scaling of encode/probe/ADC does
    not depend on cluster structure, so uniform vectors suffice."""
    if os.path.exists(f"{EMB_CORPUS}/_SUCCESS"):
        return
    shutil.rmtree(EMB_CORPUS, ignore_errors=True)
    import numpy as np
    import pandas as pd

    from geomesa_spark.sources.docs import _splitmix64

    DIM = 64

    def gen(batches):
        for pdf in batches:
            idx = pdf["id"].to_numpy()
            pos = np.arange(DIM, dtype=np.uint64)
            h = _splitmix64(
                idx[:, None].astype(np.uint64) * np.uint64(DIM) + pos
            )
            v = (
                (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)
            ) * 2.0 - 1.0
            v = v.astype(np.float32)
            yield pd.DataFrame(
                {"vec_id": idx, "embedding": [row.tolist() for row in v]}
            )

    spark = session(32)
    spark.sparkContext.setLogLevel("ERROR")
    (
        spark.range(0, n_vecs, 1, 256)
        .mapInPandas(gen, schema="vec_id long, embedding array<float>")
        .write.mode("overwrite")
        .parquet(EMB_CORPUS)
    )
    spark.stop()


def _timed_min3(spark, pipeline) -> float:
    """One tagged WARMUP run, then min-of-3 runs tagged TIMED — the
    description rides every job so the breakdown parser can separate
    the measured pipeline from corpus builds and warm-up."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.job.description", "WARMUP")
    pipeline()
    sc.setLocalProperty("spark.job.description", "TIMED")
    wall = float("inf")
    # SPARK_GRAFT_SCALE_RUNS trims the in-process min-of-3 for the
    # expensive amortization sizes (the minimum over fewer runs is a
    # noisier but unbiased-upward wall — noted where used)
    for _ in range(int(os.environ.get("SPARK_GRAFT_SCALE_RUNS", "3"))):
        t0 = time.time()
        pipeline()
        wall = min(wall, time.time() - t0)
    sc.setLocalProperty("spark.job.description", None)
    return wall


def run_job(cpus: int, kind: str = "broadcast") -> tuple[float, int]:
    """The measured job. kind='broadcast': extract -> encode -> salted
    broadcast PIP join + tiles (the shuffle-free headline path).
    kind='shuffle': the cell-partitioned PIP join with broadcast
    DISABLED plus a cell-keyed count aggregation — forcing a real
    two-sided shuffle so the efficiency claim also covers the
    exchange-bound regime.
    kind='geom': non-point geometry-layer join — per-doc derived
    LINESTRING WKT, all-JVM parse, cell-partitioned intersects join
    (the shuffle-bearing path added in r2; 1/8 of the corpus keeps a
    timed run tens of seconds at local[4]).
    kind='knn': distributed kNN join (knn_join_df) of a ~1/1600
    query sample against 1/8 of the corpus — per-round cell-keyed
    shuffle joins + aggregate convergence.
    kind='bucketed': the STORED-LAYOUT answer to the shuffle row —
    points and polygon cover are materialized co-bucketed on the
    parent cell (untimed, the layout amortizes across every later
    join), then the timed job is pip_join_bucketed's zero-Exchange
    sort-merge join + JVM refine."""
    from pyspark.sql import functions as F

    from geomesa_spark.functions import cells as C
    from geomesa_spark.operators.spatial_join import (
        pip_join_broadcast,
        pip_join_partitioned,
    )
    from geomesa_spark.sources.docs import extract_geometry

    spark = session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    if kind == "shuffle":
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    if kind == "ann":
        # IVF x PQ end-to-end: corpus-side list assignment + PQ
        # encode (the stored-layout build, timed here as the
        # dominant per-row work), distributed probe selection, and
        # the probed-list ADC scan + top-k — the embedding analog of
        # the broadcast row's extract/encode/join pipeline
        from geomesa_spark.operators.ann import (
            hyperplanes,
            ivf_pq_topk,
            normalize_centroids,
            pq_hyperplane_codebooks,
        )

        emb = spark.read.parquet(EMB_CORPUS)
        cents = normalize_centroids(hyperplanes(64, 64, seed=5))
        cb = pq_hyperplane_codebooks(64, 8, 16, seed=7)
        queries = emb.filter(F.pmod(F.col("vec_id"), F.lit(8000)) == 0)

        def pipeline():
            out = ivf_pq_topk(emb, queries, 10, cents, cb, n_probes=2)
            out.write.format("noop").mode("overwrite").save()

        wall = _timed_min3(spark, pipeline)
        n = emb.count()
        spark.stop()
        return wall, n
    if kind in ("dedup", "clean"):
        from geomesa_spark.operators.dedup import minhash_lsh_pairs, substring_dedup

        texts = spark.read.parquet(TEXT_CORPUS)

        def pipeline():
            if kind == "dedup":
                out = minhash_lsh_pairs(texts, 0.5, n=3, hash_fn="xxhash")
            else:
                # corpus cleaning: exact-substring excision — the
                # engineered near-dup groups share long token spans,
                # so the duplicate-window set is real, not hash noise
                out = substring_dedup(texts, length=8, min_count=2)
            out.write.format("noop").mode("overwrite").save()

        wall = _timed_min3(spark, pipeline)
        n = texts.count()
        spark.stop()
        return wall, n
    if kind == "graph":
        # iterative-join family on pure graph shape: fixed-round
        # integer PageRank over a synthesized 4M-node / 32M-edge
        # hub-skewed link graph (build untimed; the first 4M-edge
        # sizing ran ~13 s at N and its ratio measured per-round
        # fixed overhead, not the operator — the bucketed-row
        # lesson) — each round is ONE
        # edge-by-rank join + ONE partial-aggregated inflow groupBy +
        # an eager localCheckpoint barrier, with NO driver
        # convergence scalar (rounds are fixed), so this row isolates
        # the per-round shuffle+checkpoint cost that the cluster
        # row mixes with driver-barrier counts.
        from geomesa_spark.operators.graph import pagerank

        # SPARK_GRAFT_SCALE_EDGES sizes the amortization runs (the
        # VERDICT r4 item-1 protocol: the same job at 4x the corpus
        # shows how much of the N->4N deficit is fixed per-round
        # cost); nodes scale with edges to keep mean degree 8
        E = int(os.environ.get("SPARK_GRAFT_SCALE_EDGES", 32_000_000))
        NN = max(1, E // 8)
        ids = spark.range(0, E, 1, 64)
        sid = F.col("id").cast("string")
        hub = F.pmod(
            F.crc32(F.concat(sid, F.lit("h"))), F.lit(100)
        ) < 15
        src = F.pmod(F.crc32(sid), F.lit(NN))
        dst_raw = F.pmod(
            F.crc32(F.concat(sid, F.lit("d"))), F.lit(NN)
        )
        gedges = ids.select(
            src.alias("src"),
            F.when(hub, F.pmod(dst_raw, F.lit(50)))
            .otherwise(dst_raw).alias("dst"),
        ).localCheckpoint(eager=True)  # input build untimed

        def pipeline():
            # the per-round checkpoints are eager, so the rounds run
            # inside this call — the write is just the final drain
            out = pagerank(gedges, rounds=8)
            out.write.format("noop").mode("overwrite").save()

        wall = _timed_min3(spark, pipeline)
        n = gedges.count()
        spark.stop()
        return wall, n

    if kind == "tilecut":
        # per-row-compute family: the vector-tile pipeline (WKT parse
        # + mercator + S-H clip + winding + batched MVT packing) over
        # 320k synthesized triangles at z=7 — embarrassingly parallel
        # (sized ~90 s at N so fixed overhead is not the measurement
        # — the bucketed-row lesson; the first 48k sizing ran 13 s)
        # row work plus ONE pinned-width shuffle into the packer, so
        # this row evidences the cutter's scale path directly (the
        # "tile assignments" half of the headline metric).  Input
        # build untimed.
        from geomesa_spark.operators.tilecut import (
            enforce_winding, tile_cut,
        )
        from geomesa_spark.sources.mvt import mvt_encode

        NT = int(os.environ.get("SPARK_GRAFT_SCALE_TRIS", "320000"))
        ids = spark.range(0, NT, 1, 64)
        fx = (F.pmod(F.crc32(F.col("id").cast("string")), F.lit(33000))
              / F.lit(100.0) - F.lit(170.0))
        fy = (F.pmod(F.crc32(F.concat(F.col("id").cast("string"),
                                      F.lit("y"))), F.lit(15000))
              / F.lit(100.0) - F.lit(75.0))
        wkt = F.concat(
            F.lit("POLYGON (("),
            fx, F.lit(" "), fy, F.lit(", "),
            fx + F.lit(2.004), F.lit(" "), fy + F.lit(0.504),
            F.lit(", "),
            fx + F.lit(1.002), F.lit(" "), fy + F.lit(1.506),
            F.lit(", "), fx, F.lit(" "), fy, F.lit("))"),
        )
        tris = ids.select(
            F.col("id").alias("geom_id"), wkt.alias("geom_wkt")
        ).localCheckpoint(eager=True)  # input build untimed

        def pipeline():
            out = mvt_encode(
                enforce_winding(tile_cut(tris, 7)), kind="polygon"
            )
            out.write.format("noop").mode("overwrite").save()

        wall = _timed_min3(spark, pipeline)
        n = tris.count()
        spark.stop()
        return wall, n

    docs = spark.read.parquet(CORPUS)
    polys_df = spark.createDataFrame(POLYS, "poly_id string, geom_wkt string")
    if kind in ("geom", "knn"):
        # deterministic 1/8 subset: identical input at both levels
        docs = docs.filter(F.pmod(F.crc32(F.col("doc_id")), F.lit(8)) == 0)

    if kind == "cluster":
        # iterative-family evidence: DBSCAN = bounded eps-pair mining
        # + core test + DRIVER-SYNCHRONIZED pointer-jumping component
        # rounds — the only kind whose critical path includes repeated
        # whole-frame joins with a driver convergence scalar between
        # them. 1/64 corpus (~250k points) rehashed into ~12.5k
        # engineered blobs (20 pts each, ±0.01 deg; lattice-adjacent
        # blobs chain, so components span blobs and the jump rounds
        # do real work) — eps=0.01, min_pts=5. Sized so the timed job
        # is ~1 min at N: the round count is O(log diameter) and the
        # per-round fixed costs (driver barrier, convergence count)
        # are the honest Amdahl fraction of this family.
        from geomesa_spark.operators.cluster import dbscan

        # SPARK_GRAFT_SCALE_CLUSTER_DIV widens the corpus for the
        # amortization runs (div 64 -> 250k pts default; div 16 ->
        # 1M); blob count scales to keep ~20 points per blob so the
        # mining density and round count stay comparable
        cdiv = int(os.environ.get("SPARK_GRAFT_SCALE_CLUSTER_DIV", 64))
        base = docs.filter(
            F.pmod(F.crc32(F.col("doc_id")), F.lit(cdiv)) == 0
        ).select("doc_id")
        nblobs = 12_500 * max(1, 64 // cdiv)
        blob = F.pmod(F.crc32(F.col("doc_id")), F.lit(nblobs))
        jx = (F.pmod(F.crc32(F.concat(F.col("doc_id"), F.lit("x"))),
                     F.lit(2001)) - F.lit(1000)) / F.lit(100_000.0)
        jy = (F.pmod(F.crc32(F.concat(F.col("doc_id"), F.lit("y"))),
                     F.lit(2001)) - F.lit(1000)) / F.lit(100_000.0)
        cpts = base.select(
            "doc_id",
            ((blob * 9973 % 36000) / F.lit(100.0) - F.lit(180.0) + jx
             ).alias("lon"),
            ((blob * 7919 % 17800) / F.lit(100.0) - F.lit(89.0) + jy
             ).alias("lat"),
        ).localCheckpoint(eager=True)  # input build untimed

        def pipeline():
            out = dbscan(cpts, 0.01, 5, "doc_id", metric="planar")
            out.write.format("noop").mode("overwrite").save()
            out.unpersist()

        wall = _timed_min3(spark, pipeline)
        n = cpts.count()
        spark.stop()
        return wall, n

    if kind == "bucketed":
        # UNTIMED one-time layout build (the whole point of the stored
        # layout: its shuffle amortizes across every subsequent join).
        # The catalog is session-scoped, so each measured process
        # rebuilds it; clear_stale_location reclaims the previous
        # process's orphaned managed-table dirs.
        from geomesa_spark.operators.spatial_join import (
            pip_join_bucketed,
            write_cover_bucketed,
            write_points_bucketed,
        )

        ptbl, ctbl = f"scale_pts_{cpus}", f"scale_cover_{cpus}"
        # Replicate the point side 8x (distinct doc_ids) in the
        # UNTIMED build: the zero-Exchange join is ~6x cheaper per
        # row than the broadcast pipeline, so at 16M rows the timed
        # wall (~2.5 s at 4N) is dominated by fixed scheduling
        # overhead and the efficiency ratio measures Amdahl's
        # constant, not the operator. 128M rows keeps the timed job
        # tens of seconds at N — the regime the rule is about.
        pts_rep = (
            extract_geometry(docs)
            .withColumn("_copy", F.explode(F.sequence(F.lit(0), F.lit(7))))
            .withColumn(
                "doc_id", F.concat_ws("#", F.col("doc_id"), F.col("_copy"))
            )
            .drop("_copy")
        )
        write_points_bucketed(
            pts_rep, ptbl, bits=6, n_buckets=64,
            clear_stale_location=True,
        )
        write_cover_bucketed(
            polys_df, ctbl, bits=6, n_buckets=64, clear_stale_location=True
        )

    def pipeline():
        pts = extract_geometry(docs)
        if kind == "shuffle":
            joined = pip_join_partitioned(pts, polys_df, bits=6).withColumn(
                "tile", C.cell_parent(F.col("cell"), C.XY_BITS, 8)
            )
            out = joined.groupBy("tile", "poly_id").count()
        elif kind == "geom":
            import __spark_entry__ as E
            from geomesa_spark.operators import geom_data as GD

            lines = E._gate_lines(
                pts.withColumnRenamed("doc_id", "event_id")
            )
            out = GD.geom_join_partitioned(
                GD.geom_table_native(lines), polys_df, bits=6
            ).select("gid", "poly_id")
        elif kind == "knn":
            from geomesa_spark.operators.knn import knn_join_df

            queries = pts.filter(
                F.pmod(F.crc32(F.col("doc_id")), F.lit(1600)) == 1
            ).select(
                F.col("doc_id").alias("qid"),
                F.col("lon").alias("qlon"),
                F.col("lat").alias("qlat"),
            )
            out = knn_join_df(pts, queries, k=5).select(
                "qid", "doc_id", "rank"
            )
        elif kind == "tracks":
            # window-family evidence: one shuffle on the track key,
            # then per-track sort (track_metrics window) + same-key
            # rollup — the only kind whose cost is sort-bound rather
            # than join/aggregation-bound
            from geomesa_spark.operators.tracks import track_summary

            tr = pts.withColumn(
                "track", F.pmod(F.crc32(F.col("doc_id")), F.lit(200_000))
            )
            out = track_summary(
                tr, "track", "dtg", metric="haversine",
                tiebreak_col="doc_id", fp_scale=1_000_000,
            )
        elif kind == "bucketed":
            out = pip_join_bucketed(
                spark, ptbl, ctbl, polys_df, bits=6
            ).select("doc_id", "poly_id")
        else:
            joined = pip_join_broadcast(pts, POLYS).withColumn(
                "tile", C.cell_parent(F.col("cell"), C.XY_BITS, 8)
            )
            out = joined.select("doc_id", "poly_id", "tile")
        out.write.format("noop").mode("overwrite").save()

    # min-of-3 (inside _timed_min3): this sandbox is a shared VM with
    # heavy run-to-run interference at high thread counts; the minimum
    # is the least contaminated estimate of the engine's own cost
    wall = _timed_min3(spark, pipeline)
    if kind == "bucketed":
        n = spark.table(ptbl).count()  # the replicated stored layout
    else:
        n = docs.count()
    spark.stop()
    return wall, n


def _run_job_subprocess(cpus: int, kind: str = "broadcast") -> tuple[float, int]:
    """Each measurement in a FRESH python process: py4j reuses one
    JVM across SparkSessions, and a second, larger session in a used
    JVM GC-thrashes (~7x slow) — a measurement artifact, not engine
    behavior."""
    import subprocess

    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--job", str(cpus), kind],
        capture_output=True, text=True, check=True,
    )
    line = out.stdout.strip().splitlines()[-1]
    d = json.loads(line)
    return d["wall"], d["n"]


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--job":
        kind = sys.argv[3] if len(sys.argv) > 3 else "broadcast"
        wall, n = run_job(int(sys.argv[2]), kind)
        print(json.dumps({"wall": wall, "n": n}))
        return

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 16_000_000

    # the whole two-level protocol repeats (interleaved) and each
    # level keeps its MINIMUM wall across repeats: ambient co-tenant
    # load on this shared VM contaminates individual measurements by
    # up to ~45%, and the minimum is the least-contaminated estimate
    # of the engine's own cost (same rationale as the in-process
    # min-of-3)
    repeats = int(os.environ.get("SPARK_GRAFT_SCALING_REPEATS", "2"))
    VALID_KINDS = (
        "broadcast", "shuffle", "bucketed", "geom", "knn", "dedup", "clean",
        "ann", "tracks", "cluster", "graph", "tilecut",
    )
    kinds = [
        k.strip()
        for k in os.environ.get(
            "SPARK_GRAFT_SCALING_KINDS",
            "broadcast,shuffle,bucketed,geom,knn,dedup,clean,ann,tracks,cluster,graph,tilecut",
        ).split(",")
        if k.strip()
    ]
    bad = [k for k in kinds if k not in VALID_KINDS]
    if bad or not kinds:
        # an unknown token would silently fall through to the
        # broadcast job and record mislabeled evidence — refuse
        raise SystemExit(
            f"invalid SPARK_GRAFT_SCALING_KINDS "
            f"({bad or 'empty'}); valid: {VALID_KINDS}"
        )
    if any(k in kinds for k in ("broadcast", "shuffle", "bucketed", "geom",
                                "knn", "tracks", "cluster")):
        # the spatial corpus is only needed by the spatial kinds — a
        # text-only protocol run shouldn't pay the 16M-doc build
        build_corpus(n_docs)
    if "dedup" in kinds or "clean" in kinds:
        # 1/16 of the spatial corpus keeps the timed dedup/clean jobs
        # tens of seconds at local[4] (signature+band+verify is ~25x
        # the per-row cost of the broadcast PIP pipeline)
        build_text_corpus(n_docs // 16)
    if "ann" in kinds:
        # 1/4 of the nominal row count: IVFPQ encode+probe+ADC costs
        # ~4x the broadcast pipeline's per-row work
        build_emb_corpus(n_docs // 4)
    walls: dict[tuple[str, int], float] = {
        (k, c): float("inf") for k in kinds for c in (4, 16)
    }
    ns: dict[str, int] = {}
    for _ in range(repeats):
        for k in kinds:
            for c in (4, 16):
                w, nk = _run_job_subprocess(c, k)
                walls[(k, c)] = min(walls[(k, c)], w)
                ns[k] = nk
    eff = {
        k: ((ns[k] / walls[(k, 16)]) / (ns[k] / walls[(k, 4)])) / 4.0
        for k in kinds
    }
    # headline = broadcast when present, else the first kind run —
    # never a fabricated 0.0 that reads as a failed north_rule gate
    headline = "broadcast" if "broadcast" in kinds else kinds[0]
    n = ns[headline]
    wall8, wall32 = walls[(headline, 4)], walls[(headline, 16)]
    out = {
        "metric": (
            f"scaling efficiency local[4]->local[16] (N->4N), "
            f"headline={headline}"
        ),
        "n_docs": n,
        "wall_sec_n": round(wall8, 2),
        "wall_sec_4n": round(wall32, 2),
        "docs_per_sec_n": round(n / wall8, 1),
        "docs_per_sec_4n": round(n / wall32, 1),
        "efficiency": round(eff[headline], 3),
        "per_kind": {
            k: {
                "n_rows": ns[k],
                "wall_sec_n": round(walls[(k, 4)], 2),
                "wall_sec_4n": round(walls[(k, 16)], 2),
                "efficiency": round(eff[k], 3),
            }
            for k in kinds
        },
    }
    os.makedirs("BENCH", exist_ok=True)
    kind_desc = {
        "graph": "fixed-round integer PageRank (8 synchronous rounds) "
                 "over a synthesized 4M-node / 32M-edge hub-skewed "
                 "link graph (build untimed): per round one edge-by-"
                 "rank join + one partial-aggregated inflow groupBy + "
                 "an eager localCheckpoint barrier, NO driver "
                 "convergence scalar — isolates the per-round shuffle/"
                 "checkpoint cost of the iterative-join family",
        "tilecut": "vector-tile pipeline (WKT parse + mercator "
                   "projection + Sutherland-Hodgman clip + v2 winding "
                   "+ batched MVT protobuf packing) over 320k synthetic "
                   "triangles at z=7 (input build untimed): per-row "
                   "JVM-HOF compute plus ONE pinned-width shuffle into "
                   "the mapInPandas packer — the per-row-compute "
                   "family, evidencing the cutter half of the "
                   "tile-assignments metric",
        "broadcast": "span->geometry extraction, Z2 encode, salted "
                     "BROADCAST PIP join vs 3 polygons, tile assignment "
                     "(the shuffle-free headline path)",
        "shuffle": "cell-PARTITIONED PIP join, broadcast disabled, plus a "
                   "cell-keyed aggregation — both sides shuffle on the "
                   "salted cell key (exchange-bound regime)",
        "bucketed": "the STORED-LAYOUT answer to the shuffle row: points "
                    "and polygon cover pre-materialized co-bucketed on the "
                    "parent cell (layout build untimed — it amortizes over "
                    "every later join), timed job = pip_join_bucketed's "
                    "zero-Exchange per-bucket sort-merge join + broadcast "
                    "edges + JVM refine. The stored point side is the "
                    "corpus replicated 8x with distinct doc_ids so the "
                    "timed job is not fixed-overhead-dominated (at 16M "
                    "rows it ran ~2.5 s at 4N and the ratio measured "
                    "Amdahl's constant, not the operator). READ THE "
                    "ABSOLUTE THROUGHPUT, not just the ratio: the layout "
                    "removes the Exchange AND all per-row extraction/"
                    "encode work, so per-row throughput is ~16x the "
                    "shuffle row's AT BOTH LEVELS — what remains is a "
                    "scan+merge join at millions of rows/sec/core whose "
                    "local-mode ratio saturates one machine's memory "
                    "bandwidth (all 16 threads stream the same DRAM bus); "
                    "on a real cluster scan bandwidth scales with "
                    "executor count, which is exactly why this row is a "
                    "lower bound",
        "geom": "per-doc derived LINESTRING WKT, all-JVM parse "
                "(geom_table_native), cell-partitioned geometry-layer "
                "intersects join (geom_join_partitioned) on 1/8 of the "
                "corpus. NOTE: r3's single-parse fix (localCheckpoint) cut "
                "absolute walls ~35-55% vs r2-code runs but LOWERED the "
                "efficiency ratio — the redundant parse it removed was the "
                "embarrassingly-parallel fraction; what remains is "
                "exchange-bound and shares one machine's memory bus here",
        "knn": "distributed kNN join (knn_join_df, k=5): ~1/1600 query "
               "sample vs 1/8 of the corpus — per-round cell-keyed "
               "shuffle joins + aggregate convergence. NOTE: total wall "
               "is short (~5-14 s), so the fixed per-round costs (stage "
               "scheduling, convergence scalars, localCheckpoints) are a "
               "visible Amdahl fraction at 4N; at production query "
               "volumes the per-row work dominates and efficiency "
               "approaches the broadcast row's",
        "dedup": "MinHash-LSH near-dup pair mining (the LLM-pipeline "
                 "family): 16-hash signatures over word trigrams "
                 "(xxhash production path), 4-band pigeonhole "
                 "bucketing, banded equi-self-join, exact-Jaccard "
                 "verify of candidates only — over a 48-token/doc "
                 "synthetic corpus (20k vocab, ~22% engineered "
                 "near-dups at J~0.8, random pairs share no "
                 "shingles). Signature compute is embarrassingly "
                 "parallel; the band join and verify join are the "
                 "exchange-bound fraction",
        "clean": "exact-substring excision (substring_dedup, L=8, "
                 "min_count=2) over the same engineered-near-dup text "
                 "corpus — the Lee-et-al ExactSubstr cleanup: rolling "
                 "window hash, corpus-wide duplicated-window count, "
                 "covered-position fan-out bounded by L x duplicate "
                 "occurrences, in-order token reassembly. A "
                 "token-explode-heavy aggregation profile (rows "
                 "amplified ~48x into the window groupBy) distinct "
                 "from the dedup row's band join",
        "tracks": "track dynamics rollup (track_summary over "
                  "track_metrics): span->geometry extraction, 200k "
                  "synthetic tracks (~80 points each via "
                  "crc32(doc_id) % 200k), ONE shuffle on the track key "
                  "then a per-track sort window (lag/row_number/"
                  "running sum, haversine legs) and a same-key rollup "
                  "that reuses the window's partitioning (no second "
                  "Exchange). The sort-bound window family — a "
                  "different execution shape from every join/"
                  "aggregation row above",
        "ann": "IVF x PQ similarity search end-to-end (ivf_pq_topk, "
               "64 lists / 2 probes, M=8 k=16 codebooks): corpus-side "
               "list assignment (Arrow matmul) + PQ encode (JVM "
               "codegen) — the stored-layout build, the dominant "
               "per-row work — plus distributed probe selection and "
               "the probed-list ADC scan + top-k for a "
               "1-in-8000-vector query sample, over 64-dim splitmix64 "
               "vectors. The embedding analog of the broadcast row's "
               "extract/encode/join pipeline",
        "cluster": "DBSCAN (cluster.dbscan, eps=0.01, min_pts=5) over "
                   "1/64 of the corpus rehashed into ~12.5k engineered "
                   "20-point blobs (lattice-adjacent blobs chain): grid-bounded eps-pair mining "
                   "(single-meeting-cell self-join), core test, then "
                   "POINTER-JUMPING connected components — the only "
                   "row whose critical path is iterative: repeated "
                   "whole-frame joins with a driver convergence "
                   "scalar between rounds (the dedup_filter/"
                   "semantic_dedup execution family). Per-round "
                   "barriers make the fixed fraction visible at 4N; "
                   "component diameters bound the round count at "
                   "O(log d) regardless of corpus size",
    }
    sections_by_kind: dict[str, str] = {}
    for k in kinds:
        w4, w16 = walls[(k, 4)], walls[(k, 16)]
        nk = ns[k]
        sections_by_kind[k] = (
            f"""## {k} path

{kind_desc.get(k, k)} — {nk:,} input rows.

| parallelism | wall (s) | rows/sec |
| --- | --- | --- |
| local[4]  (N)  | {w4:.2f} | {nk / w4:,.0f} |
| local[16] (4N) | {w16:.2f} | {nk / w16:,.0f} |

**Efficiency (rate_4N / rate_N) / 4 = {eff[k]:.3f}**
"""
        )
    # a PARTIAL protocol run (SPARK_GRAFT_SCALING_KINDS subset) must
    # not destroy the recorded evidence for the kinds it skipped —
    # carry their sections over verbatim from the existing file
    md_path = "BENCH/BASELINE.md"
    if os.path.exists(md_path):
        old_md = open(md_path).read()
        for k in VALID_KINDS:
            if k in sections_by_kind:
                continue
            m = re.search(
                rf"^## {k} path\n.*?(?=^## |^Why it scales|\Z)",
                old_md,
                re.S | re.M,
            )
            if m:
                sections_by_kind[k] = m.group(0).rstrip() + "\n"
    body = "\n".join(
        sections_by_kind[k] for k in VALID_KINDS if k in sections_by_kind
    )
    # the narrative headline is always the broadcast row when its
    # section exists (measured now or carried over); the printed JSON
    # keeps this run's own headline
    md_headline = (
        "broadcast"
        if "broadcast" in sections_by_kind
        else next(k for k in VALID_KINDS if k in sections_by_kind)
    )
    with open(md_path, "w") as f:
        f.write(
            f"""# BENCH/BASELINE — scaling + throughput evidence

## Two-cluster-size scaling (north_rule protocol for this sandbox)

No real cluster exists here, so the same job runs at two parallelism
levels — local[4] (N) and local[16] (4N) — against the SAME on-disk
input (per-path row counts in each section below). The headline
(north_rule target >= 0.8) is the `{md_headline}` path; the other
rows cover every shuffle-bearing operator family added since
(cell-partitioned PIP, geometry-layer join, distributed kNN join,
MinHash-LSH dedup, exact-substring cleaning) plus the bucketed
stored layout. Local-mode shuffles share one machine's memory bus
and disk, so the shuffle-bearing rows are LOWER bounds on real
multi-node scaling where exchange bandwidth grows with the cluster.

{body}

Why it scales: every stage is embarrassingly parallel — the scan is
split-per-file, extraction/encoding are narrow column ops inside
whole-stage codegen, the polygon side is broadcast (zero shuffle of
the doc table on the headline path), and the exact refines are
JVM-side edge aggregates (no Python anywhere in the hot paths). The
only serial parts are driver-side cover planning (milliseconds) and
Spark scheduling — Amdahl-bounded, which is why the corpus must be
large enough that parallel work dominates (at 10^12 docs it
trivially does).

Methodology notes:
- each level runs in a fresh python process (py4j reuses one JVM
  across SparkSessions; a second larger session in a used JVM
  GC-thrashes ~7x — a measurement artifact, not engine behavior)
- one warm-up pipeline run per level (codegen compile, page cache),
  then min-of-3 timed runs IN-process, and the whole multi-level
  protocol repeats (interleaved) with each (kind, level) keeping its
  minimum wall across repeats: this sandbox is a shared VM whose
  co-tenant load moves individual measurements by up to ~45%, and
  the minimum is the least-contaminated estimate of the engine's
  own cost
- N=4 / 4N=16 leaves host headroom so co-tenant noise does not
  dominate the 4N measurement on this 32-vCPU box

Regenerate: `python bench_scaling.py {n_docs}`
"""
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
