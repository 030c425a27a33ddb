"""Bucketed layout: cell-keyed joins and aggregations run without a
shuffle Exchange (the co-located join strategy for 100 TB)."""

import pandas as pd
import numpy as np
from pyspark.sql import functions as F

from geomesa_spark.functions import cells as C
from geomesa_spark.sources.bucketed import read_bucketed, write_bucketed


def _pts(spark, n, seed):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "doc_id": [f"d{seed}_{i}" for i in range(n)],
            "lon": rng.uniform(-180, 180, n),
            "lat": rng.uniform(-90, 90, n),
        }
    )
    df = spark.createDataFrame(pdf)
    return df.withColumn(
        "pcell", C.cell_parent(C.z2_cell(F.col("lon"), F.col("lat")), C.XY_BITS, 6)
    )


def test_cobucketed_join_and_agg_no_shuffle(spark, tmp_path):
    import shutil

    # warehouse.dir is a static conf: tables land in the session's
    # default warehouse; clean both catalog entries and any leftover
    # directories from crashed runs
    for t in ("b_left", "b_right"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    write_bucketed(_pts(spark, 3000, 1), "b_left", bucket_col="pcell", n_buckets=8)
    write_bucketed(_pts(spark, 2000, 2), "b_right", bucket_col="pcell", n_buckets=8)
    left = read_bucketed(spark, "b_left")
    right = read_bucketed(spark, "b_right").select(
        F.col("pcell"), F.col("doc_id").alias("rid")
    )

    # disable broadcast so the planner picks the sort-merge join the
    # bucketing is designed for (at 100 TB neither side broadcasts)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = left.join(right, "pcell")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan  # co-located: no shuffle at all
        assert "SortMergeJoin" in plan
        # results still correct vs a plain (shuffled) join
        plain = _pts(spark, 3000, 1).join(
            _pts(spark, 2000, 2).select(
                F.col("pcell"), F.col("doc_id").alias("rid")
            ),
            "pcell",
        )
        assert joined.count() == plain.count()

        agg = left.groupBy("pcell").count()
        aplan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in aplan, aplan  # bucket-key agg: map-side only
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    got = {r.pcell: r["count"] for r in agg.collect()}
    exp = {r.pcell: r["count"] for r in _pts(spark, 3000, 1).groupBy("pcell").count().collect()}
    assert got == exp
    spark.sql("DROP TABLE IF EXISTS b_left")
    spark.sql("DROP TABLE IF EXISTS b_right")


def test_pip_join_bucketed_zero_exchange(spark):
    """Co-bucketed point + cover tables join with ZERO Exchange in
    the executed plan (VERDICT r2 #6) and match pip_join_broadcast
    exactly."""
    import shutil

    from geomesa_spark.operators import spatial_join as SJ

    for t in ("bk_pts", "bk_cov"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)

    rng = np.random.default_rng(11)
    n = 5000
    pdf = pd.DataFrame(
        {
            "doc_id": [f"p{i}" for i in range(n)],
            "lon": rng.uniform(-40, 40, n),
            "lat": rng.uniform(-30, 30, n),
        }
    )
    points = spark.createDataFrame(pdf).withColumn(
        "cell", C.z2_cell(F.col("lon"), F.col("lat"))
    )
    layer = [
        ("pa", "POLYGON ((-20 -10, 10 -10, 10 15, -20 15, -20 -10))"),
        ("pb", "POLYGON ((15 -20, 35 -20, 25 5, 15 -20))"),
    ]
    polys = spark.createDataFrame(layer, "poly_id string, geom_wkt string")
    bits = 6
    SJ.write_points_bucketed(points, "bk_pts", bits=bits, n_buckets=8)
    SJ.write_cover_bucketed(polys, "bk_cov", bits=bits, budget=4096, n_buckets=8)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = SJ.pip_join_bucketed(spark, "bk_pts", "bk_cov", polys, bits=bits)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the only allowed data movement is the explicit edge/cover
        # broadcasts — no shuffle Exchange of either bucketed side
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan
        got = sorted((r.doc_id, r.poly_id)
                     for r in out.select("doc_id", "poly_id").collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    exp = sorted(
        (r.doc_id, r.poly_id)
        for r in SJ.pip_join_broadcast(points, layer, bits=12)
        .select("doc_id", "poly_id").collect()
    )
    assert got == exp and len(exp) > 0
    spark.sql("DROP TABLE IF EXISTS bk_pts")
    spark.sql("DROP TABLE IF EXISTS bk_cov")


def test_geom_join_bucketed_matches_broadcast(spark):
    """Co-bucketed exploded geometry cover + polygon cover join with
    no shuffle of either table (the only Exchange is the candidate
    dedup) and match geom_join_broadcast exactly — including a
    budget-degraded continental data polygon."""
    import shutil

    from geomesa_spark.operators import geom_data as GD
    from geomesa_spark.operators import spatial_join as SJ

    for t in ("bg_geoms", "bg_cov"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)

    rng = np.random.default_rng(23)
    rows = []
    for i in range(300):
        x, y = rng.uniform(-160, 120, 2)[0], rng.uniform(-70, 60, 2)[0]
        if i % 3 == 0:
            rows.append((f"g{i}", f"POLYGON (({x} {y}, {x+5} {y}, {x+2.5} {y+4}, {x} {y}))"))
        elif i % 3 == 1:
            rows.append((f"g{i}", f"LINESTRING ({x} {y}, {x+8} {y+3})"))
        else:
            rows.append((f"g{i}", f"POINT ({x} {y})"))
    rows.append(("continent", "POLYGON ((-120 -30, 60 -30, 60 30, -120 30, -120 -30))"))
    gdf = GD.geom_table(
        spark.createDataFrame(rows, "gid string, geom_wkt string")
    )
    layer = [
        ("qa", "POLYGON ((-20 -15, 15 -15, 15 18, -20 18, -20 -15))"),
        ("qb", "POLYGON ((40 -50, 90 -50, 65 -20, 40 -50))"),
    ]
    polys = spark.createDataFrame(layer, "poly_id string, geom_wkt string")
    bits = 7
    GD.write_geoms_bucketed(gdf, "bg_geoms", bits=bits, budget=64, n_buckets=8)
    SJ.write_cover_bucketed(polys, "bg_cov", bits=bits, budget=65536, n_buckets=8)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = GD.geom_join_bucketed(spark, "bg_geoms", "bg_cov", polys, bits=bits)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # the candidate join itself shuffles NEITHER table: the only
        # allowed Exchanges are the (gid, poly_id) candidate dedup
        # and the tiny coarse-cover rollup dedup on the broadcast prep
        assert plan.count("Exchange hashpartitioning") <= 2, plan
        got = sorted((r.gid, r.poly_id)
                     for r in out.select("gid", "poly_id").collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    exp = sorted(
        (r.gid, r.poly_id)
        for r in GD.geom_join_broadcast(gdf, layer, bits=bits)
        .select("gid", "poly_id").collect()
    )
    assert got == exp and len(exp) > 0
    assert any(g == "continent" for g, _ in got)
    spark.sql("DROP TABLE IF EXISTS bg_geoms")
    spark.sql("DROP TABLE IF EXISTS bg_cov")


def test_pip_join_bucketed_salted_layout(spark):
    """salt_buckets > 1 spreads a hot cell across buckets while the
    join stays zero-Exchange and exactly equal to the unsalted
    result (cover rows replicate per salt; coarse branch dedups)."""
    import shutil

    from geomesa_spark.operators import spatial_join as SJ

    for t in ("bs_pts", "bs_cov"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)

    rng = np.random.default_rng(31)
    # hot cluster: 4000 points inside ONE parent cell + background
    n_hot, n_bg = 4000, 1000
    pdf = pd.DataFrame(
        {
            "doc_id": [f"h{i}" for i in range(n_hot)]
            + [f"b{i}" for i in range(n_bg)],
            "lon": np.concatenate(
                [rng.uniform(2.0, 3.0, n_hot), rng.uniform(-60, 60, n_bg)]
            ),
            "lat": np.concatenate(
                [rng.uniform(2.0, 3.0, n_hot), rng.uniform(-40, 40, n_bg)]
            ),
        }
    )
    points = spark.createDataFrame(pdf).withColumn(
        "cell", C.z2_cell(F.col("lon"), F.col("lat"))
    )
    layer = [("qa", "POLYGON ((-10 -10, 20 -10, 20 20, -10 20, -10 -10))")]
    polys = spark.createDataFrame(layer, "poly_id string, geom_wkt string")
    bits, salts = 6, 4
    SJ.write_points_bucketed(
        points, "bs_pts", bits=bits, n_buckets=8, salt_buckets=salts
    )
    SJ.write_cover_bucketed(
        polys, "bs_cov", bits=bits, budget=4096, n_buckets=8,
        salt_buckets=salts,
    )
    # the salted layout really uses the composite key
    assert "psalt" in spark.table("bs_pts").columns
    n_salts = spark.table("bs_pts").select("psalt").distinct().count()
    assert n_salts == salts

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = SJ.pip_join_bucketed(spark, "bs_pts", "bs_cov", polys, bits=bits)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan
        got = sorted((r.doc_id, r.poly_id)
                     for r in out.select("doc_id", "poly_id").collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    exp = sorted(
        (r.doc_id, r.poly_id)
        for r in SJ.pip_join_broadcast(points, layer, bits=12)
        .select("doc_id", "poly_id").collect()
    )
    assert got == exp and len(exp) >= n_hot
    # mismatched salting is refused loudly
    import pytest as _pytest

    SJ.write_cover_bucketed(polys, "bs_cov", bits=bits, budget=4096,
                            n_buckets=8, clear_stale_location=True)
    with _pytest.raises(ValueError):
        SJ.pip_join_bucketed(spark, "bs_pts", "bs_cov", polys, bits=bits)
    spark.sql("DROP TABLE IF EXISTS bs_pts")
    spark.sql("DROP TABLE IF EXISTS bs_cov")


def test_salted_layout_spreads_identical_coordinates(spark):
    """Duplicate-coordinate hot spot: thousands of rows at ONE exact
    coordinate (one fine cell) must still spread across salts — the
    salt mixes a per-row unique id, not just the cell (r3 ADVICE)."""
    import shutil

    from geomesa_spark.operators import spatial_join as SJ

    spark.sql("DROP TABLE IF EXISTS dupc_pts")
    shutil.rmtree("spark-warehouse/dupc_pts", ignore_errors=True)
    n = 2000
    pdf = pd.DataFrame(
        {"doc_id": [f"d{i}" for i in range(n)],
         "lon": [2.5] * n, "lat": [2.5] * n}
    )
    points = spark.createDataFrame(pdf).withColumn(
        "cell", C.z2_cell(F.col("lon"), F.col("lat"))
    )
    SJ.write_points_bucketed(
        points, "dupc_pts", bits=6, n_buckets=8, salt_buckets=4
    )
    per_salt = {
        r.psalt: r.cnt
        for r in spark.table("dupc_pts")
        .groupBy("psalt").agg(F.count("*").alias("cnt")).collect()
    }
    assert len(per_salt) == 4  # all salts used despite one coordinate
    assert max(per_salt.values()) < n  # no single-salt pile-up
    spark.sql("DROP TABLE IF EXISTS dupc_pts")


def test_clear_stale_location_respects_current_database(spark):
    """clear_stale_location must not delete default.t's data when the
    CURRENT database is somedb and somedb.t is missing (r3 ADVICE:
    tableExists resolves against the current db, the deleted path is
    default's location)."""
    import os
    import shutil

    from geomesa_spark.sources.bucketed import write_bucketed

    spark.sql("DROP TABLE IF EXISTS csl_t")
    shutil.rmtree("spark-warehouse/csl_t", ignore_errors=True)
    df = spark.range(10).select(
        F.col("id").alias("cell"), (F.col("id") * 2).alias("v")
    )
    # live table in default
    write_bucketed(df, "csl_t", bucket_col="cell", n_buckets=2)
    assert os.path.isdir("spark-warehouse/csl_t")
    spark.sql("CREATE DATABASE IF NOT EXISTS csl_db")
    spark.catalog.setCurrentDatabase("csl_db")
    try:
        # somedb.csl_t does not exist; the stale-location guard must
        # NOT touch default.csl_t's directory
        write_bucketed(
            df, "csl_t", bucket_col="cell", n_buckets=2,
            clear_stale_location=True,
        )
        assert spark.table("csl_db.csl_t").count() == 10
    finally:
        spark.catalog.setCurrentDatabase("default")
    # the default-db table survived with its data intact
    assert spark.table("default.csl_t").count() == 10
    spark.sql("DROP TABLE IF EXISTS csl_db.csl_t")
    spark.sql("DROP DATABASE IF EXISTS csl_db")
    spark.sql("DROP TABLE IF EXISTS csl_t")


def test_salt_buckets_mismatch_raises(spark, tmp_path_factory):
    """Join-family review regression: a presence-only salt guard let
    8-way points join a 4-way cover — points with psalt in [4,8)
    silently vanished. The written salt count is recorded in
    TBLPROPERTIES and compared; a missing count raises."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from geomesa_spark.functions import cells as C
    from geomesa_spark.operators.spatial_join import (
        pip_join_bucketed,
        write_cover_bucketed,
        write_points_bucketed,
    )

    pts = spark.createDataFrame(
        [(f"d{i}", float(i % 30), float(i % 20)) for i in range(200)],
        "doc_id string, lon double, lat double",
    ).withColumn("cell", C.z2_cell(F.col("lon"), F.col("lat")))
    polys = spark.createDataFrame(
        [("box", "POLYGON ((0 0, 40 0, 40 30, 0 30, 0 0))")],
        "poly_id string, geom_wkt string",
    )
    for t in ("mm_pts", "mm_cov"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    write_points_bucketed(pts, "mm_pts", bits=6, n_buckets=4, salt_buckets=8,
                          clear_stale_location=True)
    write_cover_bucketed(polys, "mm_cov", bits=6, n_buckets=4, salt_buckets=4,
                         clear_stale_location=True)
    with _pytest.raises(ValueError, match="salt_buckets mismatch"):
        pip_join_bucketed(spark, "mm_pts", "mm_cov", polys, bits=6)
    write_cover_bucketed(polys, "mm_cov", bits=6, n_buckets=4, salt_buckets=8,
                         clear_stale_location=True)
    # a table without the recorded count cannot be checked: raise
    spark.sql("ALTER TABLE mm_pts UNSET TBLPROPERTIES ('geomesa.salt_buckets')")
    with _pytest.raises(ValueError, match="salt_buckets mismatch"):
        pip_join_bucketed(spark, "mm_pts", "mm_cov", polys, bits=6)
    # matching counts still work end-to-end
    spark.sql("ALTER TABLE mm_pts SET TBLPROPERTIES ('geomesa.salt_buckets'='8')")
    n = pip_join_bucketed(spark, "mm_pts", "mm_cov", polys, bits=6).count()
    assert n == 200  # every point is inside the box


def test_ivfpq_bucketed_corpus_no_corpus_exchange(spark):
    """The 10^12-vector ANN layout end-to-end: embeddings stored
    bucketed on the IVF list id with PQ codes materialized, queried
    via ivf_pq_topk's shuffle path — the corpus side joins straight
    off its buckets (no Exchange above its scan; the only exchanges
    are the tiny probe-exploded query side and the final top-k
    window)."""
    import shutil

    from geomesa_spark.operators import ann as N

    spark.sql("DROP TABLE IF EXISTS ivfpq_corpus")
    shutil.rmtree("spark-warehouse/ivfpq_corpus", ignore_errors=True)

    rng = np.random.default_rng(5)
    base = rng.normal(size=(4, 16))
    rows = [
        (i, [float(x) for x in base[i % 4] + rng.normal(scale=0.3, size=16)])
        for i in range(600)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    CB = N.pq_hyperplane_codebooks(16, 4, 4, seed=3)
    C16 = N.normalize_centroids(N.hyperplanes(16, 4, seed=9))
    stored = N.ivf_assign(
        N.pq_encode(emb, CB, out_col="codes"), C16, out_col="list_id",
        normalize=False,
    )
    write_bucketed(
        stored, "ivfpq_corpus", bucket_col="list_id", n_buckets=8,
        sort_cols=["list_id"],
    )
    corpus = read_bucketed(spark, "ivfpq_corpus")
    q = emb.filter(F.col("vec_id") < 3)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        res = N.ivf_pq_topk(
            corpus, q, 5, C16, CB, n_probes=2, normalize=False,
            broadcast_queries=False, list_col="list_id", codes_col="codes",
        )
        plan = res._jdf.queryExecution().executedPlan().toString()
        # corpus scan feeds the join with no shuffle: every Exchange
        # in the plan sits on the query/window side, so there must be
        # no Exchange whose subtree contains the bucketed FileScan
        scan_seg = plan[plan.index("ivfpq_corpus"):]
        assert "Bucketed: true" in plan
        before_scan = plan[: plan.index("ivfpq_corpus")]
        # the scan's operator column prefix: count Exchanges between
        # the SMJ and the scan on the corpus branch by checking the
        # lines from the join to the scan
        lines = plan.splitlines()
        scan_i = next(i for i, l in enumerate(lines) if "ivfpq_corpus" in l)
        smj_i = max(
            i for i, l in enumerate(lines[:scan_i]) if "SortMergeJoin" in l
        )
        corpus_branch = "\n".join(lines[smj_i:scan_i])
        assert "Exchange" not in corpus_branch, corpus_branch

        # parity vs the inline path over the raw frame
        inline = {
            (r.qid, r.rank): (r.vec_id, r.adist)
            for r in N.ivf_pq_topk(
                emb, q, 5, C16, CB, n_probes=2, normalize=False
            ).collect()
        }
        got = {(r.qid, r.rank): (r.vec_id, r.adist) for r in res.collect()}
        assert got == inline
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS ivfpq_corpus")
