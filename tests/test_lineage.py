"""Lineage / resume-from-checkpoint protocol."""

import pytest
from pyspark.sql import functions as F

from geomesa_spark.plans.lineage import CheckpointedJob, week_units


@pytest.fixture()
def out_dir(tmp_path):
    return str(tmp_path / "job_out")


def _units(spark, calls):
    def make(n):
        def fn():
            calls.append(n)
            return spark.range(n * 10, n * 10 + 5).withColumn(
                "unit", F.lit(n)
            )

        return fn

    return {f"u{n}": make(n) for n in range(3)}


def test_run_and_resume_skips_committed(spark, out_dir):
    calls = []
    job = CheckpointedJob(spark, "j1", out_dir)
    s = job.run(_units(spark, calls))
    assert len(s["executed"]) == 3 and not s["skipped"]
    assert sorted(calls) == [0, 1, 2]
    assert job.result().count() == 15

    # resume: nothing re-runs
    calls2 = []
    job2 = CheckpointedJob(spark, "j1", out_dir)
    s2 = job2.run(_units(spark, calls2))
    assert not s2["executed"] and len(s2["skipped"]) == 3
    assert calls2 == []


def test_crash_resume_runs_only_missing(spark, out_dir):
    calls = []
    units = _units(spark, calls)
    job = CheckpointedJob(spark, "j2", out_dir)
    # simulate crash after two units
    job.run_unit("u0", units["u0"])
    job.run_unit("u1", units["u1"])

    calls2 = []
    units2 = _units(spark, calls2)
    job2 = CheckpointedJob(spark, "j2", out_dir)
    s = job2.run(units2)
    assert [e["unit_id"] for e in s["executed"]] == ["u2"]
    assert sorted(s["skipped"]) == ["u0", "u1"]
    assert calls2 == [2]
    assert job2.result().count() == 15


def test_metrics_recorded(spark, out_dir):
    job = CheckpointedJob(spark, "j3", out_dir)
    job.run(_units(spark, []))
    m = {r.unit_id: r for r in job.metrics().collect()}
    assert set(m) == {"u0", "u1", "u2"}
    for r in m.values():
        assert r.rows_out == 5
        assert r.status == "ok"
        assert r.n_partitions >= 1
        assert r.wall_sec >= 0
        assert r.run_id == job.run_id


def test_jobs_isolated_by_id(spark, out_dir):
    a = CheckpointedJob(spark, "ja", out_dir + "/a")
    a.run(_units(spark, []))
    b = CheckpointedJob(spark, "jb", out_dir + "/b")
    assert b.completed_units() == set()


def test_week_units_partitioning(spark, out_dir):
    df = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 101)], "id long, week int"
    )
    units = week_units(df, [100, 101], lambda d: d.select("id"))
    job = CheckpointedJob(spark, "jw", out_dir)
    s = job.run(units)
    assert len(s["executed"]) == 2
    got = {r.id for r in job.result().collect()}
    assert got == {1, 2, 3}
    m = {r.unit_id: r.rows_out for r in job.metrics().collect()}
    assert m == {"week=100": 2, "week=101": 1}


def test_unit_path_no_collision(spark, tmp_path):
    from geomesa_spark.plans.lineage import CheckpointedJob

    job = CheckpointedJob(spark, "j", str(tmp_path / "out"))
    assert job.unit_path("week=1/a") != job.unit_path("week=1_a")


def test_result_excludes_uncommitted_partials(spark, tmp_path):
    """A unit directory written WITHOUT a lineage commit (crash
    before commit) must not appear in result()."""
    from geomesa_spark.plans.lineage import CheckpointedJob

    out = str(tmp_path / "out")
    job = CheckpointedJob(spark, "j", out)
    job.run({"u1": lambda: spark.range(5).selectExpr("id")})
    # simulate a crashed unit: output exists, no lineage record
    spark.range(100).selectExpr("id").write.parquet(
        job.unit_path("crashed")
    )
    assert job.result().count() == 5
