"""Streaming co-travel: batch-twin parity, boundary-straddle ticks,
alert-once semantics."""

import json

import numpy as np
from pyspark.sql import types as T

from geomesa_spark.operators.cooccur import co_travel
from geomesa_spark.streaming import (
    cotravel_stream, read_alerts, read_pair_counts,
)

SCHEMA = T.StructType([
    T.StructField("track", T.StringType()),
    T.StructField("es", T.LongType()),
    T.StructField("lon", T.DoubleType()),
    T.StructField("lat", T.DoubleType()),
])
EPS, STEP, MINSH = 0.1, 100, 8


def _write(dirpath, name, rows, order=0):
    import os
    import time

    dirpath.mkdir(parents=True, exist_ok=True)
    p = dirpath / name
    p.write_text("\n".join(
        json.dumps(dict(zip(("track", "es", "lon", "lat"), r)))
        for r in rows
    ))
    t = time.time() - 100 + order * 10
    os.utime(p, (t, t))


def _run(spark, src, base, suffix, horizon=None):
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).json(str(src))
    q = cotravel_stream(
        stream, EPS, STEP, MINSH,
        str(base / f"al{suffix}"), str(base / f"st{suffix}"),
        str(base / f"ck{suffix}"),
        "track", "es", lag_horizon_s=horizon,
    )
    q.awaitTermination(180)


def test_cotravel_stream_parity(spark, tmp_path):
    rng = np.random.default_rng(14)
    rows = []
    # 4 convoys of 2-3 tracks + 6 loners, ~25 fixes each
    tid = 0
    for _ in range(4):
        bx, by = float(rng.uniform(-60, 60)), float(rng.uniform(-40, 40))
        for _ in range(int(rng.integers(2, 4))):
            ox, oy = float(rng.uniform(-0.02, 0.02)), float(
                rng.uniform(-0.02, 0.02))
            es = int(rng.integers(0, 40))
            for _ in range(25):
                es += int(rng.integers(30, 160))
                rows.append((f"t{tid:02d}", es,
                             bx + es * 1e-4 + ox, by + oy))
            tid += 1
    for _ in range(6):
        es = 0
        for _ in range(25):
            es += int(rng.integers(30, 160))
            rows.append((f"t{tid:02d}", es,
                         float(rng.uniform(-170, 170)),
                         float(rng.uniform(-80, 80))))
        tid += 1
    rows.sort(key=lambda r: r[1])
    K = 4
    src = tmp_path / "src"
    for i in range(K):
        _write(src, f"b{i}.json",
               rows[i * len(rows) // K:(i + 1) * len(rows) // K], order=i)
    _run(spark, src, tmp_path, "p")

    twin = {
        (r.track_a, r.track_b): (r.n_shared, r.first_ts, r.last_ts)
        for r in co_travel(
            spark.createDataFrame(rows, SCHEMA), EPS, STEP, 1,
            "track", "es",
        ).collect()
    }
    live = {
        (r.track_a, r.track_b): (r.n_shared, r.first_ts, r.last_tick)
        for r in read_pair_counts(spark, str(tmp_path / "stp")).collect()
    }
    assert live == twin
    alerts = {(r.track_a, r.track_b)
              for r in read_alerts(spark, str(tmp_path / "alp")).collect()}
    assert alerts == {k for k, v in twin.items() if v[0] >= MINSH}
    assert len(alerts) >= 4  # the convoys genuinely alert


def test_cotravel_stream_boundary_straddle(spark, tmp_path):
    # A's fix covering tick 100 arrives in batch 1; B's covering fix
    # only in batch 2 — the horizon buffer must still pair tick 100
    b1 = [
        ("a", 40, 0.0, 0.0), ("a", 140, 0.0, 0.0),   # a owns tick 100
        ("b", 60, 0.01, 0.0),
    ]
    b2 = [
        ("b", 160, 0.01, 0.0),                        # b owns tick 100
        ("a", 260, 0.0, 0.0), ("b", 280, 0.01, 0.0),  # ticks 200 pair
    ]
    src = tmp_path / "s2"
    _write(src, "b0.json", b1, order=0)
    _write(src, "b1.json", b2, order=1)
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).json(str(src))
    q = cotravel_stream(
        stream, EPS, STEP, 2,
        str(tmp_path / "al2"), str(tmp_path / "st2"),
        str(tmp_path / "ck2"), "track", "es",
    )
    q.awaitTermination(120)
    live = {(r.track_a, r.track_b): r.n_shared
            for r in read_pair_counts(spark, str(tmp_path / "st2")).collect()}
    assert live == {("a", "b"): 2}  # ticks 100 (straddled) and 200
    alerts = read_alerts(spark, str(tmp_path / "al2")).collect()
    assert len(alerts) == 1 and alerts[0].n_shared == 2


def test_batch_ticks_equal_track_resample_across_the_dateline(spark):
    # the stream's per-batch ticks, stitched through the carried last
    # fix, are track_resample's ticks bit for bit — including
    # segments that wrap the antimeridian (interpolated the short way)
    from geomesa_spark.operators.tracks import track_resample
    from geomesa_spark.streaming.cotravel import _batch_ticks

    rows = [
        ("a", 0, 179.8, 0.0), ("a", 100, 179.9, 0.0),
        ("a", 250, -179.9, 0.1),
        ("b", 0, 179.8, 0.01), ("b", 300, -179.7, 0.01),
        ("b", 400, -179.6, 0.0),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    want = {tuple(r) for r in track_resample(df, "track", "es", STEP).collect()}
    t1, last = _batch_ticks(
        df.filter("es < 150"), None, STEP, "track", "es", "lon", "lat", None
    )
    t2, _ = _batch_ticks(
        df.filter("es >= 150"), last, STEP, "track", "es", "lon", "lat", None
    )
    got = [tuple(r) for r in t1.unionByName(t2).collect()]
    assert len(got) == len(want) and set(got) == want
    b100 = [r for r in got if r[0] == "b" and r[1] == 100][0]
    assert b100[2] > 179.8  # the short way across the dateline
