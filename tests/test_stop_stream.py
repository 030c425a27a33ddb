"""Streaming stop detection: multi-batch file streams, batch-twin
parity (closed + flushed == stop_detect), boundary stitching."""

import json

import numpy as np
from pyspark.sql import types as T

from geomesa_spark.operators.tracks import stop_detect
from geomesa_spark.sources.tableio import (
    read_all_versions,
    read_newest_version,
)
from geomesa_spark.streaming import flush_open_stops, stop_stream

SCHEMA = T.StructType([
    T.StructField("track", T.StringType()),
    T.StructField("es", T.LongType()),
    T.StructField("lon", T.DoubleType()),
    T.StructField("lat", T.DoubleType()),
])
RADIUS, MIN_DUR = 0.05, 150


def _write(dirpath, name, rows, order=0):
    """FileStreamSource orders batches by modification time; same-
    mtime files tie unpredictably, so pin strictly increasing
    mtimes (the per-key event-time ordering contract)."""
    import os
    import time

    dirpath.mkdir(parents=True, exist_ok=True)
    p = dirpath / name
    p.write_text(
        "\n".join(
            json.dumps(dict(zip(("track", "es", "lon", "lat"), r)))
            for r in rows
        )
    )
    t = time.time() - 100 + order * 10
    os.utime(p, (t, t))


def _run(spark, src, base, suffix):
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).json(str(src))
    q = stop_stream(
        stream, RADIUS, MIN_DUR,
        str(base / f"stops{suffix}"),
        str(base / f"state{suffix}"),
        str(base / f"ck{suffix}"),
        "track", "es", metric="planar",
    )
    q.awaitTermination(180)


def _stream_stops(spark, base, suffix, include_open=True):
    got = read_all_versions(spark, str(base / f"stops{suffix}")).collect()
    rows = {
        (r.track, r.start_ts, r.end_ts, r.duration_s, r.n_points,
         r.center_lon, r.center_lat)
        for r in got
    }
    if include_open:
        rows |= {
            (r.track, r.start_ts, r.end_ts, r.duration_s, r.n_points,
             r.center_lon, r.center_lat)
            for r in flush_open_stops(
                spark, str(base / f"state{suffix}"), MIN_DUR
            ).collect()
        }
    return rows


def _batch_twin(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    return {
        (r.track, r.start_ts, r.end_ts, r.duration_s, r.n_points,
         r.center_lon, r.center_lat)
        for r in stop_detect(
            df, "track", "es", RADIUS, MIN_DUR, metric="planar"
        ).collect()
    }


def test_stop_stream_parity_random(spark, tmp_path):
    rng = np.random.default_rng(8)
    rows = []
    for t in range(25):
        es, lon, lat = int(rng.integers(0, 50)), float(
            rng.uniform(-50, 50)), float(rng.uniform(-30, 30))
        for _ in range(60):
            es += int(rng.integers(20, 120))
            if rng.random() < 0.2:  # jump
                lon += float(rng.uniform(-2, 2))
                lat += float(rng.uniform(-2, 2))
            else:  # dwell drift
                lon += float(rng.uniform(-0.01, 0.01))
                lat += float(rng.uniform(-0.01, 0.01))
            rows.append((f"t{t}", es, lon, lat))
    rows.sort(key=lambda r: r[1])  # event-time ordered batches
    thirds = [rows[: len(rows) // 3], rows[len(rows) // 3: 2 * len(rows) // 3],
              rows[2 * len(rows) // 3:]]
    src = tmp_path / "src"
    for i, part in enumerate(thirds):
        _write(src, f"b{i}.json", part, order=i)
    _run(spark, src, tmp_path, "r")
    got = _stream_stops(spark, tmp_path, "r")
    exp = _batch_twin(spark, rows)
    assert got == exp
    assert len(exp) > 20  # the corpus genuinely dwells


def test_stop_stream_boundary_cases(spark, tmp_path):
    b1 = [
        ("m", 0, 0.0, 0.0),      # dwell opens in batch 1...
        ("m", 100, 0.01, 0.0),
        ("g", 0, 50.0, 50.0),    # absent from batch 2: carried
        ("g", 200, 50.01, 50.0),
    ]
    b2 = [
        ("m", 200, 0.02, 0.0),   # ...continues in batch 2 (merge)
        ("m", 300, 0.03, 0.0),
        ("j", 0, -20.0, -20.0),
    ]
    b3 = [
        ("m", 400, 9.0, 9.0),    # jump -> the merged dwell closes
        ("j", 500, -20.01, -20.0),  # j's dwell spans b2->b3
        ("g", 600, 50.02, 50.0),    # g resumes: still one dwell
    ]
    src = tmp_path / "src"
    for i, part in enumerate((b1, b2, b3)):
        _write(src, f"b{i}.json", part, order=i)
    _run(spark, src, tmp_path, "b")

    # closed stops alone: m's merged dwell (0..300, 4 points)
    closed = _stream_stops(spark, tmp_path, "b", include_open=False)
    assert ("m", 0, 300, 300, 4, (0.0 + 0.03) / 2, 0.0) in closed
    assert all(t == "m" for t, *_ in closed)

    # live view: g and j still dwelling (m's open segment is the
    # post-jump single point)
    now = {r.track: (r.seg_start, r.seg_n)
           for r in read_newest_version(
               spark, str(tmp_path / "stateb")).collect()}
    assert now["g"] == (0, 3) and now["j"] == (0, 2)
    assert now["m"] == (400, 1)

    # closed + flushed == batch twin on the full corpus
    assert _stream_stops(spark, tmp_path, "b") == _batch_twin(
        spark, b1 + b2 + b3
    )


def test_stop_stream_replay_idempotent(spark, tmp_path):
    rows = [
        ("r", 0, 0.0, 0.0), ("r", 100, 0.01, 0.0),
        ("r", 300, 0.02, 0.0), ("r", 400, 5.0, 5.0),
    ]
    src = tmp_path / "s3"
    _write(src, "b1.json", rows)
    _run(spark, src, tmp_path, "3")
    first = _stream_stops(spark, tmp_path, "3")
    assert first == _batch_twin(spark, rows)
    # wipe the checkpoint -> the file source redelivers batch 0; the
    # versioned writes must overwrite, not double-append
    import shutil

    shutil.rmtree(tmp_path / "ck3")
    _run(spark, src, tmp_path, "3")
    assert _stream_stops(spark, tmp_path, "3") == first


def test_stop_stream_idl_straddle_parity(spark, tmp_path):
    """A dwell that straddles the antimeridian AND micro-batch
    boundaries: closed+flushed == batch stop_detect bit-exactly,
    including the shifted-midpoint center (not lon ~0)."""
    rows = [
        ("v", t, 179.97 if i % 2 == 0 else -179.97, 3.0)
        for i, t in enumerate(range(0, 900, 60))
    ]
    # split mid-dwell across three batches
    b = [rows[:5], rows[5:10], rows[10:]]
    src = tmp_path / "src"
    for i, rs in enumerate(b):
        _write(src, f"b{i}.json", rs, order=i)
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).json(str(src))
    q = stop_stream(
        stream, 20_000.0, MIN_DUR,
        str(tmp_path / "stops"), str(tmp_path / "state"),
        str(tmp_path / "ck"), "track", "es", metric="haversine",
    )
    q.awaitTermination(180)
    flushed = flush_open_stops(
        spark, str(tmp_path / "state"), MIN_DUR
    ).collect()
    closed = read_all_versions(spark, str(tmp_path / "stops")).collect()
    got = sorted(
        (r.track, r.start_ts, r.end_ts, r.duration_s, r.n_points,
         r.center_lon, r.center_lat)
        for r in list(closed) + list(flushed)
    )
    df = spark.createDataFrame(
        rows, "track string, es long, lon double, lat double"
    )
    exp = sorted(
        (r.track, r.start_ts, r.end_ts, r.duration_s, r.n_points,
         r.center_lon, r.center_lat)
        for r in stop_detect(
            df, "track", "es", 20_000.0, MIN_DUR, metric="haversine"
        ).collect()
    )
    assert got == exp
    assert len(got) == 1
    # shifted midpoint of [179.97, 180.03] -> -180.0, not 0.0
    assert got[0][5] == -180.0
