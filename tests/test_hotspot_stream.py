"""Streaming hot-spot monitor: batch-twin parity, first-crossing
alert-once semantics, checkpoint-wipe replay idempotence."""

import json

import numpy as np
from pyspark.sql import types as T

from geomesa_spark.operators.hotspot import hotspot_cells_st
from geomesa_spark.sources.tableio import read_all_versions
from geomesa_spark.streaming import hotspot_stream, read_hot_now

SCHEMA = T.StructType([
    T.StructField("es", T.LongType()),
    T.StructField("lon", T.DoubleType()),
    T.StructField("lat", T.DoubleType()),
])
BITS, TB, HOTZ = 5, 3600, 1.96


def _write(dirpath, name, rows, order=0):
    import os
    import time

    dirpath.mkdir(parents=True, exist_ok=True)
    p = dirpath / name
    p.write_text("\n".join(
        json.dumps(dict(zip(("es", "lon", "lat"), r))) for r in rows
    ))
    t = time.time() - 100 + order * 10
    os.utime(p, (t, t))


def _corpus(seed=5):
    rng = np.random.default_rng(seed)
    rows = []
    # background + a blob that only becomes dense in later batches
    for b in range(4):
        for _ in range(120):
            rows.append((
                int(b * 4 * TB + rng.integers(0, 4 * TB)),
                float(rng.uniform(-170, 170)),
                float(rng.uniform(-80, 80)),
            ))
        blob = 10 * (b + 1)  # intensity ramps per batch
        for _ in range(blob):
            rows.append((
                int(b * 4 * TB + rng.integers(0, 4 * TB)),
                10.0 + float(rng.normal(0, 1.0)),
                20.0 + float(rng.normal(0, 1.0)),
            ))
    # split into event-time-ordered batches
    rows.sort()
    k = len(rows) // 4
    return [rows[i * k: (i + 1) * k if i < 3 else len(rows)]
            for i in range(4)]


def _run(spark, src, base, suffix):
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).json(str(src))
    q = hotspot_stream(
        stream, BITS, TB,
        str(base / f"al{suffix}"), str(base / f"st{suffix}"),
        str(base / f"ck{suffix}"),
        "es", hot_z=HOTZ,
    )
    q.awaitTermination(180)


def test_hotspot_stream_parity_and_alert_once(spark, tmp_path):
    batches = _corpus()
    src = tmp_path / "src"
    for i, b in enumerate(batches):
        _write(src, f"b{i}.json", b, order=i)
    _run(spark, src, tmp_path, "a")

    # live view == batch twin over ALL points (exact: same ints +
    # shared z SQL, one engine)
    allrows = [r for b in batches for r in b]
    df = spark.createDataFrame(allrows, SCHEMA)
    twin = {
        (r.x, r.y, r.tb): (r.w, r.nbr_n, r.nbr_sum, r.gi_star)
        for r in hotspot_cells_st(
            df, "es", bits=BITS, time_bucket_s=TB
        ).collect()
    }
    live = {
        (r.x, r.y, r.tb): (r.w, r.nbr_n, r.nbr_sum, r.gi_star)
        for r in read_hot_now(
            spark, str(tmp_path / "sta"), BITS
        ).collect()
    }
    assert live == twin

    # each bin alerts at most once across all batches
    alerts = read_all_versions(spark, str(tmp_path / "ala")).collect()
    keys = [(r.x, r.y, r.tb) for r in alerts]
    assert len(keys) == len(set(keys))
    assert len(keys) > 0
    # the ramping blob's cell fired
    n = 1 << BITS
    bx = int(np.floor((10.0 + 180.0) / 360.0 * n))
    by = int(np.floor((20.0 + 90.0) / 180.0 * n))
    assert any(abs(r.x - bx) <= 1 and abs(r.y - by) <= 1 for r in alerts)
    # alerts only contain bins hot at their observation batch
    assert all(r.gi_star >= HOTZ for r in alerts)


def test_hotspot_stream_checkpoint_wipe_replay(spark, tmp_path):
    import shutil

    batches = _corpus(seed=9)
    src = tmp_path / "src"
    for i, b in enumerate(batches[:2]):
        _write(src, f"b{i}.json", b, order=i)
    _run(spark, src, tmp_path, "b")
    # wipe the checkpoint -> the file source replays EVERYTHING;
    # versioned state overwrites per batch id, so the final state
    # must equal the uninterrupted run's
    shutil.rmtree(tmp_path / "ckb")
    for i, b in enumerate(batches[2:], start=2):
        _write(src, f"b{i}.json", b, order=i)
    _run(spark, src, tmp_path, "b")

    allrows = [r for b in batches for r in b]
    df = spark.createDataFrame(allrows, SCHEMA)
    twin = {
        (r.x, r.y, r.tb): r.w
        for r in hotspot_cells_st(
            df, "es", bits=BITS, time_bucket_s=TB
        ).collect()
    }
    live = {
        (r.x, r.y, r.tb): r.w
        for r in read_hot_now(spark, str(tmp_path / "stb"), BITS).collect()
    }
    assert live == twin
