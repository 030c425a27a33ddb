"""Streaming geofence: real multi-batch file streams, batch-twin
parity, cross-batch boundary stitching, mid-stream live view."""

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_spark.functions import cells as C
from geomesa_spark.functions import geometry as G
from geomesa_spark.operators.geofence import geofence_events
from geomesa_spark.sources.tableio import (
    read_all_versions,
    read_newest_version,
)
from geomesa_spark.streaming import geofence_stream

FENCES = [
    ("box_a", G.box_wkt(0.0, 0.0, 10.0, 10.0)),
    ("box_b", G.box_wkt(5.0, 5.0, 25.0, 25.0)),
]

SCHEMA = T.StructType([
    T.StructField("track", T.StringType()),
    T.StructField("es", T.LongType()),
    T.StructField("lon", T.DoubleType()),
    T.StructField("lat", T.DoubleType()),
])


def _write(dirpath, name, rows):
    dirpath.mkdir(parents=True, exist_ok=True)
    (dirpath / name).write_text(
        "\n".join(
            json.dumps(dict(zip(("track", "es", "lon", "lat"), r)))
            for r in rows
        )
    )


def _run(spark, src, base, suffix):
    stream = (
        spark.readStream.schema(SCHEMA)
        .json(str(src))
        .withColumn("cell", C.z2_cell(F.col("lon"), F.col("lat")))
    )
    q = geofence_stream(
        stream,
        FENCES,
        str(base / f"ev{suffix}"),
        str(base / f"st{suffix}"),
        str(base / f"ck{suffix}"),
        "track",
        "es",
    )
    q.awaitTermination(120)


def _events(spark, base, suffix):
    return {
        (r.track, r.fence_id, r.event, r.ts)
        for r in read_all_versions(spark, str(base / f"ev{suffix}")).collect()
    }


def _batch_twin(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA).withColumn(
        "cell", C.z2_cell(F.col("lon"), F.col("lat"))
    )
    return {
        (r.track, r.fence_id, r.event, r.ts)
        for r in geofence_events(df, FENCES, "track", "es").collect()
    }


B1 = [
    ("x", 10, -5.0, -5.0),   # out
    ("x", 20, 2.0, 2.0),     # in a        -> enter a
    ("x", 30, 7.0, 7.0),     # in a+b      -> enter b
    ("y", 5, 3.0, 3.0),      # in a        -> enter a (batch opens inside)
]
B2 = [
    ("x", 40, 20.0, 20.0),   # in b only   -> exit a (boundary: last-in was 30? no, within-batch via B2 first point)
    ("y", 15, 3.5, 3.5),     # still in a  -> NO duplicate enter
    ("z", 12, -40.0, 0.0),   # never inside
]
B3 = [
    ("x", 50, -40.0, -40.0), # out         -> exit b at 40 (boundary)
    ("y", 25, -50.0, 0.0),   # out         -> exit a at 15 (boundary)
]


def test_stream_matches_batch_twin_and_stitches_boundaries(spark, tmp_path):
    src = tmp_path / "src"
    _write(src, "b1.json", B1)
    _run(spark, src, tmp_path, "1")
    got1 = _events(spark, tmp_path, "1")
    assert got1 == {
        ("x", "box_a", "enter", 20),
        ("x", "box_b", "enter", 30),
        ("y", "box_a", "enter", 5),
    }
    # live view mid-stream: x inside a+b (last point 30), y inside a
    now = {
        (r.track, r.fence_id): r.last_ts
        for r in read_newest_version(spark, str(tmp_path / "st1")).collect()
    }
    assert now == {
        ("x", "box_a"): 30,
        ("x", "box_b"): 30,
        ("y", "box_a"): 5,
    }

    _write(src, "b2.json", B2)
    _run(spark, src, tmp_path, "1")
    got2 = _events(spark, tmp_path, "1") - got1
    # x left a between 30 and 40: exit stamped at the carried last
    # inside time (30); y stays inside -> no new events for y
    assert got2 == {("x", "box_a", "exit", 30)}

    _write(src, "b3.json", B3)
    _run(spark, src, tmp_path, "1")
    got3 = _events(spark, tmp_path, "1")
    want = _batch_twin(spark, B1 + B2 + B3)
    assert got3 == want
    # stream fully drained: nobody inside
    assert read_newest_version(spark, str(tmp_path / "st1")).count() == 0


def test_single_batch_equals_batch_twin(spark, tmp_path):
    rows = B1 + [("x", 40, 40.0, 40.0), ("y", 50, 3.2, 3.2)]
    src = tmp_path / "s2"
    _write(src, "all.json", rows)
    _run(spark, src, tmp_path, "2")
    assert _events(spark, tmp_path, "2") == _batch_twin(spark, rows)


def test_replay_is_idempotent(spark, tmp_path):
    src = tmp_path / "s3"
    _write(src, "b1.json", B1)
    _run(spark, src, tmp_path, "3")
    first = _events(spark, tmp_path, "3")
    # wipe the checkpoint -> the file source redelivers batch 0; the
    # versioned writes must overwrite, not double-append
    import shutil

    shutil.rmtree(tmp_path / "ck3")
    _run(spark, src, tmp_path, "3")
    assert _events(spark, tmp_path, "3") == first
