"""Streaming ingest dedup: first-wins admission per content
fingerprint across micro-batches, with an event-time TTL horizon.
Driven through real file-source streams (availableNow) with the
batch replay twin and a python fold as oracles."""

import json

import pytest
from pyspark.sql import types as T

from geomesa_spark.sources.tableio import read_all_versions
from geomesa_spark.streaming import (
    dedup_batch,
    ingest_dedup_stream,
    replay_dedup,
)

SCHEMA = T.StructType([
    T.StructField("fp", T.StringType()),
    T.StructField("ts", T.DoubleType()),
    T.StructField("seq", T.LongType()),
    T.StructField("val", T.StringType()),
])


def _write(dirpath, name, rows):
    dirpath.mkdir(parents=True, exist_ok=True)
    (dirpath / name).write_text("\n".join(json.dumps(r) for r in rows))


def _run(spark, src, base, suffix, **kw):
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    q = ingest_dedup_stream(
        stream,
        str(base / f"acc{suffix}"),
        str(base / f"seen{suffix}"),
        str(base / f"ckpt{suffix}"),
        ["fp"],
        ["ts", "seq"],
        **kw,
    )
    q.awaitTermination(120)
    return {
        r["fp"]: (r["ts"], r["seq"], r["val"])
        for r in read_all_versions(spark, str(base / f"acc{suffix}")).collect()
    }


def test_within_batch_winner_is_deterministic(spark, tmp_path):
    src = tmp_path / "src"
    _write(src, "b1.json", [
        {"fp": "a", "ts": 5.0, "seq": 7, "val": "late"},
        {"fp": "a", "ts": 1.0, "seq": 3, "val": "first"},
        {"fp": "a", "ts": 1.0, "seq": 2, "val": "tie-seq"},
        {"fp": "b", "ts": 9.0, "seq": 9, "val": "only"},
    ])
    got = _run(spark, src, tmp_path, "1")
    # min (ts, seq) wins, never arrival/partition order
    assert got == {"a": (1.0, 2, "tie-seq"), "b": (9.0, 9, "only")}


def test_cross_batch_first_admission_wins(spark, tmp_path):
    src = tmp_path / "src"
    _write(src, "b1.json", [
        {"fp": "a", "ts": 2.0, "seq": 1, "val": "a-b1"},
        {"fp": "b", "ts": 3.0, "seq": 2, "val": "b-b1"},
    ])
    got = _run(spark, src, tmp_path, "1")
    assert set(got) == {"a", "b"}

    # batch 2: a duplicate of 'a' (rejected) + a LATE record for 'b'
    # with an EARLIER (ts, seq) — arrival order wins, so the admitted
    # b-b1 stays: the documented divergence from the batch twin
    _write(src, "b2.json", [
        {"fp": "a", "ts": 4.0, "seq": 5, "val": "a-dup"},
        {"fp": "b", "ts": 1.0, "seq": 0, "val": "b-earlier-late"},
        {"fp": "c", "ts": 5.0, "seq": 6, "val": "c-new"},
    ])
    got = _run(spark, src, tmp_path, "1")
    assert got == {
        "a": (2.0, 1, "a-b1"),
        "b": (3.0, 2, "b-b1"),
        "c": (5.0, 6, "c-new"),
    }
    # the batch twin, seeing everything at once, picks global event
    # order for 'b' — parity holds for every in-order fingerprint
    log = spark.read.schema(SCHEMA).json(str(src))
    twin = {r["fp"]: (r["ts"], r["seq"], r["val"])
            for r in replay_dedup(log, ["fp"], ["ts", "seq"]).collect()}
    assert twin["a"] == got["a"] and twin["c"] == got["c"]
    assert twin["b"] == (1.0, 0, "b-earlier-late")


def test_replay_parity_in_order_feed(spark, tmp_path):
    """The normal case: batches arrive in event order and every dup is
    within the horizon -> streaming result == batch twin, bit for
    bit, across 3 micro-batch increments."""
    src = tmp_path / "src"
    rows = [
        {"fp": f"k{i % 7}", "ts": float(i), "seq": i, "val": f"v{i}"}
        for i in range(30)
    ]
    for b in range(3):
        _write(src, f"b{b}.json", rows[b * 10:(b + 1) * 10])
        got = _run(spark, src, tmp_path, "p")
    log = spark.read.schema(SCHEMA).json(str(src))
    twin = {r["fp"]: (r["ts"], r["seq"], r["val"])
            for r in replay_dedup(log, ["fp"], ["ts", "seq"]).collect()}
    assert got == twin
    assert set(got) == {f"k{i}" for i in range(7)}


def test_ttl_horizon_eviction_and_readmission(spark, tmp_path):
    src = tmp_path / "src"
    _write(src, "b1.json", [
        {"fp": "old", "ts": 100.0, "seq": 1, "val": "v1"},
        {"fp": "live", "ts": 150.0, "seq": 2, "val": "v2"},
    ])
    got = _run(spark, src, tmp_path, "t", ttl_sec=60.0)
    assert set(got) == {"old", "live"}

    # batch 2 advances event time to 220; the horizon becomes
    # 220-60=160, so 'old' (first seen 100) and 'live' (150) are both
    # evicted from the seen state (their ACCEPTED rows stay — eviction
    # bounds state, it never retracts output)
    _write(src, "b2.json", [
        {"fp": "new", "ts": 220.0, "seq": 3, "val": "v3"},
    ])
    _run(spark, src, tmp_path, "t", ttl_sec=60.0)

    # a re-sent 'old' after eviction is RE-ADMITTED — the bounded-
    # memory trade every watermarked dedup makes — landing a second
    # copy in the accepted output
    _write(src, "b3.json", [
        {"fp": "old", "ts": 221.0, "seq": 4, "val": "resent"},
    ])
    _run(spark, src, tmp_path, "t", ttl_sec=60.0)
    accepted = read_all_versions(spark, str(tmp_path / "acct")).collect()
    per_fp = {}
    for r in accepted:
        per_fp.setdefault(r["fp"], []).append(r["val"])
    assert sorted(per_fp["old"]) == ["resent", "v1"]  # re-admitted
    assert per_fp["new"] == ["v3"] and per_fp["live"] == ["v2"]


def test_dedup_batch_validation(spark):
    df = spark.createDataFrame([("a", 1.0, 1, "v")], SCHEMA)
    with pytest.raises(ValueError):
        dedup_batch(df, [], ["ts"])
    with pytest.raises(ValueError):
        dedup_batch(df, ["fp"], [])
