"""Streaming flow-anomaly monitor: field batch-twin parity,
prefix-relative score parity, boundary-leg stitching, checkpoint-wipe
replay idempotence."""

import json

import numpy as np
from pyspark.sql import types as T

from geomesa_spark.operators.tracks import flow_anomaly, flow_field
from geomesa_spark.sources.tableio import read_all_versions
from geomesa_spark.streaming import flow_stream, read_flow_field_now

SCHEMA = T.StructType([
    T.StructField("trk", T.LongType()),
    T.StructField("es", T.LongType()),
    T.StructField("lon", T.DoubleType()),
    T.StructField("lat", T.DoubleType()),
])
BITS = 5


def _write(dirpath, name, rows, order=0):
    import os
    import time

    dirpath.mkdir(parents=True, exist_ok=True)
    p = dirpath / name
    p.write_text("\n".join(
        json.dumps(dict(zip(("trk", "es", "lon", "lat"), r)))
        for r in rows
    ))
    t = time.time() - 100 + order * 10
    os.utime(p, (t, t))


def _corpus():
    """30 eastbound lane tracks + one northbound rogue, 3 batches
    split on event time so every track's legs straddle batches."""
    rng = np.random.default_rng(9)
    rows = []
    for t in range(30):
        x0 = rng.uniform(-2.0, -1.0)
        y = rng.uniform(20.0, 21.5)
        for i in range(18):
            rows.append((t, i * 100 + t, float(x0 + 0.08 * i),
                         float(y + rng.uniform(-0.01, 0.01))))
    for i in range(15):  # rogue cuts north through the lane cells
        rows.append((999, i * 100 + 50, -1.3, float(19.0 + 0.25 * i)))
    rows.sort(key=lambda r: (r[1], r[0]))
    k = len(rows) // 3
    return [rows[:k], rows[k:2 * k], rows[2 * k:]]


def _run(spark, src, base, suffix, **kw):
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).json(str(src))
    q = flow_stream(
        stream, "trk", "es",
        str(base / f"al{suffix}"), str(base / f"st{suffix}"),
        str(base / f"ck{suffix}"),
        bits=BITS, min_support=20, alert_cos_below=0.2, **kw,
    )
    q.awaitTermination(180)


def _batch_df(spark, rows):
    return spark.createDataFrame(
        rows, "trk long, es long, lon double, lat double"
    )


def test_flow_stream_parity_and_alerts(spark, tmp_path):
    batches = _corpus()
    src = tmp_path / "src"
    for i, b in enumerate(batches):
        _write(src, f"b{i}.json", b, order=i)
    _run(spark, src, tmp_path, "1")

    allrows = [r for b in batches for r in b]
    alldf = _batch_df(spark, allrows)

    # 1. accumulated field == batch flow_field over all points
    got_f = {(r.x, r.y): (r.n_legs, r.sum_dt_s, r.sum_fp_dx,
                          r.sum_fp_dy, r.u_fp, r.v_fp)
             for r in read_flow_field_now(
                 spark, str(tmp_path / "st1")).collect()}
    exp_f = {(r.x, r.y): (r.n_legs, r.sum_dt_s, r.sum_fp_dx,
                          r.sum_fp_dy, r.u_fp, r.v_fp)
             for r in flow_field(alldf, "trk", "es", bits=BITS).collect()}
    assert got_f == exp_f

    # 2. every leg scored exactly once, including batch-boundary legs
    alerts = read_all_versions(spark, str(tmp_path / "al1"))
    from geomesa_spark.sources.tableio import ParquetVersionedIO

    # total scored legs across batches == batch twin leg count
    n_legs_batch = flow_anomaly(alldf, "trk", "es", bits=BITS).count()
    field_io = ParquetVersionedIO(spark, str(tmp_path / "st1/field"))
    total_field_legs = sum(
        r.n_legs for r in field_io.read_latest().collect()
    )
    assert total_field_legs == n_legs_batch

    # 3. prefix-relative score parity: batch-k alerts equal the batch
    # operator run on the prefix through batch k (rogue legs only —
    # lanes never alert)
    al = {(r.track, r.es): r for r in alerts.collect()}
    assert al and all(r.track == 999 for r in al.values())
    by_batch = {}
    for r in al.values():
        by_batch.setdefault(r.batch_id, []).append(r)

    # 4. the alert SET equals the legs whose prefix-relative score
    # clears the gate, batch by batch — computed independently with
    # the batch operator on each prefix
    seen_legs = set()
    expected_alerts = {}
    prefix = []
    for k, b in enumerate(batches):
        prefix += b
        pf = {(r.track, r.es): r for r in flow_anomaly(
            _batch_df(spark, prefix), "trk", "es", bits=BITS
        ).collect()}
        new_legs = set(pf) - seen_legs
        seen_legs |= set(pf)
        for key in new_legs:
            e = pf[key]
            if (e.n_cell_legs >= 20 and e.cos_sim is not None
                    and e.cos_sim <= 0.2):
                expected_alerts[key] = (k, e)
    assert set(al) == set(expected_alerts)
    for key, r in al.items():
        k, e = expected_alerts[key]
        assert r.batch_id == k
        assert (r.x, r.y, r.dt_s, r.fp_dx, r.fp_dy, r.n_cell_legs) == \
            (e.x, e.y, e.dt_s, e.fp_dx, e.fp_dy, e.n_cell_legs)
        assert r.cos_sim == e.cos_sim
        assert r.speed_ratio == e.speed_ratio


def test_flow_stream_replay_idempotent(spark, tmp_path):
    batches = _corpus()
    src = tmp_path / "src"
    for i, b in enumerate(batches):
        _write(src, f"b{i}.json", b, order=i)
    _run(spark, src, tmp_path, "a")
    # control run into fresh dirs, then REPLAY the whole source into
    # the ORIGINAL state/alert dirs with a new checkpoint: every
    # batch re-executes and overwrites its version (idempotence)
    _run(spark, src, tmp_path / "re", "a2")
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).json(str(src))
    q = flow_stream(
        stream, "trk", "es",
        str(tmp_path / "ala"), str(tmp_path / "sta"),
        str(tmp_path / "ck_new"),
        bits=BITS, min_support=20, alert_cos_below=0.2,
    )
    q.awaitTermination(180)
    a1 = sorted(
        (r.track, r.es, r.batch_id, r.cos_sim)
        for r in read_all_versions(spark, str(tmp_path / "ala")).collect()
    )
    a2 = sorted(
        (r.track, r.es, r.batch_id, r.cos_sim)
        for r in read_all_versions(
            spark, str(tmp_path / "re" / "ala2")).collect()
    )
    assert a1 == a2
    f1 = sorted(map(tuple, read_flow_field_now(
        spark, str(tmp_path / "sta")).collect()))
    f2 = sorted(map(tuple, read_flow_field_now(
        spark, str(tmp_path / "re" / "sta2")).collect()))
    assert f1 == f2


def test_flow_stream_last_ttl(spark, tmp_path):
    """Dormant tracks expire from the carried state; active ones
    persist across an empty-for-them batch."""
    src = tmp_path / "src"
    b0 = [(1, 0, 0.0, 0.0), (1, 100, 0.1, 0.0), (2, 0, 50.0, 50.0)]
    b1 = [(1, 200, 0.2, 0.0)]           # track 2 dormant
    b2 = [(1, 300, 0.3, 0.0), (2, 310, 50.1, 50.0)]
    for i, b in enumerate((b0, b1, b2)):
        _write(src, f"b{i}.json", b, order=i)
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).json(str(src))
    q = flow_stream(
        stream, "trk", "es",
        str(tmp_path / "al"), str(tmp_path / "st"), str(tmp_path / "ck"),
        bits=BITS, min_support=1, last_ttl_s=150,
    )
    q.awaitTermination(180)
    # track 2's carried fix (es 0) expired at batch 1 (horizon 200),
    # so its batch-2 fix opens fresh: no (0 -> 310) leg materializes
    field = read_flow_field_now(spark, str(tmp_path / "st")).collect()
    total = sum(r.n_legs for r in field)
    assert total == 3  # track 1's three legs only
    from geomesa_spark.sources.tableio import ParquetVersionedIO

    last = ParquetVersionedIO(
        spark, str(tmp_path / "st/last")).read_latest().collect()
    assert {(r.track, r.es) for r in last} == {(1, 300), (2, 310)}
