"""Track dynamics: python-oracle parity, edge cases, plan shape."""

import math

import pytest
from pyspark.sql import functions as F

from geomesa_spark.operators.tracks import track_metrics, track_summary

R = 6371008.8


def _hav(lon1, lat1, lon2, lat2):
    rl1, rl2 = math.radians(lat1), math.radians(lat2)
    dlat = math.radians(lat2 - lat1)
    dlon = math.radians(lon2 - lon1)
    a = (
        math.sin(dlat / 2) ** 2
        + math.cos(rl1) * math.cos(rl2) * math.sin(dlon / 2) ** 2
    )
    return 2 * R * math.asin(math.sqrt(a))


ROWS = [
    # track, epoch_s, lon, lat
    ("a", 100, 0.0, 0.0),
    ("a", 200, 0.1, 0.0),
    ("a", 260, 0.1, 0.1),
    ("a", 400, -0.2, 0.3),
    ("b", 50, 10.0, 45.0),
    ("b", 80, 10.2, 45.1),
    ("c", 10, -179.9, 2.0),  # single-point track
]


def _df(spark):
    return spark.createDataFrame(ROWS, "track string, es long, lon double, lat double")


def test_metrics_vs_python_oracle(spark):
    out = track_metrics(
        _df(spark), "track", "es", metric="haversine", bearing=True
    ).orderBy("track", "seq")
    rows = out.collect()
    by_track = {}
    for t, es, lon, lat in sorted(ROWS, key=lambda r: (r[0], r[1])):
        by_track.setdefault(t, []).append((es, lon, lat))
    got = {(r["track"], r["seq"]): r for r in rows}
    for t, pts in by_track.items():
        cum = 0.0
        for i, (es, lon, lat) in enumerate(pts):
            r = got[(t, i + 1)]
            if i == 0:
                assert r["leg_dist"] == 0.0 and r["dt_s"] == 0
                assert r["speed"] is None and r["bearing_deg"] is None
            else:
                pes, plon, plat = pts[i - 1]
                leg = _hav(plon, plat, lon, lat)
                assert r["leg_dist"] == pytest.approx(leg, rel=1e-9)
                assert r["dt_s"] == es - pes
                assert r["speed"] == pytest.approx(leg / (es - pes), rel=1e-9)
                # bearing sanity on the pure-east leg
                cum += leg
            assert r["cum_dist"] == pytest.approx(cum, rel=1e-9)
    # pure-east leg of track a (0,0)->(0.1,0): bearing ~90
    assert got[("a", 2)]["bearing_deg"] == pytest.approx(90.0, abs=0.01)
    # pure-north leg (0.1,0)->(0.1,0.1): bearing ~0
    assert got[("a", 3)]["bearing_deg"] == pytest.approx(0.0, abs=0.01)


def test_planar_metric_exact(spark):
    out = track_metrics(_df(spark), "track", "es", metric="planar")
    r = {(x["track"], x["seq"]): x for x in out.collect()}
    assert r[("a", 2)]["leg_dist"] == math.sqrt(0.1 * 0.1)
    # bit-identical to the engine: same subtraction on the same doubles
    assert r[("b", 2)]["leg_dist"] == math.sqrt(
        (10.2 - 10.0) ** 2 + (45.1 - 45.0) ** 2
    )


def test_equal_ts_tiebreak_deterministic(spark):
    df = spark.createDataFrame(
        [("t", 5, 1.0, 1.0, "x2"), ("t", 5, 0.0, 0.0, "x1")],
        "track string, es long, lon double, lat double, id string",
    )
    out = track_metrics(df, "track", "es", tiebreak_col="id").collect()
    seq = {r["id"]: r["seq"] for r in out}
    assert seq == {"x1": 1, "x2": 2}


def test_summary(spark):
    out = track_summary(_df(spark), "track", "es", metric="planar").collect()
    s = {r["track"]: r for r in out}
    assert s["c"]["n_points"] == 1
    assert s["c"]["total_dist"] == 0.0
    assert s["c"]["duration_s"] == 0 and s["c"]["avg_speed"] is None
    a = s["a"]
    assert a["n_points"] == 4
    assert a["duration_s"] == 300  # telescoping sum of dt = max-min
    assert a["start_ts"] == 100 and a["end_ts"] == 400
    legs = [
        math.sqrt(0.1**2),
        math.sqrt(0.1**2),
        math.sqrt(0.3**2 + 0.2**2),
    ]
    assert a["total_dist"] == pytest.approx(sum(legs), rel=1e-12)
    assert a["avg_speed"] == pytest.approx(sum(legs) / 300, rel=1e-12)
    assert (a["min_lon"], a["max_lon"]) == (-0.2, 0.1)
    assert (a["min_lat"], a["max_lat"]) == (0.0, 0.3)


def test_summary_single_exchange_and_no_python(spark):
    plan = track_summary(
        _df(spark), "track", "es", metric="haversine"
    )._jdf.queryExecution().executedPlan().toString()
    # groupBy(track) reuses the window's hashpartitioning(track):
    # exactly one real Exchange (ignore AQE re-wraps of the same one)
    import re

    exchanges = [
        ln for ln in plan.splitlines() if re.search(r"\bExchange hashpartitioning", ln)
    ]
    assert len(exchanges) == 1, plan
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_timestamp_column_type(spark):
    df = spark.createDataFrame(
        [("t", "2024-01-01 00:00:00", 0.0, 0.0), ("t", "2024-01-01 00:01:40", 0.1, 0.0)],
        "track string, ts string, lon double, lat double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = track_metrics(df, "track", "ts").orderBy("seq").collect()
    assert out[1]["dt_s"] == 100


TRIP_ROWS = [
    # track a: two trips split by a 1000s dwell gap
    ("a", 100, 0.0, 0.0),
    ("a", 200, 1.0, 0.5),
    ("a", 260, 2.0, 1.0),
    ("a", 2000, 50.0, 10.0),   # gap 1740 > 600 -> trip 2
    ("a", 2100, 51.0, 11.0),
    # track b: single point = single trip
    ("b", 10, -100.0, -50.0),
]


def test_track_trips(spark):
    from geomesa_spark.operators.tracks import track_trips

    df = spark.createDataFrame(
        TRIP_ROWS, "track string, es long, lon double, lat double"
    )
    out = {(r.track, r.trip_id): r for r in
           track_trips(df, "track", "es", 600).collect()}
    assert set(out) == {("a", 1), ("a", 2), ("b", 1)}
    t1 = out[("a", 1)]
    assert (t1.o_ts, t1.o_lon, t1.o_lat) == (100, 0.0, 0.0)
    assert (t1.d_ts, t1.d_lon, t1.d_lat) == (260, 2.0, 1.0)
    assert t1.n_points == 3 and t1.duration_s == 160
    t2 = out[("a", 2)]
    assert (t2.o_ts, t2.d_ts, t2.n_points, t2.duration_s) == (2000, 2100, 2, 100)
    b = out[("b", 1)]
    assert b.o_ts == b.d_ts == 10 and b.n_points == 1 and b.duration_s == 0


def test_od_flows(spark):
    from geomesa_spark.operators.tracks import od_flows, track_trips

    df = spark.createDataFrame(
        TRIP_ROWS, "track string, es long, lon double, lat double"
    )
    trips = track_trips(df, "track", "es", 600)
    flows = {(r.ox, r.oy, r.dx, r.dy): r.n_trips
             for r in od_flows(trips, bits=4).collect()}
    n = 1 << 4
    # origin (0,0) -> x=8, y=8; dest (2,1) same cell at bits=4
    assert flows[(8, 8, 8, 8)] == 1
    assert sum(flows.values()) == 3
    # time-bucketed variant keeps counts
    fb = od_flows(trips, bits=4, time_bucket_s=1000).collect()
    assert sum(r.n_trips for r in fb) == 3
    assert any(r.tb == 2 for r in fb)  # trip 2 departs at es 2000


def test_track_trips_timestamp_input(spark):
    from geomesa_spark.operators.tracks import track_trips

    df = spark.createDataFrame(
        [("t", "2024-01-01 00:00:00", 0.0, 0.0),
         ("t", "2024-01-01 02:00:00", 1.0, 1.0)],
        "track string, ts string, lon double, lat double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = track_trips(df, "track", "ts", 3600).collect()
    assert {r.trip_id for r in out} == {1, 2}  # 2h gap splits


def test_stop_detect(spark):
    from geomesa_spark.operators.tracks import stop_detect

    rows = [
        # track s: move, dwell 3 pts (300s), move, dwell 2 pts (50s, too short)
        ("s", 0, 0.0, 0.0),
        ("s", 100, 5.0, 0.0),     # big jump -> anchor
        ("s", 200, 5.001, 0.0),   # dwell
        ("s", 400, 5.002, 0.0),   # dwell
        ("s", 500, 10.0, 0.0),    # jump -> anchor
        ("s", 550, 10.001, 0.0),  # dwell but only 50s total
        # track q: whole track is one dwell
        ("q", 0, -20.0, 30.0),
        ("q", 1000, -20.001, 30.0),
        ("q", 2000, -20.002, 30.001),
    ]
    df = spark.createDataFrame(rows, "track string, es long, lon double, lat double")
    out = {(r.track, r.stop_id): r for r in
           stop_detect(df, "track", "es", 0.01, 150, metric="planar").collect()}
    # s: segment at 5.0 spans 100..400 (300s >= 150); others too short
    assert set(out) == {("s", 2), ("q", 1)}
    s2_ = out[("s", 2)]
    assert (s2_.start_ts, s2_.end_ts, s2_.duration_s, s2_.n_points) == (100, 400, 300, 3)
    assert s2_.center_lon == (5.0 + 5.002) / 2
    q = out[("q", 1)]
    assert (q.start_ts, q.end_ts, q.n_points) == (0, 2000, 3)


def test_stop_detect_single_shuffle(spark):
    from geomesa_spark.operators.tracks import stop_detect
    import re

    df = spark.createDataFrame(
        [("t", 1, 0.0, 0.0), ("t", 2, 0.0, 0.0)],
        "track string, es long, lon double, lat double",
    )
    plan = stop_detect(df, "track", "es", 10.0, 1)._jdf.queryExecution(
    ).executedPlan().toString()
    exchanges = [
        ln for ln in plan.splitlines()
        if re.search(r"\bExchange hashpartitioning", ln)
    ]
    assert len(exchanges) == 1, plan
    assert "Python" not in plan


def test_stop_detect_null_fix_does_not_anchor(spark):
    from geomesa_spark.operators.tracks import stop_detect

    # a NULL lon mid-track gives NULL legs on both sides of it; only
    # the track's first point and the 40-degree jump anchor
    rows = [("a", 0, 10.0, 10.0), ("a", 100, None, 10.0),
            ("a", 200, 10.0, 10.0), ("a", 300, 10.0, 10.0),
            ("a", 400, 50.0, 10.0), ("a", 500, 50.0, 10.0)]
    df = spark.createDataFrame(rows, "track string, es long, lon double, lat double")
    out = sorted(
        (r.stop_id, r.start_ts, r.end_ts, r.n_points)
        for r in stop_detect(df, "track", "es", 1000.0, 0).collect()
    )
    assert out == [(1, 0, 300, 4), (2, 400, 500, 2)]


def _resample_oracle(pts, step, max_gap=None):
    """pts: sorted [(es, lon, lat)]; returns {tick_es: (lon, lat)}."""
    out = {}
    es0 = pts[0][0]
    if es0 % step == 0:
        out[es0] = (pts[0][1], pts[0][2])
    for (e0, x0, y0), (e1, x1, y1) in zip(pts, pts[1:]):
        if max_gap is not None and e1 - e0 > max_gap:
            continue
        k = e0 // step + 1
        while k * step <= e1:
            t = k * step
            fr = (t - e0) / (e1 - e0)
            out[t] = (x0 + (x1 - x0) * fr, y0 + (y1 - y0) * fr)
            k += 1
    return out


def test_track_resample_oracle(spark):
    from geomesa_spark.operators.tracks import track_resample
    import numpy as np

    rng = np.random.default_rng(3)
    rows, oracle = [], {}
    for t in range(20):
        es = int(rng.integers(0, 500))
        pts = []
        for _ in range(30):
            es += int(rng.integers(1, 400))
            pts.append(
                (es, float(rng.uniform(-10, 10)), float(rng.uniform(-5, 5)))
            )
        rows += [(f"t{t}", e, x, y) for e, x, y in pts]
        oracle[f"t{t}"] = _resample_oracle(pts, 100)
    df = spark.createDataFrame(
        rows, "track string, es long, lon double, lat double"
    )
    got = {}
    for r in track_resample(df, "track", "es", 100).collect():
        key = (r.track, r.tick_ts)
        assert key not in got, f"duplicate tick {key}"
        got[key] = (r.lon, r.lat)
    exp = {(t, e): v for t, d in oracle.items() for e, v in d.items()}
    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == exp[k], (k, got[k], exp[k])  # exact doubles


def test_track_resample_edges(spark):
    from geomesa_spark.operators.tracks import track_resample

    rows = [
        ("a", 100, 0.0, 0.0),   # aligned first point -> own tick
        ("a", 100, 9.0, 9.0),   # duplicate ts: zero-length segment
        ("a", 250, 3.0, 0.0),
        ("a", 10250, 5.0, 1.0),  # 10000 s gap
        ("b", 55, 1.0, 1.0),     # unaligned single point -> nothing
    ]
    df = spark.createDataFrame(
        rows, "track string, es long, lon double, lat double"
    )
    got = {(r.track, r.tick_ts): (r.lon, r.lat)
           for r in track_resample(df, "track", "es", 100).collect()}
    assert ("a", 100) in got and got[("a", 100)] == (0.0, 0.0)
    assert ("a", 200) in got  # interpolated inside (100, 250]
    assert ("a", 300) in got and ("a", 10200) in got
    assert not any(t == "b" for t, _ in got)
    # max_gap_s: the 10000 s outage owns nothing
    capped = {(r.track, r.tick_ts)
              for r in track_resample(
                  df, "track", "es", 100, max_gap_s=1000).collect()}
    assert capped == {("a", 100), ("a", 200)}


def test_track_resample_values_and_ts_type(spark):
    from geomesa_spark.operators.tracks import track_resample

    df = spark.createDataFrame(
        [("x", "2024-01-01 00:00:00", 0.0, 0.0, 10.0),
         ("x", "2024-01-01 00:02:00", 2.0, 0.0, 30.0)],
        "track string, ts string, lon double, lat double, alt double",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {r.tick_ts: (r.lon, r.alt)
           for r in track_resample(
               df, "track", "ts", 60, value_cols=["alt"]).collect()}
    base = 1704067200  # 2024-01-01 UTC
    assert got == {base: (0.0, 10.0), base + 60: (1.0, 20.0),
                   base + 120: (2.0, 30.0)}


def test_track_resample_plan_no_python(spark):
    from geomesa_spark.operators.tracks import track_resample

    df = spark.createDataFrame(
        [("t", 0, 0.0, 0.0), ("t", 500, 1.0, 1.0)],
        "track string, es long, lon double, lat double",
    )
    plan = track_resample(df, "track", "es", 100)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Python" not in plan


def test_speed_filter(spark):
    from geomesa_spark.operators.tracks import speed_filter

    rows = [
        ("t", 0, 0.0, 0.0),
        ("t", 10, 0.001, 0.0),    # 1e-4 deg/s: fine
        ("t", 20, 5.0, 0.0),      # teleport
        ("t", 30, 5.001, 0.0),    # judged vs the GHOST (one-pass)
        ("t", 30, 99.0, 0.0),     # dt=0 duplicate: never flagged
    ]
    df = spark.createDataFrame(rows, "track string, es long, lon double, lat double")
    out = {(r.es, r.lon): r.is_ghost for r in speed_filter(
        df, "track", "es", 0.01, metric="planar").collect()}
    assert out == {(0, 0.0): False, (10, 0.001): False,
                   (20, 5.0): True, (30, 5.001): False,
                   (30, 99.0): False}
    kept = speed_filter(df, "track", "es", 0.01, metric="planar",
                        mode="drop").count()
    assert kept == 4
    plan = speed_filter(df, "track", "es", 0.01)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Python" not in plan


def test_flow_field_oracle(spark):
    """Per-cell aggregate motion vs a brute python fold — exact
    (int64 sums + one division of canonical integers)."""
    import numpy as np

    from geomesa_spark.operators.tracks import flow_field

    rng = np.random.default_rng(31)
    rows = []
    tracks = {}
    for t in range(40):
        n = int(rng.integers(2, 30))
        es = np.sort(rng.choice(10_000_000, size=n, replace=False))
        lon = np.cumsum(rng.uniform(-0.8, 1.2, n)) + rng.uniform(-170, 150)
        lat = np.cumsum(rng.uniform(-0.5, 0.5, n)) + rng.uniform(-60, 60)
        lon = np.clip(lon, -179.9, 179.9)
        lat = np.clip(lat, -89.9, 89.9)
        tracks[t] = list(zip(es.tolist(), lon.tolist(), lat.tolist()))
        rows += [(t, int(e), float(x), float(y))
                 for e, x, y in tracks[t]]
    df = spark.createDataFrame(rows, "trk long, es long, lon double, lat double")
    BITS, FP, GAP = 5, 1_000_000, 4_000_000
    got = {(r.x, r.y): (r.n_legs, r.sum_dt_s, r.sum_fp_dx, r.sum_fp_dy,
                        r.u_fp, r.v_fp)
           for r in flow_field(df, "trk", "es", bits=BITS,
                               max_gap_s=GAP).collect()}

    n = 1 << BITS
    exp = {}
    for t, pts in tracks.items():
        for (e0, x0, y0), (e1, x1, y1) in zip(pts, pts[1:]):
            if e1 - e0 > GAP:
                continue
            cx = int(np.clip(np.floor((x0 + 180.0) / 360.0 * n), 0, n - 1))
            cy = int(np.clip(np.floor((y0 + 90.0) / 180.0 * n), 0, n - 1))
            a = exp.setdefault((cx, cy), [0, 0, 0, 0])
            a[0] += 1
            a[1] += e1 - e0
            a[2] += int(np.floor((x1 - x0) * float(FP)))
            a[3] += int(np.floor((y1 - y0) * float(FP)))
    assert set(got) == set(exp)
    for k, (nl, sdt, sdx, sdy) in exp.items():
        u = float(sdx) / float(sdt) if sdt > 0 else None
        v = float(sdy) / float(sdt) if sdt > 0 else None
        assert got[k] == (nl, sdt, sdx, sdy, u, v), k


def test_flow_field_plan_one_exchange_no_python(spark):
    from geomesa_spark.operators.tracks import flow_field

    df = spark.createDataFrame(
        [(1, 0, 0.0, 0.0), (1, 10, 1.0, 1.0)],
        "trk long, es long, lon double, lat double",
    )
    plan = (
        flow_field(df, "trk", "es")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_idl_wrap_flow_resample_stops(spark):
    """IDL inference in the track layer: an antimeridian-crossing leg
    contributes its short-way displacement (flow_field), interpolates
    the short way with normalized output (track_resample), and a
    dateline-straddling stop centers near ±180, not lon 0."""
    from geomesa_spark.operators.tracks import (
        flow_field, stop_detect, track_resample,
    )

    # eastbound crossing: 179.8 -> -179.8 is +0.4 deg, not -359.6
    df = spark.createDataFrame(
        [(1, 0, 179.8, 5.0), (1, 100, -179.8, 5.0)],
        "trk long, es long, lon double, lat double",
    )
    ff = flow_field(df, "trk", "es", bits=5).collect()
    assert len(ff) == 1
    r = ff[0]
    assert r.sum_fp_dx == int(math.floor((0.4 - 1e-12) * 1e6)) or \
        r.sum_fp_dx == 400000  # floor of the exact wrapped delta
    assert abs(r.sum_fp_dx - 400000) <= 1  # never ±359.6e6
    assert r.u_fp == r.sum_fp_dx / 100.0

    # resample at 25 s ticks: lon walks 179.8 -> 179.9 -> (-180 side)
    rs = {
        r.tick_ts: r.lon
        for r in track_resample(df, "trk", "es", 25).collect()
    }
    assert rs[0] == 179.8
    assert rs[25] == pytest.approx(179.9, abs=1e-9)
    # 50 s: 179.8 + 0.2 = 180.0 -> normalizes to -180.0
    assert rs[50] == pytest.approx(-180.0, abs=1e-9)
    assert rs[75] == pytest.approx(-179.9, abs=1e-9)
    assert all(-180.0 <= v < 180.0 for v in rs.values())

    # westbound wrap mirrors
    dfw = spark.createDataFrame(
        [(2, 0, -179.8, 5.0), (2, 100, 179.8, 5.0)],
        "trk long, es long, lon double, lat double",
    )
    ffw = flow_field(dfw, "trk", "es", bits=5).collect()[0]
    assert abs(ffw.sum_fp_dx - (-400000)) <= 1

    # straddling stop: fixes alternate across the dateline, every
    # planar leg is tiny in wrapped terms but the raw span is ~360
    stop_rows = [
        (3, t, 179.95 if i % 2 == 0 else -179.95, 1.0)
        for i, t in enumerate(range(0, 700, 100))
    ]
    sdf = spark.createDataFrame(
        stop_rows, "trk long, es long, lon double, lat double"
    )
    stops = stop_detect(
        sdf, "trk", "es", radius=20_000.0, min_duration_s=600,
        metric="haversine",  # meters; the 0.1-deg hops are ~11 km
    ).collect()
    assert len(stops) == 1
    c = stops[0].center_lon
    # shifted midpoint of [179.95, 180.05] = 180.0 -> normalized
    assert c == pytest.approx(-180.0, abs=1e-9)
    # non-straddling stops unchanged (bit-exact old midpoint)
    sdf2 = spark.createDataFrame(
        [(4, t, 10.0 + (0.001 * (t // 100)), 1.0)
         for t in range(0, 700, 100)],
        "trk long, es long, lon double, lat double",
    )
    s2 = stop_detect(sdf2, "trk", "es", 200.0, 600).collect()
    assert len(s2) == 1
    assert s2[0].center_lon == (10.0 + (10.0 + 0.006)) / 2.0


def test_flow_anomaly_oracle(spark):
    """flow_anomaly vs a brute python fold: exact LOO cell sums,
    bit-equal cos/speed-ratio, NULL degeneracies (zero leg vector,
    single-leg cell, dt=0, rest-of-cell dt=0)."""
    import numpy as np

    from geomesa_spark.operators.tracks import flow_anomaly

    rng = np.random.default_rng(5)
    rows = []
    tracks = {}
    for t in range(25):
        n = int(rng.integers(3, 12))
        es = np.sort(rng.choice(np.arange(0, 100000, 10), n, replace=False))
        lon = np.cumsum(rng.uniform(-0.5, 0.7, n)) + rng.uniform(-10, 10)
        lat = np.cumsum(rng.uniform(-0.4, 0.4, n)) + rng.uniform(-10, 10)
        pts = list(zip(es.tolist(), lon.tolist(), lat.tolist()))
        tracks[t] = pts
        rows += [(t, int(e), float(x), float(y)) for e, x, y in pts]
    # degeneracies: a duplicate-ts leg and a zero-displacement leg
    tracks[90] = [(0, 1.0, 1.0), (0, 1.3, 1.0), (100, 1.3, 1.0)]
    rows += [(90, e, x, y) for e, x, y in tracks[90]]
    df = spark.createDataFrame(
        rows, "trk long, es long, lon double, lat double"
    )
    BITS, FP, N = 4, 1_000_000, 16
    got_rows = flow_anomaly(
        df, "trk", "es", bits=BITS, tiebreak_col="lon"
    ).collect()

    # python fold
    legs = []
    for t, pts in tracks.items():
        pts = sorted(pts, key=lambda p: (p[0], p[1]))
        for (e0, x0, y0), (e1, x1, y1) in zip(pts, pts[1:]):
            cx = int(np.clip(np.floor((x0 + 180.0) / 360.0 * N), 0, N - 1))
            cy = int(np.clip(np.floor((y0 + 90.0) / 180.0 * N), 0, N - 1))
            legs.append((t, e0, cx, cy, e1 - e0,
                         int(np.floor((x1 - x0) * FP)),
                         int(np.floor((y1 - y0) * FP))))
    cell = {}
    for t, e0, cx, cy, dt, fx, fy in legs:
        a = cell.setdefault((cx, cy), [0, 0, 0, 0])
        a[0] += 1; a[1] += dt; a[2] += fx; a[3] += fy
    exp_rows = []
    for t, e0, cx, cy, dt, fx, fy in legs:
        nc, sd, sx, sy = cell[(cx, cy)]
        lx, ly = sx - fx, sy - fy
        if (fx or fy) and (lx or ly):
            cos = (fx * lx + fy * ly) / (
                math.sqrt(float(fx) * fx + float(fy) * fy)
                * math.sqrt(float(lx) * lx + float(ly) * ly)
            )
        else:
            cos = None
        if dt > 0 and sd - dt > 0 and (lx or ly):
            ratio = (math.sqrt(float(fx) * fx + float(fy) * fy)
                     * (sd - dt)) / (
                dt * math.sqrt(float(lx) * lx + float(ly) * ly))
        else:
            ratio = None
        exp_rows.append((t, e0, cx, cy, dt, fx, fy, nc, cos, ratio))
    got_tuples = sorted(
        (r.track, r.es, r.x, r.y, r.dt_s, r.fp_dx, r.fp_dy,
         r.n_cell_legs, r.cos_sim, r.speed_ratio)
        for r in got_rows
    )
    exp_tuples = sorted(exp_rows, key=lambda x: tuple(
        (v is None, v) for v in x))
    got_tuples = sorted(got_tuples, key=lambda x: tuple(
        (v is None, v) for v in x))
    assert len(got_tuples) == len(exp_tuples)
    for g, e in zip(got_tuples, exp_tuples):
        assert g[:8] == e[:8], (g, e)
        for gv, ev in zip(g[8:], e[8:]):
            if ev is None:
                assert gv is None, (g, e)
            else:
                assert gv == pytest.approx(ev, rel=1e-12), (g, e)
    # plan: broadcast field join, no Python
    plan = flow_anomaly(df, "trk", "es", bits=BITS)._jdf \
        .queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert "BroadcastHashJoin" in plan


def test_idl_shared_string_properties():
    """Property check of the IDL shared strings through a real SQL
    engine: the wrapped delta is the shortest representative (|d| <=
    180, congruent to b-a mod 360), interpolated lons normalize into
    [-180, 180), and non-wrap segments reproduce the plain form
    bit-exactly."""
    import duckdb
    import numpy as np

    from geomesa_spark.operators.tracks import (
        TRK_DLON_SQL, lon_interp_sql,
    )

    rng = np.random.default_rng(77)
    n = 5000
    a = rng.uniform(-180, 180, n)
    b = np.concatenate([
        rng.uniform(-180, 180, n // 2),
        # force wraps: b on the far side of a
        ((a[n // 2:] + rng.uniform(181, 359, n - n // 2) + 180) % 360)
        - 180,
    ])
    fr = rng.uniform(0, 1, n)
    con = duckdb.connect()
    con.execute("CREATE TABLE t(a double, b double, fr double)")
    con.executemany(
        "INSERT INTO t VALUES (?,?,?)",
        list(zip(a.tolist(), b.tolist(), fr.tolist())),
    )
    d, li, raw = np.array(con.execute(
        f"SELECT {TRK_DLON_SQL.format(a='a', b='b')},"
        f" {lon_interp_sql('a', 'b', 'fr')}, b - a FROM t"
    ).fetchall()).T
    assert np.all(np.abs(d) <= 180.0)
    # congruent to the raw delta mod 360
    assert np.all(np.abs(np.remainder(raw - d + 180.0, 360.0) - 180.0)
                  < 1e-9)
    assert np.all((li >= -180.0) & (li < 180.0))
    nowrap = np.abs(raw) <= 180.0
    assert np.array_equal(li[nowrap], (a + raw * fr)[nowrap])
    # wrapped interpolation stays within the wrapped segment's arc
    wrap = ~nowrap
    arc = np.abs(d[wrap] * fr[wrap])
    # distance travelled from a (mod 360, shortest) equals |d*fr|
    trav = np.abs(np.remainder(li[wrap] - a[wrap] + 180.0, 360.0) - 180.0)
    assert np.all(np.abs(trav - arc) < 1e-9)
