"""hausdorff_join: brute-force python oracle parity."""

import math

import pytest

import numpy as np

from geomesa_spark.operators.trajsim import hausdorff_join


def _brute(A, B):
    def h(X, Y):
        return max(
            min((ax - bx) ** 2 + (ay - by) ** 2 for bx, by in Y)
            for ax, ay in X
        )
    return math.sqrt(max(h(A, B), h(B, A)))


def test_hausdorff_oracle(spark):
    rng = np.random.default_rng(15)
    tracks = {
        f"t{i}": [
            (float(rng.uniform(-10, 10)), float(rng.uniform(-5, 5)))
            for _ in range(int(rng.integers(3, 25)))
        ]
        for i in range(12)
    }
    prs = [("t0", "t1"), ("t2", "t3"), ("t4", "t9"), ("t5", "t5"),
           ("t10", "t11")]
    pts = spark.createDataFrame(
        [(t, x, y) for t, ps in tracks.items() for x, y in ps],
        "track string, lon double, lat double",
    )
    pairs = spark.createDataFrame(prs, "track_a string, track_b string")
    got = {(r.track_a, r.track_b): r.hausdorff
           for r in hausdorff_join(pts, pairs).collect()}
    exp = {(a, b): _brute(tracks[a], tracks[b]) for a, b in prs}
    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == exp[k], (k, got[k], exp[k])
    assert got[("t5", "t5")] == 0.0  # self-distance


def test_hausdorff_asymmetry_direction(spark):
    # A inside B's extent but B far outside A's: directed distances
    # differ; symmetric H takes the max
    A = [(0.0, 0.0), (1.0, 0.0)]
    B = [(0.0, 0.0), (1.0, 0.0), (10.0, 0.0)]
    pts = spark.createDataFrame(
        [("a", x, y) for x, y in A] + [("b", x, y) for x, y in B],
        "track string, lon double, lat double",
    )
    pairs = spark.createDataFrame([("a", "b")],
                                  "track_a string, track_b string")
    out = hausdorff_join(pts, pairs).collect()
    assert out[0].hausdorff == 9.0  # h(b->a) dominates


def test_hausdorff_packed_plan_arrow_no_cartesian(spark):
    # one Arrow-batched scalar UDF, equi-joins only
    pts = spark.createDataFrame(
        [("a", 0.0, 0.0), ("b", 1.0, 1.0)],
        "track string, lon double, lat double",
    )
    pairs = spark.createDataFrame([("a", "b")],
                                  "track_a string, track_b string")
    plan = hausdorff_join(pts, pairs)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _brute_dtw(A, B):
    import math

    n, m = len(A), len(B)
    INF = float("inf")
    D = [[INF] * (m + 1) for _ in range(n + 1)]
    L = [[0] * (m + 1) for _ in range(n + 1)]
    D[0][0] = 0.0
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            c = math.sqrt(
                (A[i - 1][0] - B[j - 1][0]) ** 2
                + (A[i - 1][1] - B[j - 1][1]) ** 2
            )
            best = min(
                (D[i - 1][j - 1], L[i - 1][j - 1]),
                (D[i - 1][j], L[i - 1][j]),
                (D[i][j - 1], L[i][j - 1]),
            )
            if best[0] < INF:
                D[i][j] = c + best[0]
                L[i][j] = best[1] + 1
    return D[n][m], L[n][m]


def test_dtw_oracle(spark):
    import numpy as np

    from geomesa_spark.operators.trajsim import dtw_join

    rng = np.random.default_rng(44)
    tracks = {
        f"t{i}": [
            (int(k), float(rng.uniform(-5, 5)), float(rng.uniform(-5, 5)))
            for k in range(int(rng.integers(4, 18)))
        ]
        for i in range(8)
    }
    prs = [("t0", "t1"), ("t2", "t3"), ("t4", "t4"), ("t5", "t7")]
    pts = spark.createDataFrame(
        [(t, ts, x, y) for t, ps in tracks.items() for ts, x, y in ps],
        "track string, ts long, lon double, lat double",
    )
    pairs = spark.createDataFrame(prs, "track_a string, track_b string")
    got = {(r.track_a, r.track_b): (r.dtw, r.path_len)
           for r in dtw_join(pts, pairs, band=None).collect()}
    for a, b in prs:
        A = [(x, y) for _, x, y in tracks[a]]
        B = [(x, y) for _, x, y in tracks[b]]
        d, ln = _brute_dtw(A, B)
        assert got[(a, b)][1] == ln
        assert abs(got[(a, b)][0] - d) < 1e-12, (a, b)
    assert got[("t4", "t4")][0] == 0.0  # self-alignment is free


def test_dtw_band_matches_full_when_wide(spark):
    import numpy as np

    from geomesa_spark.operators.trajsim import dtw_join

    rng = np.random.default_rng(2)
    pts = spark.createDataFrame(
        [("a", i, float(i) * 0.1, float(rng.uniform(-1, 1)))
         for i in range(20)]
        + [("b", i, float(i) * 0.1 + 0.05, float(rng.uniform(-1, 1)))
           for i in range(25)],
        "track string, ts long, lon double, lat double",
    )
    pairs = spark.createDataFrame([("a", "b")],
                                  "track_a string, track_b string")
    full = dtw_join(pts, pairs, band=None).collect()[0]
    banded = dtw_join(pts, pairs, band=30).collect()[0]
    assert (full.dtw, full.path_len) == (banded.dtw, banded.path_len)


def test_dtw_direction_sensitivity(spark):
    # same road both directions: Hausdorff ~0, DTW large
    from geomesa_spark.operators.trajsim import dtw_join, hausdorff_join

    fwd = [("f", i, float(i), 0.0) for i in range(10)]
    rev = [("r", i, float(9 - i), 0.0) for i in range(10)]
    pts = spark.createDataFrame(
        fwd + rev, "track string, ts long, lon double, lat double"
    )
    pairs = spark.createDataFrame([("f", "r")],
                                  "track_a string, track_b string")
    h = hausdorff_join(pts, pairs).collect()[0].hausdorff
    d = dtw_join(pts, pairs, band=None).collect()[0].dtw
    assert h == 0.0 and d > 30.0


def test_frechet_vs_recursive_oracle(spark):
    """frechet_join vs the independent RECURSIVE definition
    (memoized two-walker formulation), plus the classic semantic
    splits: same road opposite directions (Hausdorff ~0, Fréchet
    large) and length-invariance vs DTW's accumulation."""
    import functools
    import math

    import numpy as np

    from geomesa_spark.operators.trajsim import frechet_join

    rng = np.random.default_rng(13)
    tracks = {}
    for t in range(12):
        n = int(rng.integers(3, 14))
        xs = np.cumsum(rng.uniform(-1, 1.3, n)) + rng.uniform(-5, 5)
        ys = np.cumsum(rng.uniform(-1, 1, n)) + rng.uniform(-5, 5)
        tracks[t] = list(zip(xs.tolist(), ys.tolist()))
    # a road and its reverse
    road = [(float(i) * 0.5, 0.0) for i in range(8)]
    tracks[100] = road
    tracks[101] = road[::-1]
    # the same road sampled 4x denser (length-invariance check)
    dense = [(i * 0.125, 0.0) for i in range(29)]
    tracks[102] = dense

    rows = []
    for t, p in tracks.items():
        for i, (x, y) in enumerate(p):
            rows.append((t, i, float(x), float(y)))
    pts = spark.createDataFrame(rows, "track long, ts long, lon double, lat double")
    keys = sorted(tracks)
    prs = [(a, b) for i, a in enumerate(keys) for b in keys[i + 1:]]
    pairs = spark.createDataFrame(prs, "track_a long, track_b long")
    got = {(r.track_a, r.track_b): r.frechet
           for r in frechet_join(pts, pairs).collect()}
    assert set(got) == set(prs)

    def oracle(A, B):
        @functools.lru_cache(maxsize=None)
        def c(i, j):
            d = math.dist(A[i], B[j])
            if i == 0 and j == 0:
                return d
            if i == 0:
                return max(d, c(0, j - 1))
            if j == 0:
                return max(d, c(i - 1, 0))
            return max(d, min(c(i - 1, j), c(i, j - 1), c(i - 1, j - 1)))
        return c(len(A) - 1, len(B) - 1)

    import sys
    sys.setrecursionlimit(10000)
    for (a, b), v in got.items():
        assert v == pytest.approx(oracle(tracks[a], tracks[b]), rel=1e-12), (a, b)

    # reverse direction reads far apart (road length 3.5); Hausdorff
    # of the same pair would be 0
    assert got[(100, 101)] > 1.5
    # same road, denser sampling: Fréchet stays small
    assert got[(100, 102)] < 0.3
