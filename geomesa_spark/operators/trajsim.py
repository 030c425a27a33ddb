"""Trajectory similarity: discrete Hausdorff distance over candidate
track pairs.

`co_travel` finds pairs that move together tick-for-tick; Hausdorff
answers the SHAPE question — how far apart are two tracks' paths as
point sets, regardless of timing (route dedup, corridor conformance,
"same road, different day").  H(A,B) = max(h(A→B), h(B→A)) with
h(A→B) = max_{a∈A} min_{b∈B} d(a,b) — the classic symmetric discrete
Hausdorff.

Scale design: NEVER all track pairs — the caller supplies candidate
pairs (from `co_travel`, `eps_pairs` over track centroids, an OD-cell
match, …) and a bounded point set per track (resampled every k-th
tick, or `simplify_tracks` output).  The per-pair cross term is then
|A|·|B| with both factors caller-bounded: each track folds to one
coordinate-array row, two equi-joins on the pair key bring both
tracks' arrays together — no cartesian over the corpus — and one
numpy sweep per pair computes both directions.

Determinism: planar squared distances folded through min/max only
(exact IEEE — the stop_detect/dwithin gate convention); the final
sqrt is correctly rounded.  Duplicate coordinates collapse inside
min/max (Hausdorff is a set distance).
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["hausdorff_join", "dtw_join", "frechet_join"]


def hausdorff_join(
    pts: DataFrame,
    pairs: DataFrame,
    track_col: str = "track",
    lon_col: str = "lon",
    lat_col: str = "lat",
    a_col: str = "track_a",
    b_col: str = "track_b",
) -> DataFrame:
    """Symmetric discrete Hausdorff distance per candidate pair.

    pts: one row per (track, point); pairs: (track_a, track_b)
    candidates. Returns (track_a, track_b, hausdorff) in the
    coordinate units (planar degrees for lon/lat).

    Each track folds to ONE coordinate-array row (the dtw_join
    shape), picked up by two equi-joins on the pair key; the |A|x|B|
    distance matrix runs as a per-pair numpy sweep inside an
    Arrow-batched pandas UDF, so no |pairs|·|A|·|B| joined
    intermediate ever materializes.

    No sort_array: Hausdorff is a SET distance, so point order is
    irrelevant — only the x/y correspondence matters, which the struct
    collect preserves.  Arithmetic: float64 dx*dx + dy*dy, min/max
    folds (exact selections, order-free), one correctly-rounded sqrt
    at the end."""
    import math

    import numpy as np
    from pyspark.sql.types import DoubleType

    packed = (
        pts.groupBy(F.col(track_col).alias("_t"))
        .agg(
            F.collect_list(
                F.struct(
                    F.col(lon_col).cast("double").alias("x"),
                    F.col(lat_col).cast("double").alias("y"),
                )
            ).alias("_s")
        )
        .select(
            "_t",
            F.transform(F.col("_s"), lambda s: s["x"]).alias("_xs"),
            F.transform(F.col("_s"), lambda s: s["y"]).alias("_ys"),
        )
    )
    pr = pairs.select(F.col(a_col).alias("ta"), F.col(b_col).alias("tb"))
    j = (
        pr.join(
            packed.select(
                F.col("_t").alias("ta"),
                F.col("_xs").alias("ax"), F.col("_ys").alias("ay"),
            ),
            "ta",
        )
        .join(
            packed.select(
                F.col("_t").alias("tb"),
                F.col("_xs").alias("bx"), F.col("_ys").alias("by"),
            ),
            "tb",
        )
    )

    @F.pandas_udf(DoubleType())
    def _haus(
        ax: pd.Series, ay: pd.Series, bx: pd.Series, by: pd.Series
    ) -> pd.Series:
        out = np.empty(len(ax), dtype=np.float64)
        for i in range(len(ax)):
            axi = np.asarray(ax[i], dtype=np.float64)
            ayi = np.asarray(ay[i], dtype=np.float64)
            bxi = np.asarray(bx[i], dtype=np.float64)
            byi = np.asarray(by[i], dtype=np.float64)
            dx = axi[:, None] - bxi[None, :]
            dy = ayi[:, None] - byi[None, :]
            d2 = dx * dx + dy * dy
            h = max(d2.min(axis=1).max(), d2.min(axis=0).max())
            out[i] = math.sqrt(h)
        return pd.Series(out)

    return j.select(
        F.col("ta").alias(a_col),
        F.col("tb").alias(b_col),
        _haus("ax", "ay", "bx", "by").alias("hausdorff"),
    )


def _packed_pairs(
    pts, pairs, track_col, ts_col, lon_col, lat_col, a_col, b_col,
    tiebreak_col,
):
    """Candidate pairs carrying both tracks' coordinate arrays: each
    track folds to ONE row (sort_array over (ts, tiebreak) structs —
    deterministic order without a window), picked up by two
    equi-joins.  Shared by dtw_join / frechet_join (hausdorff_join
    packs without the sort: a set distance needs no point order)."""
    tb = tiebreak_col if tiebreak_col else ts_col
    packed = (
        pts.groupBy(F.col(track_col).alias("_t"))
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(ts_col).alias("o1"),
                        F.col(tb).alias("o2"),
                        F.col(lon_col).cast("double").alias("x"),
                        F.col(lat_col).cast("double").alias("y"),
                    )
                )
            ).alias("_s")
        )
        .select(
            "_t",
            F.transform(F.col("_s"), lambda s: s["x"]).alias("_xs"),
            F.transform(F.col("_s"), lambda s: s["y"]).alias("_ys"),
        )
    )
    pr = pairs.select(F.col(a_col).alias("ta"), F.col(b_col).alias("tb"))
    return (
        pr.join(
            packed.select(
                F.col("_t").alias("ta"),
                F.col("_xs").alias("ax"), F.col("_ys").alias("ay"),
            ),
            "ta",
        )
        .join(
            packed.select(
                F.col("_t").alias("tb"),
                F.col("_xs").alias("bx"), F.col("_ys").alias("by"),
            ),
            "tb",
        )
    )


def dtw_join(
    pts: DataFrame,
    pairs: DataFrame,
    track_col: str = "track",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
    a_col: str = "track_a",
    b_col: str = "track_b",
    band: int | None = 10,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Dynamic-time-warping distance per candidate pair — the ORDERED
    complement of `hausdorff_join` (Hausdorff treats tracks as point
    sets; DTW respects traversal order, so the same road driven in
    opposite directions scores far apart).

    Scale shape: candidate pairs only (the hausdorff_join contract);
    each track folds to ONE row of coordinate arrays (sort_array over
    (ts, tiebreak) structs — deterministic order without a window),
    so the pair table carries four double arrays and the O(n·m) DP
    runs inside an Arrow-batched pandas UDF — the engine's per-pair
    escape hatch (simplify_tracks' contract: sequential algorithm,
    numpy row sweeps, no fixed composition of built-ins expresses the
    recurrence).  `band` is the Sakoe-Chiba radius bounding the DP to
    n·(2·band+1) cells — the standard speed/flexibility trade; None
    runs the full matrix.  Resample/simplify tracks first to bound n.

    Returns (track_a, track_b, dtw, path_len): the summed euclidean
    alignment cost and the warping-path length (divide for the
    normalized distance)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    j = _packed_pairs(
        pts, pairs, track_col, ts_col, lon_col, lat_col,
        a_col, b_col, tiebreak_col,
    )

    bandr = band

    def _dtw_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        out_d, out_l = [], []
        for ax, ay, bx, by in zip(
            pdf["ax"], pdf["ay"], pdf["bx"], pdf["by"]
        ):
            A = np.column_stack([np.asarray(ax), np.asarray(ay)])
            B = np.column_stack([np.asarray(bx), np.asarray(by)])
            n, m = len(A), len(B)
            r = max(bandr, abs(n - m)) if bandr is not None else max(n, m)
            INF = np.inf
            prev = np.full(m + 1, INF)
            prev[0] = 0.0
            # steps[i, j]: path length ending at (i, j)
            plen_prev = np.zeros(m + 1, dtype=np.int64)
            for i in range(1, n + 1):
                cur = np.full(m + 1, INF)
                plen_cur = np.zeros(m + 1, dtype=np.int64)
                lo = max(1, i - r)
                hi = min(m, i + r)
                d = np.sqrt(
                    ((A[i - 1] - B[lo - 1:hi]) ** 2).sum(axis=1)
                )
                for idx, jj in enumerate(range(lo, hi + 1)):
                    opts = (
                        (prev[jj - 1], plen_prev[jj - 1]),  # diagonal
                        (prev[jj], plen_prev[jj]),          # up
                        (cur[jj - 1], plen_cur[jj - 1]),    # left
                    )
                    best = min(opts, key=lambda t: t[0])
                    if best[0] < INF:
                        cur[jj] = d[idx] + best[0]
                        plen_cur[jj] = best[1] + 1
                prev, plen_prev = cur, plen_cur
            out_d.append(float(prev[m]))
            out_l.append(int(plen_prev[m]))
        return pd.DataFrame(
            {
                a_col: pdf["ta"], b_col: pdf["tb"],
                "dtw": out_d, "path_len": out_l,
            }
        )

    schema = StructType([
        StructField(a_col, j.schema["ta"].dataType),
        StructField(b_col, j.schema["tb"].dataType),
        StructField("dtw", DoubleType()),
        StructField("path_len", LongType()),
    ])
    return j.groupBy("ta", "tb").applyInPandas(
        lambda pdf: _dtw_batch(pdf), schema=schema
    )


def frechet_join(
    pts: DataFrame,
    pairs: DataFrame,
    track_col: str = "track",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
    a_col: str = "track_a",
    b_col: str = "track_b",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Discrete Fréchet distance per candidate pair — the dog-leash
    measure: the shortest leash that lets two walkers traverse their
    tracks IN ORDER without backtracking.  Completes the similarity
    triple: Hausdorff ignores order, DTW sums alignment cost (longer
    tracks accumulate more), Fréchet is the order-respecting
    BOTTLENECK (a max, so it reads in distance units and is
    length-invariant).

    Same scale shape as ``dtw_join``: candidate pairs only, each
    track packed to one coordinate-array row, the O(n·m) recurrence
    c[i,j] = max(d_ij, min(c[i-1,j], c[i,j-1], c[i-1,j-1])) inside an
    Arrow-batched pandas UDF (the per-pair escape hatch — the
    recurrence is inherently sequential).  Resample/simplify tracks
    first to bound n·m.

    Returns (track_a, track_b, frechet)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    j = _packed_pairs(
        pts, pairs, track_col, ts_col, lon_col, lat_col,
        a_col, b_col, tiebreak_col,
    )

    def _frechet_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for ax, ay, bx, by in zip(
            pdf["ax"], pdf["ay"], pdf["bx"], pdf["by"]
        ):
            A = np.column_stack([np.asarray(ax), np.asarray(ay)])
            B = np.column_stack([np.asarray(bx), np.asarray(by)])
            n, m = len(A), len(B)
            INF = np.inf
            prev = np.full(m, INF)
            for i in range(n):
                d = np.sqrt(((A[i] - B) ** 2).sum(axis=1))
                cur = np.full(m, INF)
                if i == 0:
                    # first row: leash over B[0..j] with A pinned at 0
                    cur = np.maximum.accumulate(d)
                else:
                    cur[0] = max(d[0], prev[0])
                    for jj in range(1, m):
                        reach = min(prev[jj], prev[jj - 1], cur[jj - 1])
                        cur[jj] = max(d[jj], reach)
                prev = cur
            out.append(float(prev[m - 1]))
        return pd.DataFrame(
            {a_col: pdf["ta"], b_col: pdf["tb"], "frechet": out}
        )

    schema = StructType([
        StructField(a_col, j.schema["ta"].dataType),
        StructField(b_col, j.schema["tb"].dataType),
        StructField("frechet", DoubleType()),
    ])
    return j.groupBy("ta", "tb").applyInPandas(
        lambda pdf: _frechet_batch(pdf), schema=schema
    )
