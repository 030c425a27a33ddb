"""SparkSession factory with engine-appropriate defaults.

Defaults chosen for scale (see SURVEY.md §4): AQE on (runtime
re-planning + skew-join second line of defense), Arrow transport for
pandas UDFs, UTC session timezone so epoch arithmetic matches the
DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

import glob
import hashlib
import os
import tempfile
import time
import zipfile

from pyspark.sql import SparkSession


def package_zip(dest_dir: str = "/tmp") -> str:
    """Zip this package for `spark-submit --py-files` / addPyFile.

    Executors (local Python workers or remote) import the engine from
    this archive — the packaging story required by north_rule.  The
    archive is named by a digest of its members (relative path +
    bytes), so a tree only ever reuses an archive holding exactly its
    own sources, even when several checkouts share `dest_dir`.  Reuse
    refreshes the archive's mtime; writing a new one deletes the other
    archives in `dest_dir` untouched for a day, so the set stays
    bounded while live checkouts keep theirs.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    members = []
    digest = hashlib.sha256()
    for full in sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(pkg_dir)
        for f in fs
        if f.endswith(".py")
    ):
        rel = os.path.join("geomesa_spark", os.path.relpath(full, pkg_dir))
        with open(full, "rb") as fh:
            data = fh.read()
        for part in (rel.encode(), data):
            digest.update(len(part).to_bytes(8, "big"))
            digest.update(part)
        members.append((rel, data))
    out = os.path.join(
        dest_dir, f"geomesa_spark_pkg-{digest.hexdigest()[:16]}.zip"
    )
    try:
        os.utime(out)
        return out
    except FileNotFoundError:
        pass
    # per-process temp file + atomic replace: a fixed .tmp name let
    # two concurrent sessions interleave writes and publish a torn
    # archive to every executor
    fd, tmp = tempfile.mkstemp(dir=dest_dir, suffix=".zip.tmp")
    os.close(fd)
    try:
        with zipfile.ZipFile(tmp, "w") as z:
            for rel, data in members:
                z.writestr(rel, data)
        os.replace(tmp, out)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    stale = time.time() - 86400
    for old in glob.glob(os.path.join(dest_dir, "geomesa_spark_pkg-*.zip")):
        try:
            if os.path.getmtime(old) < stale:
                os.unlink(old)
        except FileNotFoundError:
            pass  # another session removed it first
    return out


_STATS_RESET_WARNED = False


def reset_plan_stats(df):
    """Rewrap a (checkpointed) DataFrame as a bare LogicalRDD scan,
    dropping the origin plan's size-in-bytes statistics.

    ``localCheckpoint`` truncates LINEAGE but carries the origin
    plan's Catalyst stats forward, and the non-CBO size estimator
    multiplies child sizes through every join — so an iterative
    operator that self-joins its own checkpointed state DOUBLES the
    stat's bit-length per round.  The products become million-bit
    BigIntegers within ~10 rounds and Catalyst spends minutes in
    BigInteger.multiply during planning (observed as a "hang" in
    boruvka_mst, and latent in any dup_components run that needs
    >~12 pointer-jump rounds).  Rewrapping the checkpoint RDD resets
    the node to defaultSizeInBytes (conservative = no plan-time
    auto-broadcast for the loop state; AQE still broadcasts from
    ACTUAL runtime sizes, so join strategy is unaffected in
    practice).

    Trade-off: the rewrap also drops the checkpoint's
    outputPartitioning metadata (UnknownPartitioning).  That is
    deliberate and harmless in the loops that use this helper —
    their state frames alternate join keys between rounds
    (doc→canon, a→b, comp→node), so the next round re-shuffles the
    state either way; the frames that must NOT re-shuffle (the big
    edge tables) are persisted with an explicit repartition and
    never pass through here.

    Classic sessions only (py4j); on Connect sessions this returns
    the input unchanged — the stats blowup is a driver-side planner
    cost that Connect servers would need the same fix for.
    """
    try:
        jdf = df._jdf
        jspark = jdf.sparkSession()
        rdd = jdf.queryExecution().toRdd()
        new_jdf = jspark.internalCreateDataFrame(rdd, jdf.schema(), False)
        from pyspark.sql import DataFrame as _DF

        return _DF(new_jdf, df.sparkSession)
    except Exception as exc:  # py4j raises Py4JError subclasses;
        # Connect raises AttributeError on _jdf — both must fall back
        # the py4j call into private internalCreateDataFrame can break
        # on a Spark upgrade (or a Connect session, which has no
        # _jdf); falling back silently would reintroduce the
        # BigInteger stats-blowup planner hang this wrapper exists to
        # fix, so make the degradation VISIBLE once per process
        global _STATS_RESET_WARNED
        if not _STATS_RESET_WARNED:
            _STATS_RESET_WARNED = True
            import warnings

            warnings.warn(
                "reset_plan_stats fell back to the unwrapped "
                f"DataFrame ({type(exc).__name__}: {exc}) — iterative "
                "self-joining loops may hit the Catalyst BigInteger "
                "stats blowup; check Spark version compatibility",
                RuntimeWarning,
                stacklevel=2,
            )
        return df


def local_checkpoint(df, eager: bool = True):
    """`df.localCheckpoint(eager)` + `reset_plan_stats` — the
    checkpoint form every iterative self-joining loop must use (see
    `reset_plan_stats` for why).

    Which form where:
    - `local_checkpoint` for loop-carried state that a later round
      joins with itself or with its own earlier rounds: without the
      stats reset its size estimate doubles in bit-length per round.
    - raw `.localCheckpoint` at one-shot sites (a frame checkpointed
      once and read by a few consumers) whose size statistics or
      output partitioning feed a later join choice — a small
      checkpointed cover that should still auto-broadcast, or an
      edge table whose hash partitioning a join reuses. The reset
      would drop both.

    Loop sites that still use the raw form, and are the next to
    move (each move changes plan statistics, so each needs its own
    before/after measurement): `graph.py:158` (rank rounds),
    `route.py:474-476` (walker steps and their union),
    `raster.py:1240` (reach doubling), `knn.py:409` (unresolved
    queries), `bpe.py:150` (merge rounds)."""
    return reset_plan_stats(df.localCheckpoint(eager=eager))


def get_spark(
    app_name: str = "geomesa_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and master == "local[*]":
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # match core count in local mode; on a real cluster this is
        # overridden per-job (AQE coalesces down from here anyway)
        try:
            spec = master.split("[")[1].rstrip("]") if "[" in master else ""
            n = (os.cpu_count() or 8) if spec == "*" else int(spec) if spec else 200
        except ValueError:
            n = 200
        shuffle_partitions = max(n, 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # ship the engine to executors (spark-submit --py-files analog);
    # idempotent — addPyFile of the same path is a no-op
    try:
        spark.sparkContext.addPyFile(package_zip())
    except Exception:
        pass  # e.g. Connect-only sessions; driver-side import still works
    return spark
