"""TableIO seam: versioned keyed-state storage behind one interface.

SURVEY §1.2 maps each feature type to an Iceberg table (MERGE upserts,
time-travel replay). This sandbox bundles no Iceberg runtime, so the
engine ships `ParquetVersionedIO` — versioned parquet directories with
`_SUCCESS`-gated commits (the README "Errata vs SURVEY §1.2"
substitution) — and this module makes the substitution a *seam*:
`streaming.upsert.upsert_stream` and `read_state` take any
`VersionedTableIO`, so a production adopter swaps in
`IcebergVersionedIO` (the documented MERGE / VERSION AS OF mapping
below) without touching operator code.

Contract (all implementations):
- `write_version(state, version)` commits the FULL keyed state as
  version `version`, atomically: readers never observe a torn write.
- `versions()` lists committed versions ascending.
- `read_version(v)` / `read_latest(before)` return the state at a
  version / the newest committed version (< `before` if given) —
  `before` exists because foreachBatch is at-least-once: a replayed
  batch N must fold from N's *predecessor*, never from what a crashed
  attempt of N itself wrote.

The streaming pipelines' parquet dirs have two readers:
`read_all_versions` (the union, for output dirs) and
`read_newest_version` (the live state).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession


class ParquetVersionedIO:
    """Versioned parquet directory: `{root}/v=<version>` per commit,
    a version counting only once `_SUCCESS` exists (a dir without it
    is a torn write from a crashed batch and is never folded from).

    This is the reference-parity default: version history doubles as
    the time-travel/replay store (`streaming.upsert.replay_state`)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    def _fs(self):
        jvm = self.spark.sparkContext._jvm
        path = jvm.org.apache.hadoop.fs.Path(self.root)
        fs = path.getFileSystem(
            self.spark.sparkContext._jsc.hadoopConfiguration()
        )
        return jvm, path, fs

    def versions(self) -> list[int]:
        jvm, path, fs = self._fs()
        if not fs.exists(path):
            return []
        out = []
        for st in fs.listStatus(path):
            name = st.getPath().getName()
            if name.startswith("v=") and fs.exists(
                jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
            ):
                out.append(int(name[2:]))
        return sorted(out)

    def write_version(self, state: DataFrame, version: int) -> None:
        state.write.mode("overwrite").parquet(f"{self.root}/v={version}")

    def read_version(self, version: int) -> DataFrame:
        return self.spark.read.parquet(f"{self.root}/v={version}")

    def read_latest(self, before: int | None = None) -> DataFrame | None:
        vs = self.versions()
        if before is not None:
            vs = [v for v in vs if v < before]
        if not vs:
            return None
        return self.read_version(vs[-1])


class IcebergVersionedIO:
    """The SURVEY §1.2 mapping onto a real Iceberg catalog.

    Requires a session configured with the Iceberg runtime
    (`spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog`
    — not bundled in this sandbox, so construction verifies the
    catalog and fails with the exact mapping otherwise):

    - `write_version(state, v)`   -> `MERGE INTO` is the incremental
      form; the full-state contract here is a DataFrameWriterV2
      `overwrite` (one Iceberg snapshot == one version) with the
      Iceberg `snapshot-property.batch=v` write option, which lands
      `{"batch": v}` in that snapshot's summary — the same summary
      `versions()` reads, so the write/read pair shares one
      mechanism (a table property would NOT appear in snapshot
      summaries and the round-trip could never resolve).
    - `versions()`                -> `SELECT snapshot_id, summary
      FROM <t>.snapshots` filtered to committed batch snapshots.
    - `read_version(v)`           -> `SELECT * FROM <t> VERSION AS OF
      <snapshot_id(v)>` (time travel).
    - `read_latest(before)`       -> newest snapshot with batch <
      `before` — Iceberg snapshots are atomic, so the `_SUCCESS`
      dance of the parquet substitute disappears.

    Methods compose those statements; `sql()` previews them without a
    catalog (unit-testable here), execution needs the runtime.
    """

    def __init__(self, spark: SparkSession, table: str):
        self.spark = spark
        self.table = table
        catalog = table.split(".")[0] if "." in table else ""
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        if not impl:
            raise RuntimeError(
                f"no Iceberg catalog configured for {table!r} "
                f"(spark.sql.catalog.{catalog} unset). Mapping that would "
                f"run: {self.sql('write_version', 0)!r} / "
                f"{self.sql('read_version', 0)!r}"
            )

    def sql(self, op: str, version: int | None = None) -> str:
        t = self.table
        if op == "write_version":
            return (
                f"state.writeTo('{t}')"
                f".option('snapshot-property.batch', '{version}')"
                f".overwrite(lit(True))"
            )
        if op == "versions":
            return (
                f"SELECT snapshot_id, summary FROM {t}.snapshots "
                f"ORDER BY committed_at"
            )
        if op == "read_version":
            return f"SELECT * FROM {t} VERSION AS OF __snapshot_of_v{version}"
        raise ValueError(f"unknown op {op!r}")

    def versions(self) -> list[int]:
        rows = self.spark.sql(self.sql("versions")).collect()
        out = []
        for r in rows:
            batch = (r.summary or {}).get("batch")
            if batch is not None:
                out.append(int(batch))
        return sorted(out)

    def write_version(self, state: DataFrame, version: int) -> None:
        from pyspark.sql import functions as F

        # snapshot-property.* write options land in THIS snapshot's
        # summary — the exact map versions()/_snapshot_of read back.
        # (A table property would be invisible to the snapshots
        # metadata table and the batch->snapshot lookup would never
        # resolve.)
        (
            state.writeTo(self.table)
            .option("snapshot-property.batch", str(version))
            .overwrite(F.lit(True))
        )

    def read_version(self, version: int) -> DataFrame:
        snap = self._snapshot_of(version)
        return self.spark.sql(
            f"SELECT * FROM {self.table} VERSION AS OF {snap}"
        )

    def read_latest(self, before: int | None = None) -> DataFrame | None:
        vs = self.versions()
        if before is not None:
            vs = [v for v in vs if v < before]
        if not vs:
            return None
        return self.read_version(vs[-1])

    def _snapshot_of(self, version: int) -> int:
        rows = self.spark.sql(self.sql("versions")).collect()
        for r in rows:
            if int((r.summary or {}).get("batch", -1)) == int(version):
                return int(r.snapshot_id)
        raise KeyError(f"no snapshot for batch {version}")


def _union(io: ParquetVersionedIO, versions: list[int]) -> DataFrame:
    frames = (io.read_version(v) for v in versions)
    return reduce(DataFrame.unionByName, frames)


def read_all_versions(spark: SparkSession, root: str) -> DataFrame:
    """Union of every committed version under `root` — the reader of
    an INCREMENT-shaped output dir (alerts, events, stops, accepted
    records: each row is emitted in exactly one micro-batch). Only
    `_SUCCESS` versions count; raises ValueError when there is none."""
    io = ParquetVersionedIO(spark, root)
    vs = io.versions()
    if not vs:
        raise ValueError(f"no committed versions under {root}")
    return _union(io, vs)


def read_newest_version(spark: SparkSession, root: str) -> DataFrame:
    """The newest committed version under `root` — the live view of a
    FULL-STATE-shaped dir. Raises ValueError when there is none."""
    state = ParquetVersionedIO(spark, root).read_latest()
    if state is None:
        raise ValueError(f"no committed versions under {root}")
    return state


def compact_versions(io: ParquetVersionedIO, upto: int | None = None) -> int | None:
    """Merge every committed version <= `upto` (default: all) of an
    INCREMENT-shaped versioned dir (disjoint row sets per version —
    `streaming.ingest`'s accepted output) into the single top slot
    `v=<upto>`, so readers union O(1) versions instead of O(batches).
    The analog of the tablet compactions the reference's Accumulo
    layer relies on for the same read-amplification problem.

    Crash-safe single-writer maintenance (NOT concurrent with an
    active writer on the same dir, and readers during the swap can
    observe a partial union — run it between ingest runs, like any
    compaction window):

      1. union -> staging dir ``compact_tmp_<target>`` (the target
         slot is encoded in the NAME; parquet's own ``_SUCCESS``
         marks it committed);
      2. delete the input ``v=<i>`` dirs (i < target);
      3. delete ``v=<target>`` and rename staging into its place.

    A crash between 2 and 3 loses nothing: the staging dir holds a
    committed superset, and the next `compact_versions` call resumes
    at step 3 (a staging dir WITHOUT ``_SUCCESS`` is a torn step-1
    write and is discarded instead). Returns the surviving version,
    or None when the dir has no committed versions."""
    jvm, root, fs = io._fs()

    def _path(name: str):
        return jvm.org.apache.hadoop.fs.Path(f"{io.root}/{name}")

    def _swap(target_version: int) -> int:
        for v in io.versions():
            if v <= target_version:
                fs.delete(_path(f"v={v}"), True)
        fs.rename(_path(f"compact_tmp_{target_version}"), _path(f"v={target_version}"))
        return target_version

    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if not name.startswith("compact_tmp_"):
                continue
            if fs.exists(_path(f"{name}/_SUCCESS")):
                # interrupted run: staging is a committed superset of
                # every remaining version at-or-below its target slot
                return _swap(int(name[len("compact_tmp_"):]))
            fs.delete(st.getPath(), True)  # torn step-1 write

    vs = [v for v in io.versions() if upto is None or v <= upto]
    if not vs:
        return None
    target = vs[-1]
    if len(vs) == 1:
        return target  # nothing to merge
    _union(io, vs).write.mode("overwrite").parquet(
        f"{io.root}/compact_tmp_{target}"
    )
    return _swap(target)


def truncate_history(io: ParquetVersionedIO, keep_last: int = 1) -> list[int]:
    """Drop old versions of a FULL-STATE-shaped dir (every version is
    the complete keyed state — `upsert_stream` / the ingest seen
    state), keeping the newest `keep_last`. Bounds the time-travel /
    replay window, which otherwise grows with every micro-batch.
    Returns the versions removed."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    jvm, root, fs = io._fs()
    vs = io.versions()
    drop = vs[:-keep_last] if keep_last < len(vs) else []
    for v in drop:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{io.root}/v={v}"), True)
    return drop
