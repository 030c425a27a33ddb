"""Version compaction + history truncation for versioned parquet
dirs — including crash-recovery resume from a committed staging dir."""

import pytest

from geomesa_spark.sources.tableio import (
    ParquetVersionedIO,
    compact_versions,
    read_all_versions,
    read_newest_version,
    truncate_history,
)


def _mk(spark, root, versions):
    io = ParquetVersionedIO(spark, root)
    for v, rows in versions.items():
        io.write_version(
            spark.createDataFrame(rows, "fp string, val long"), v
        )
    return io


def test_compact_merges_into_top_slot(spark, tmp_path):
    io = _mk(spark, str(tmp_path / "acc"), {
        0: [("a", 1), ("b", 2)],
        1: [("c", 3)],
        4: [("d", 4)],
    })
    assert compact_versions(io) == 4
    assert io.versions() == [4]
    got = {r["fp"]: r["val"] for r in io.read_version(4).collect()}
    assert got == {"a": 1, "b": 2, "c": 3, "d": 4}


def test_compact_upto_keeps_later_versions(spark, tmp_path):
    io = _mk(spark, str(tmp_path / "acc"), {
        0: [("a", 1)], 1: [("b", 2)], 2: [("c", 3)],
    })
    assert compact_versions(io, upto=1) == 1
    assert io.versions() == [1, 2]
    merged = {r["fp"] for r in io.read_version(1).collect()}
    assert merged == {"a", "b"}
    assert {r["fp"] for r in io.read_version(2).collect()} == {"c"}


def test_compact_noop_cases(spark, tmp_path):
    empty = ParquetVersionedIO(spark, str(tmp_path / "none"))
    assert compact_versions(empty) is None
    one = _mk(spark, str(tmp_path / "one"), {3: [("a", 1)]})
    assert compact_versions(one) == 3
    assert one.versions() == [3]


def test_compact_resumes_from_committed_staging(spark, tmp_path):
    """Simulated crash between steps 2 and 3: inputs deleted, staging
    committed but not yet swapped — the next call must recover every
    row from staging."""
    root = str(tmp_path / "acc")
    io = _mk(spark, root, {0: [("a", 1)], 1: [("b", 2)]})
    # step 1 by hand: committed staging targeting slot 1
    union = io.read_version(0).unionByName(io.read_version(1))
    union.write.mode("overwrite").parquet(f"{root}/compact_tmp_1")
    # step 2 by hand: inputs gone
    jvm, _, fs = io._fs()
    fs.delete(jvm.org.apache.hadoop.fs.Path(f"{root}/v=0"), True)
    fs.delete(jvm.org.apache.hadoop.fs.Path(f"{root}/v=1"), True)
    assert io.versions() == []
    assert compact_versions(io) == 1
    got = {r["fp"]: r["val"] for r in io.read_version(1).collect()}
    assert got == {"a": 1, "b": 2}


def test_compact_discards_torn_staging(spark, tmp_path):
    root = str(tmp_path / "acc")
    io = _mk(spark, root, {0: [("a", 1)], 1: [("b", 2)]})
    # a torn step-1 write: staging dir without _SUCCESS
    io.read_version(0).write.mode("overwrite").parquet(
        f"{root}/compact_tmp_9"
    )
    jvm, _, fs = io._fs()
    fs.delete(jvm.org.apache.hadoop.fs.Path(f"{root}/compact_tmp_9/_SUCCESS"), True)
    assert compact_versions(io) == 1
    assert io.versions() == [1]
    got = {r["fp"]: r["val"] for r in io.read_version(1).collect()}
    assert got == {"a": 1, "b": 2}  # torn dir ignored, not resurrected


def test_shared_readers_torn_empty_and_compact(spark, tmp_path):
    """`read_all_versions` / `read_newest_version`, the readers every
    streaming output and live view goes through: a torn `v=N` (no
    `_SUCCESS`) is invisible to both, an empty or missing root raises
    ValueError from both, and compaction leaves the union unchanged."""
    import os

    root = str(tmp_path / "acc")
    io = _mk(spark, root, {
        0: [("a", 1)], 1: [("b", 2)], 2: [("c", 3)],
    })
    # torn newest version: parquet files present, _SUCCESS missing
    torn = spark.createDataFrame([("z", 9)], "fp string, val long")
    io.write_version(torn, 5)
    os.remove(os.path.join(root, "v=5", "_SUCCESS"))

    def union():
        rows = read_all_versions(spark, root).collect()
        return {(r["fp"], r["val"]) for r in rows}

    before = union()
    assert before == {("a", 1), ("b", 2), ("c", 3)}
    newest = read_newest_version(spark, root).collect()
    assert {r["fp"] for r in newest} == {"c"}

    assert compact_versions(io) == 2
    assert io.versions() == [2]
    assert union() == before

    os.makedirs(tmp_path / "empty")
    for missing in (str(tmp_path / "empty"), str(tmp_path / "absent")):
        for reader in (read_all_versions, read_newest_version):
            with pytest.raises(ValueError):
                reader(spark, missing)


def test_truncate_history(spark, tmp_path):
    io = _mk(spark, str(tmp_path / "state"), {
        0: [("a", 1)], 1: [("a", 2)], 2: [("a", 3)],
    })
    assert truncate_history(io, keep_last=1) == [0, 1]
    assert io.versions() == [2]
    assert io.read_latest().collect()[0]["val"] == 3
    assert truncate_history(io, keep_last=5) == []
    with pytest.raises(ValueError):
        truncate_history(io, keep_last=0)
