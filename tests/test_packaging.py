"""spark-submit --py-files packaging (north_rule requirement)."""

import os
import shutil
import subprocess
import sys
import textwrap
import zipfile

import pytest

from geomesa_spark.session import package_zip

SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_py_files(tmp_path):
    zip_path = package_zip(str(tmp_path))
    driver = tmp_path / "driver.py"
    driver.write_text(
        textwrap.dedent(
            """
            from pyspark.sql import SparkSession

            spark = SparkSession.builder.getOrCreate()
            # the engine must be importable from the --py-files zip
            from geomesa_spark.operators.spatial_join import pip_join_broadcast
            from geomesa_spark.sources.docs import extract_geometry, synth_docs

            docs = synth_docs(spark, 2000)
            pts = extract_geometry(docs)
            out = pip_join_broadcast(
                pts, [("p1", "POLYGON ((-30 -30, 30 -30, 30 30, -30 30, -30 -30))")]
            )
            print("RESULT_ROWS=%d" % out.count())
            spark.stop()
            """
        )
    )
    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", zip_path,
            str(driver),
        ],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT_ROWS=")]
    assert line and int(line[0].split("=")[1]) > 0


def _zip_from_copy(root, dest):
    """package_zip run by a fresh interpreter importing the package
    copy under `root`."""
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(root)!r})
        import geomesa_spark.session as s
        assert s.__file__.startswith({str(root)!r}), s.__file__
        print(s.package_zip({str(dest)!r}))
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=120, cwd=str(root),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return proc.stdout.strip().splitlines()[-1]


def _zip_members(path):
    with zipfile.ZipFile(path) as z:
        return {n: z.read(n) for n in z.namelist()}


def test_package_zip_is_keyed_by_source_contents(tmp_path):
    """Checkouts sharing one dest dir never ship each other's code:
    copies that differ in one file get different archives, each
    holding its own bytes; identical copies share one archive."""
    src = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    roots = {}
    for name in ("a", "b", "c"):
        roots[name] = tmp_path / name
        shutil.copytree(
            os.path.join(src, "geomesa_spark"),
            roots[name] / "geomesa_spark",
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    changed = roots["b"] / "geomesa_spark" / "session.py"
    changed.write_text(changed.read_text() + "# copy b\n")
    dest = tmp_path / "zips"
    dest.mkdir()
    za = _zip_from_copy(roots["a"], dest)
    zb = _zip_from_copy(roots["b"], dest)
    zc = _zip_from_copy(roots["c"], dest)
    assert za != zb
    assert za == zc
    assert sorted(os.listdir(dest)) == sorted({
        os.path.basename(za), os.path.basename(zb),
    })
    for name, path in (("a", za), ("b", zb)):
        members = _zip_members(path)
        on_disk = {
            str(p.relative_to(roots[name])): p.read_bytes()
            for p in (roots[name] / "geomesa_spark").rglob("*.py")
        }
        assert members == on_disk
    assert _zip_members(zb)["geomesa_spark/session.py"].endswith(
        b"# copy b\n"
    )
