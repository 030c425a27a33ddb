"""The gate registry (`__spark_entry__.gates()`) and the views derived
from it: the driver's `queries()`, bench.py's suite, check_gate.py."""

import importlib.util
import os
import shutil
import sys

import __spark_entry__ as E
import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PRODUCTION_VARIANTS = {"minhash_lsh_xx", "simhash64", "tile_cut_mvt"}


def test_names_are_unique_and_tags_known():
    names = [g.name for g in E.gates()]
    assert len(names) == len(set(names)) == 170
    assert all(g.tags <= E.TAGS for g in E.gates())


def test_every_query_has_an_oracle():
    q = E.queries()
    assert set(q) == set(E.oracle_sql())
    assert len(q) == 167


def test_sec2_gates_come_first():
    tags = {g.name: g.tags for g in E.gates()}
    in_sec2 = ["sec2" in tags[n] for n in E.queries()]
    assert in_sec2 == sorted(in_sec2, reverse=True)
    assert sum(in_sec2) == 50


def test_bench_only_records_stay_out_of_queries():
    bench_only = {g.name for g in E.gates() if "bench_only" in g.tags}
    assert bench_only == PRODUCTION_VARIANTS
    assert not bench_only & set(E.queries())


def test_bench_suite():
    names = bench.suite(E.gates())
    assert len(names) == len(set(names)) == 129
    assert PRODUCTION_VARIANTS <= set(names)
    noisy = {g.name for g in E.gates() if "noisy" in g.tags}
    assert noisy == {"line_intersects", "poly_intersects", "text_profile"}
    assert noisy <= set(names)


def test_check_gate_imports_its_own_checkout(tmp_path, monkeypatch):
    """A copy of the repo checks its own registry, not another
    checkout's."""
    (tmp_path / "scripts").mkdir()
    script = tmp_path / "scripts" / "check_gate.py"
    shutil.copy(os.path.join(REPO, "scripts", "check_gate.py"), script)
    (tmp_path / "__spark_entry__.py").write_text("STUB = True\n")
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.delitem(sys.modules, "__spark_entry__")
    spec = importlib.util.spec_from_file_location("check_gate_copy", script)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.E.__file__ == str(tmp_path / "__spark_entry__.py")
    assert mod.E.STUB
