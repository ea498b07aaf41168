"""BENCH/profile.py, the one measurement harness, at sf0.001: the JSON it
prints, profiled rows against ``count()``, the default leaf list against
bench.py, and one corpus-stage pass.

The profiler runs once, as a script, for the whole module; its scale runs
in a child interpreter with its own JVM.
"""

import ast
import importlib.util
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"
LEAVES = ["extract_pipeline", "dedup_components", "lm_ppl_buckets"]

_spec = importlib.util.spec_from_file_location("bench_profile", os.path.join(ROOT, "BENCH", "profile.py"))
profile = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(profile)

CALL_KEYS = {"s", "jobs", "compiles", "janino_s"}
UNIT_KEYS = {"kind", "build_s", "build_jobs", "write_s_min", "write_s_median", "rows",
             "task_s", "builds", "writes", "nodes"}


@pytest.fixture(scope="module")
def profiled():
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_DIR, SPARK_DRIVER_MEM="1g")
    res = subprocess.run(
        [sys.executable, "BENCH/profile.py", "--runs", "2", *LEAVES, "stages:lm_ppl_buckets"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    return json.loads(res.stdout)


def test_schema(profiled):
    assert set(profiled) == {"cores", "runs", "seed", "scales"}
    assert profiled["runs"] == 2 and profiled["seed"] == 1
    x1 = profiled["scales"]["x1"]
    assert x1["sf_dir"] == SF_DIR and x1["peak_rss_mb"] > 0 and x1["cache_entries"] == 2048
    assert list(x1["units"]) == [*LEAVES, "stages:lm_ppl_buckets"]
    for name, rec in x1["units"].items():
        assert set(rec) == UNIT_KEYS, name
        assert len(rec["writes"]) == 2 and all(set(c) == CALL_KEYS for c in rec["builds"] + rec["writes"])
        assert rec["build_s"] == rec["builds"][0]["s"] and rec["build_jobs"] == rec["builds"][0]["jobs"]
        secs = sorted(w["s"] for w in rec["writes"])
        assert rec["write_s_min"] == secs[0] and secs[0] <= rec["write_s_median"] <= secs[-1]
        assert all(w["jobs"] >= 1 for w in rec["writes"]), name
        assert set(rec["task_s"]) == {"stage", "min", "median", "max"}, name
        assert 0 <= rec["task_s"]["min"] <= rec["task_s"]["median"] <= rec["task_s"]["max"], name
        assert rec["nodes"] and all(set(n) == {"name", "metrics"} for n in rec["nodes"]), name
    assert [len(r["builds"]) for r in x1["units"].values()] == [1, 1, 1, 2]
    # the components loop runs its rounds as jobs while the plan is built
    assert x1["units"]["dedup_components"]["build_jobs"] > 1


def test_rows_equal_count(profiled, spark, tmp_path):
    units = profiled["scales"]["x1"]["units"]
    for name in LEAVES:
        df = profile.leaf_builder(name)(spark, SF_DIR, str(tmp_path / name))
        assert units[name]["rows"] == df.count() > 0, name


def test_python_node_is_read_under_its_own_name(profiled):
    # the fused doc stage is a MapInArrow node; nothing in the profiler
    # names a node type, so it shows up as whatever the plan calls it
    nodes = profiled["scales"]["x1"]["units"]["extract_pipeline"]["nodes"]
    python = [n for n in nodes if n["name"] == "MapInArrow"]
    assert python and python[0]["metrics"]["time to run Python workers"] > 0
    assert python[0]["metrics"]["data sent to Python workers"] > 0


def test_stages_unit_runs_a_pass(profiled):
    rec = profiled["scales"]["x1"]["units"]["stages:lm_ppl_buckets"]
    assert rec["kind"] == "stage" and rec["rows"] > 0
    write = next(n for n in rec["nodes"] if n["name"].startswith("Execute InsertIntoHadoopFsRelationCommand"))
    assert rec["rows"] == write["metrics"]["number of output rows"]


def test_default_leaves_are_bench_py_leaves():
    with open(os.path.join(ROOT, "bench.py")) as f:
        tree = ast.parse(f.read())
    queries = next(
        [e.value for e in node.value.elts] for node in ast.walk(tree)
        if isinstance(node, ast.Assign) and ast.unparse(node.targets[0]) == "bench_queries"
    )
    leaves = profile.parse_units([])["leaves"]
    assert len(queries) == 58
    assert leaves == ["extract_pipeline", *queries, "layouts_pdf_10pct"]
    for name in leaves:
        assert callable(profile.leaf_builder(name)), name


def test_unit_grammar():
    assert profile.parse_units(["stages", "a", "b", "workload:web_extract"]) == {
        "leaves": [], "stages": ["a", "b"], "workload": ["web_extract"]}
    assert profile.parse_units(["q1", "stages:a,b"])["stages"] == ["a", "b"]


def test_x10_without_replica_names_its_builder(tmp_path, monkeypatch):
    monkeypatch.setitem(profile.SCALES, "x10", str(tmp_path / "missing"))
    with pytest.raises(SystemExit, match="make_sfx10.py"):
        profile.main(["--scale", "x10", "dedup_exact"])
