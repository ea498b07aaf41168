"""Tiny-scale smoke test of the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py -q     (from the repository root)

Checks that BENCHMARK.json and the code name the same metrics, that the
corpus stage table matches run_corpus_pipeline's outputs, that a run
prints every metric with its unit, and that a corrupted output drives
output_match_rate below 1.
"""

from __future__ import annotations

import glob
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import run
from perfbench.layers import Tracer
from perfbench.workloads import WORKLOADS, Ctx, WebExtract, _stage_table, main_outputs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = 0.02


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_names_what_the_code_reports():
    spec = _bench_json()
    assert [w["name"] for w in spec["workloads"]] == run.WORKLOAD_NAMES == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_corpus_stage_table_matches_the_job():
    assert {sub for sub, _n, _b in _stage_table()} == main_outputs()
    names = [n for _s, n, _b in _stage_table()]
    assert all(f"operators.{n}_s" in run.PER_LAYER for n in names)


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    work = str(tmp_path_factory.mktemp("perfbench"))
    spark = run._session(work, 2)
    yield Ctx(spark, 2, 7, Tracer(False), scale=TINY), work
    spark.stop()


def _assert_metrics(result: dict, expected: dict) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


def test_tiny_run_prints_every_end_to_end_metric(ctx):
    c, work = ctx
    res = run.measure(WebExtract(), c, os.path.join(work, "e2e"), 0.1, False, 1.0)
    _assert_metrics(res, run.END_TO_END)
    assert res["correct"] and res["failed"] == 0
    assert res["metrics"]["output_match_rate"]["value"] == 1.0


def test_tiny_traced_run_prints_every_layer_metric(ctx):
    c, work = ctx
    c.tracer = Tracer(False)
    res = run.measure(WebExtract(), c, os.path.join(work, "trace"), 0.1, True, 1.0)
    _assert_metrics(res, run.PER_LAYER)
    assert res["correct"]
    assert res["metrics"]["streaming.output_match_rate"]["value"] == 1.0
    assert res["metrics"]["pipeline.split_extract_s"]["value"] > 0


class _Corrupting(WebExtract):
    """Runs the real job, then changes one committed text."""

    def run(self, ctx, in_dir, out_dir):
        p = super().run(ctx, in_dir, out_dir)
        for f in sorted(glob.glob(os.path.join(out_dir, "extracted", "*.parquet"))):
            t = pq.read_table(f)
            if t.num_rows:
                texts = t.column("text").to_pylist()
                texts[0] += " corrupted"
                ix = t.schema.get_field_index("text")
                pq.write_table(t.set_column(ix, "text", pa.array(texts)), f)
                break
        return p


def test_corrupted_output_lowers_match_rate(ctx):
    c, work = ctx
    c.tracer = Tracer(False)
    res = run.measure(_Corrupting(), c, os.path.join(work, "bad"), 0.1, False, 1.0)
    assert 0.0 < res["metrics"]["output_match_rate"]["value"] < 1.0
    assert res["failed"] == res["attempted"] and not res["correct"]
