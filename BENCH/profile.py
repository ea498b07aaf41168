"""Per-unit profile: where each second of a bench.py leaf, a corpus stage or
a workload pass went, read from Spark's status stores. Stdout is one JSON.

    python BENCH/profile.py --scale x1,x10 --runs 3 > PROFILE.json  # bench.py's 60 leaves
    python BENCH/profile.py dedup_semantic lm_ppl_buckets             # any registry leaf
    python BENCH/profile.py --cache-entries 100 stages dedup_components dedup_spans workload:web_extract

Units: a registry leaf (``extract_pipeline`` and ``layouts_pdf_10pct`` are
built as bench.py builds them); ``stages:<names|all>``, perfbench's
corpus_curate stages in order, each built and written to parquet, a pass
per run; ``workload:<name>``, a perfbench workload pass per run. A bare
kind word applies to the names after it. Stage and workload inputs are
perfbench's, seed 1, ten times the documents at x10. Each scale has its
own JVM: x1 reads $SPARK_GRAFT_SF_DIR (default sf0.1), x10 /tmp/sfx10.

Per unit: ``builds`` (a leaf builds once, a stage once per run) and
``writes`` (a noop write, stage write or workload pass per run) with
seconds, Spark jobs (a job group per call), classes compiled and Janino
seconds (``writes[1:]`` are warm); ``rows``, the write's root-most plan
row count; every plan node of the last write with its metrics; ``task_s``,
that write's worst stage by perfbench's ``task_skew``, with its task-time
min/median/max. Per scale: peak RSS of the process tree.
"""

from __future__ import annotations

import argparse
import ast
import json
import multiprocessing
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# run as a script, this file would shadow the stdlib ``profile`` module that
# cProfile (and so pyspark) imports
if os.path.abspath(sys.path[0]) == HERE:
    sys.path[0] = ROOT

SCALES = {"x1": os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"), "x10": "/tmp/sfx10"}
SEED = 1


def bench_leaves() -> list[str]:
    """bench.py's timed leaves in its order: ``extract_pipeline``, the
    ``bench_queries`` list (read from its source; bench.py is frozen and
    keeps the list inside main), ``layouts_pdf_10pct``."""
    with open(os.path.join(ROOT, "bench.py")) as f:
        tree = ast.parse(f.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and ast.unparse(node.targets[0]) == "bench_queries":
            return ["extract_pipeline", *(e.value for e in node.value.elts), "layouts_pdf_10pct"]
    raise RuntimeError("bench_queries not found in bench.py")


def parse_units(tokens: list[str]) -> dict[str, list[str]]:
    """Unit tokens → names per kind; ``kind:a,b`` is ``kind a b``, and bare
    names are leaves until a kind word. No leaves, stages or workloads, or
    leaves 'all', means bench.py's leaves."""
    picked: dict[str, list[str]] = {k: [] for k in ("leaves", "stages", "workload")}
    kind = "leaves"
    for tok in tokens:
        head, _sep, tail = tok.partition(":")
        if head in picked:
            kind, tok = head, tail
        picked[kind] += [n for n in tok.split(",") if n]
    if not any(picked.values()) or picked["leaves"] == ["all"]:
        picked["leaves"] = bench_leaves()
    return picked


# --- measurement ------------------------------------------------------------------


def measured(spark, fn):
    """``fn()`` under its own job group → (its result, {s, jobs, compiles,
    janino_s}, the SQL executions it ran as (after_id, upto), its stages)."""
    from deepseek_ocr_spark.pipeline.session import codegen_stats
    from perfbench.layers import last_execution_id

    sc, group = spark.sparkContext, f"profile-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    e0, (c0, j0), t0 = last_execution_id(spark), codegen_stats(spark), time.perf_counter()
    try:
        out = fn()
    finally:
        dt = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
    c1, j1 = codegen_stats(spark)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for info in map(tracker.getJobInfo, jobs) if info for s in info.stageIds}
    call = {"s": round(dt, 3), "jobs": len(jobs), "compiles": c1 - c0, "janino_s": round(j1 - j0, 3)}
    return out, call, (e0, last_execution_id(spark)), stages


def worst_stage(spark, stage_ids) -> dict | None:
    """The stage with the highest max/median task time (``task_skew``) among
    those that ran tasks, with its task-time min, median and max."""
    from perfbench.layers import task_skew

    store, gw = spark.sparkContext._jsc.sc().statusStore(), spark.sparkContext._gateway
    quantiles = gw.new_array(gw.jvm.double, 3)
    quantiles[1], quantiles[2] = 0.5, 1.0
    ran = {}
    for sid in sorted(stage_ids):
        summary = store.taskSummary(sid, 0, quantiles)
        if summary.isDefined():
            ran[sid] = [round(summary.get().duration().apply(i) / 1000.0, 3) for i in range(3)]
    if not ran:
        return None
    sid = max(ran, key=lambda s: (task_skew(spark, [s]), ran[s][2]))
    return dict(zip(("stage", "min", "median", "max"), [sid, *ran[sid]]))


def record(spark, label: str, kind: str, builds: list, writes: list) -> dict:
    """One unit's record from its measured ``(call, executions, stages)``."""
    from perfbench.layers import plan_metrics

    _call, (after, upto), stages = writes[-1]
    nodes = [{"name": n["name"], "metrics": n["metrics"]}
             for e in plan_metrics(spark, after, upto) for n in e["nodes"]]
    # the write's root-most row count (a root TakeOrderedAndProject or Union keeps none)
    rows = next((int(n["metrics"]["number of output rows"]) for n in nodes
                 if "number of output rows" in n["metrics"]), None)
    secs = [w[0]["s"] for w in writes]
    rec = {
        "kind": kind,
        "build_s": builds[0][0]["s"] if builds else None,
        "build_jobs": builds[0][0]["jobs"] if builds else None,
        "write_s_min": min(secs),
        "write_s_median": round(statistics.median(secs), 3),
        "rows": rows if kind != "workload" else None,
        "task_s": worst_stage(spark, stages),
        "builds": [b[0] for b in builds],
        "writes": [w[0] for w in writes],
        "nodes": nodes,
    }
    print(f"profile: {label} build {rec['build_s']} s ({rec['build_jobs']} jobs), write min "
          f"{rec['write_s_min']} s, compiles {[w['compiles'] for w in rec['writes']]}",
          file=sys.stderr, flush=True)
    return rec


# --- units --------------------------------------------------------------------------


def leaf_builder(name: str):
    """bench.py's build for a leaf: ``(spark, sf_dir, work) → DataFrame``.
    The two pipeline leaves materialize their inputs first, as bench.py
    does; here that is part of their build."""
    from pyspark.sql import functions as F

    from deepseek_ocr_spark.entry_queries import docs_from_driver_table, queries
    from deepseek_ocr_spark.pipeline.extract_job import extract_documents
    from deepseek_ocr_spark.pipeline.pdfsink import annotated_pdf_docs, synthetic_page_pixmaps

    def docs(spark, sf_dir, work):
        docs_from_driver_table(spark, sf_dir).write.parquet(os.path.join(work, "docs"))
        return spark.read.parquet(os.path.join(work, "docs"))

    def layouts(spark, sf_dir, work):
        sub = extract_documents(docs(spark, sf_dir, work).filter(F.col("url").endswith("0")))
        synthetic_page_pixmaps(sub).write.parquet(os.path.join(work, "pages"))
        return annotated_pdf_docs(spark.read.parquet(os.path.join(work, "pages")), sub)

    if name == "extract_pipeline":
        return lambda spark, sf_dir, work: extract_documents(docs(spark, sf_dir, work))
    if name == "layouts_pdf_10pct":
        return layouts
    query = queries()[name]
    return lambda spark, sf_dir, work: query(spark, sf_dir)


def profile_leaves(spark, names, sf_dir, runs, work) -> dict:
    out = {}
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()  # bench.py's scan warm-up
    for name in names:
        build = leaf_builder(name)
        df, *b = measured(spark, lambda: build(spark, sf_dir, os.path.join(work, name)))
        writes = [measured(spark, lambda: df.write.format("noop").mode("overwrite").save())[1:]
                  for _ in range(runs)]
        out[name] = record(spark, name, "leaf", [b], writes)
    return out


def _prepared(spark, name: str, scale: float, work: str):
    """A perfbench workload with its seeded inputs written under ``work``."""
    from deepseek_ocr_spark.pipeline.session import default_cpus
    from perfbench.layers import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    wl, ctx = WORKLOADS[name](), Ctx(spark, default_cpus(), SEED, Tracer(False), scale)
    in_dir = os.path.join(work, "in")
    wl.generate(ctx)
    wl.materialize(ctx, in_dir)
    wl.prepare(ctx, in_dir)
    return wl, ctx, in_dir


def profile_stages(spark, names, scale, runs, work) -> dict:
    wl, _ctx, in_dir = _prepared(spark, "corpus_curate", scale, work)
    known = [n for _s, n, _b in wl.stages]
    names = known if names == ["all"] else names
    if set(names) - set(known):
        raise SystemExit(f"profile: unknown stages {sorted(set(names) - set(known))}")
    docs = spark.read.parquet(os.path.join(in_dir, "documents.parquet")).persist()
    emb = spark.read.parquet(os.path.join(in_dir, "embeddings.parquet"))
    calls = {n: ([], []) for n in names}
    try:
        docs.count()
        for _ in range(runs):
            for sub, name, build in (s for s in wl.stages if s[1] in calls):
                df, *b = measured(spark, lambda: build(docs, emb, spark, work))
                calls[name][0].append(b)
                calls[name][1].append(measured(
                    spark, lambda: df.write.mode("overwrite").parquet(os.path.join(work, sub)))[1:])
    finally:
        docs.unpersist()
    return {f"stages:{n}": record(spark, f"stages:{n}", "stage", *c) for n, c in calls.items()}


def profile_workload(spark, name, scale, runs, work) -> dict:
    from perfbench.workloads import fresh_dir

    wl, ctx, in_dir = _prepared(spark, name, scale, work)
    out = os.path.join(work, "out")
    passes = [measured(spark, lambda: wl.run(ctx, in_dir, fresh_dir(out)))[1:] for _ in range(runs)]
    return {f"workload:{name}": record(spark, f"workload:{name}", "workload", [], passes)}


def profile_scale(scale: str, units: dict, runs: int, cache_entries: int | None) -> dict:
    """Every unit at one scale, in this process's own session."""
    from deepseek_ocr_spark.pipeline.session import build_session, default_cpus
    from perfbench.layers import peak_rss_mb

    conf = {"spark.ui.showConsoleProgress": "false"}
    if cache_entries is not None:
        conf["spark.sql.codegen.cache.maxEntries"] = str(cache_entries)
    cpus = default_cpus()
    spark = build_session("profile", f"local[{cpus}]", cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    factor, work = float(scale[1:]), tempfile.mkdtemp(prefix="profile_")
    res = {"sf_dir": SCALES[scale], "units": {}}
    try:
        if units["leaves"]:
            res["units"].update(profile_leaves(
                spark, units["leaves"], SCALES[scale], runs, os.path.join(work, "leaves")))
        if units["stages"]:
            res["units"].update(profile_stages(
                spark, units["stages"], factor, runs, os.path.join(work, "stages")))
        for name in units["workload"]:
            res["units"].update(profile_workload(spark, name, factor, runs, os.path.join(work, name)))
        res["peak_rss_mb"] = round(peak_rss_mb(), 1)
        res["cache_entries"] = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return res


def _scale_child(conn, *args) -> None:
    conn.send(profile_scale(*args))


def run_scale(*args) -> dict:
    """``profile_scale`` in a fresh interpreter, so each scale has its own JVM."""
    mp = multiprocessing.get_context("spawn")
    recv, send = mp.Pipe(duplex=False)
    child = mp.Process(target=_scale_child, args=(send, *args))
    child.start()
    send.close()
    try:
        return recv.recv()
    except EOFError:
        raise SystemExit(f"profile: scale {args[0]} failed") from None
    finally:
        child.join()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("units", nargs="*", help="leaves, stages:<names|all>, workload:<name>")
    ap.add_argument("--scale", default="x1", help="comma list of x1, x10")
    ap.add_argument("--runs", type=int, default=3, help="writes per leaf, passes per stage/workload")
    ap.add_argument("--cache-entries", type=int,
                    help="spark.sql.codegen.cache.maxEntries (Spark's default 100)")
    args = ap.parse_args(argv)

    units, scales = parse_units(args.units), args.scale.split(",")
    if set(scales) - set(SCALES):
        ap.error(f"unknown scales {sorted(set(scales) - set(SCALES))}")
    if "x10" in scales and not os.path.isdir(SCALES["x10"]):
        raise SystemExit(f"profile: {SCALES['x10']} is missing; "
                         "build it with PYTHONPATH=. python BENCH/make_sfx10.py")
    from deepseek_ocr_spark.entry_queries import queries
    from deepseek_ocr_spark.pipeline.session import default_cpus

    unknown = set(units["leaves"]) - set(queries()) - {"extract_pipeline", "layouts_pdf_10pct"}
    if unknown:
        ap.error(f"unknown leaves {sorted(unknown)}")
    # the Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    out = {"cores": default_cpus(), "runs": args.runs, "seed": SEED, "scales": {}}
    for scale in scales:
        out["scales"][scale] = run_scale(scale, units, args.runs, args.cache_entries)
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
