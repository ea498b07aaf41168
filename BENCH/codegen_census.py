"""Codegen census: classes Spark compiles per pass, and Janino's seconds.

Repeats a unit of work N times in one session and prints, per pass, how
many generated classes were compiled (cache misses of Spark's codegen
cache) and how long compiling took. The first pass fills the cache; a warm
pass that still compiles means the unit's working set does not fit
``spark.sql.codegen.cache.maxEntries`` (or that its generated source
differs per run). The sum over passes with a large cache is the number of
distinct classes the session generated.

    # curation stages (perfbench's corpus_curate inputs and stage table)
    python BENCH/codegen_census.py stages dedup_components dup_window_table dedup_spans lm_ppl_buckets
    python BENCH/codegen_census.py stages all --passes 3
    # one perfbench workload pass (web_extract or corpus_curate)
    python BENCH/codegen_census.py workload web_extract
    # bench.py leaves at a driver-table dir ("all" = bench.py's list)
    python BENCH/codegen_census.py leaves all --sf-dir "$SPARK_GRAFT_SF_DIR"
    # the same against another cache size, e.g. Spark's default of 100
    python BENCH/codegen_census.py stages all --cache-entries 100

Run from the repository root. Each target prints one JSON line on stdout
({"target", "cache_entries", "passes": [{"compiles", "compile_s",
"wall_s"}, ...]}); a progress line per pass goes to stderr.
"""

from __future__ import annotations

import argparse
import ast
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench_leaves() -> list[str]:
    """bench.py's timed registry leaves, read from its source (it is frozen
    and keeps the list inside main)."""
    with open(os.path.join(ROOT, "bench.py")) as f:
        tree = ast.parse(f.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and ast.unparse(node.targets[0]) == "bench_queries":
            return [e.value for e in node.value.elts]
    raise RuntimeError("bench_queries not found in bench.py")


def census(spark, label: str, unit, passes: int) -> dict:
    """Run ``unit()`` ``passes`` times; per pass, the codegen counter deltas."""
    from deepseek_ocr_spark.pipeline.session import codegen_stats

    rows = []
    for i in range(passes):
        n0, s0 = codegen_stats(spark)
        t0 = time.perf_counter()
        unit()
        wall = time.perf_counter() - t0
        n1, s1 = codegen_stats(spark)
        rows.append({"compiles": n1 - n0, "compile_s": round(s1 - s0, 3), "wall_s": round(wall, 3)})
        print(f"census: {label} pass {i}: {rows[-1]}", file=sys.stderr, flush=True)
    return {"target": label, "passes": rows}


def _prepared(spark, name: str, seed: int, work: str):
    """A perfbench workload with its seeded inputs written under ``work``."""
    from deepseek_ocr_spark.pipeline.session import default_cpus
    from perfbench.layers import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    wl, ctx = WORKLOADS[name](), Ctx(spark, default_cpus(), seed, Tracer(False))
    in_dir = os.path.join(work, "in")
    wl.generate(ctx)
    wl.materialize(ctx, in_dir)
    wl.prepare(ctx, in_dir)
    return wl, ctx, in_dir


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("kind", choices=["stages", "workload", "leaves"])
    ap.add_argument("names", nargs="+", help="stage/workload/leaf names, or 'all'")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--cache-entries", type=int, default=None,
                    help="override spark.sql.codegen.cache.maxEntries for this run")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from deepseek_ocr_spark.pipeline.session import build_session, default_cpus
    from perfbench.workloads import fresh_dir

    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.cache_entries is not None:
        conf["spark.sql.codegen.cache.maxEntries"] = str(args.cache_entries)
    cpus = default_cpus()
    spark = build_session("codegen_census", f"local[{cpus}]", cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    cache = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    work = tempfile.mkdtemp(prefix="codegen_census_")
    results = []
    try:
        if args.kind == "leaves":
            if not args.sf_dir:
                ap.error("leaves need --sf-dir (or SPARK_GRAFT_SF_DIR)")
            from deepseek_ocr_spark.entry_queries import queries as registry

            reg = registry()
            for name in bench_leaves() if args.names == ["all"] else args.names:
                # bench.py builds each leaf once and times repeated writes
                built = []
                build = census(spark, f"{name} (build)",
                               lambda: built.append(reg[name](spark, args.sf_dir)), 1)
                res = census(spark, name,
                             lambda: built[0].write.format("noop").mode("overwrite").save(),
                             args.passes)
                results.append({**res, "build": build["passes"][0]})
        elif args.kind == "workload":
            for name in args.names:
                wl, ctx, in_dir = _prepared(spark, name, args.seed, os.path.join(work, name))
                out = os.path.join(work, name, "out")
                results.append(census(
                    spark, name, lambda: wl.run(ctx, in_dir, fresh_dir(out)), args.passes
                ))
        else:
            wl, ctx, in_dir = _prepared(spark, "corpus_curate", args.seed, work)
            known = [n for _s, n, _b in wl.stages]
            names = known if args.names == ["all"] else args.names
            if set(names) - set(known):
                ap.error(f"unknown stages: {sorted(set(names) - set(known))}")
            out = os.path.join(work, "out")
            results.append(census(
                spark, "stages:" + ",".join(names),
                lambda: wl._run_stages(ctx, in_dir, fresh_dir(out), names), args.passes,
            ))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    for r in results:
        print(json.dumps({**r, "cache_entries": int(cache)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
