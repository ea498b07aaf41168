"""Extra benchmarks for the optimization round (guide §1.4) — NOT the
driver contract; bench.py stays frozen.

Isolates individual registry queries with the noop sink, min-of-N, and can
dump .explain("formatted") per query. Data dir defaults to sf0.1 but any
dir with the driver table layout works (e.g. a replicated 10x embeddings
dir for scale probes).

Usage:
    python bench_extra.py [--sf-dir DIR] [--runs N] [--explain-dir DIR] q1 q2 ...
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=int(os.environ.get("BENCH_RUNS", "4")))
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="", help="filename suffix for explain dumps, e.g. _before")
    args = ap.parse_args()

    from deepseek_ocr_spark.entry_queries import queries as registry
    from deepseek_ocr_spark.pipeline.session import build_session

    # default: the cores this process may run on, not a fixed count
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    spark = build_session(app_name="bench_extra", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    reg = registry()
    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for name in args.queries:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        df = reg[name](spark, args.sf_dir)
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            with open(os.path.join(args.explain_dir, f"{name}{args.suffix}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        runs = []
        for _ in range(args.runs):
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
        timings[name] = min(runs)
        samples[name] = runs
        spark.sparkContext.setJobDescription(None)

    print(json.dumps({"sf_dir": args.sf_dir, "runs": args.runs,
                      "queries": timings, "samples": samples}))
    spark.stop()


if __name__ == "__main__":
    main()
