"""Repository benchmark: one workload per process, local[nproc].

    python3 perfbench/run.py --workload web_extract --seed 1 --seconds 8 --trace 0

Run from the repository root. The run times set-up (session start, input
materialization repeated SETUP_REPS times, one cold pass), runs
SETTLE_PASSES untimed passes while the JIT settles, then repeats the
workload's operation until ``--seconds`` and at least MIN_TIMED_PASSES
passes have been measured and reports their medians,
checking every pass's committed output against an independent reference.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``, or
with ``--trace 1`` the per-layer metrics of one traced pass plus the
tracing overhead against the untraced passes. Spans go to
``.perfbench_work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
SETUP_REPS = 3
SETTLE_PASSES = 4
MIN_TIMED_PASSES = 3
WORKLOAD_NAMES = ["web_extract", "corpus_curate"]

END_TO_END = {
    "wall_s": "s",
    "pages_per_s": "1/s",
    "docs_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "output_match_rate": "ratio",
}

_CORPUS_STAGES = [
    "corpus_clean", "dedup_components", "dedup_survivors", "hll_distinct",
    "repetition_signals", "band_table", "tfidf_top_terms", "inverted_index",
    "pii_scrub", "contamination_flags", "seq_pack", "dup_window_table",
    "dedup_spans", "dedup_spans_cut", "lm_bigram_score", "bpe_top_pairs",
    "lm_ppl_buckets", "mixture_weights", "bpe_merges", "dsir_fit",
    "dsir_scores", "clf_fit", "clf_scores", "dedup_semantic",
]
_EAGER = ["dedup_semantic", "dedup_components", "dsir_fit", "clf_fit", "bpe_merges"]
_SHUFFLE = ["dedup_semantic", "dedup_survivors", "bpe_merges", "lm_ppl_buckets", "clf_fit"]

# A workload reports 0 for a layer it bypasses.
PER_LAYER = {
    "sources.scan_s": "s",
    "sources.pdf.load_s": "s",
    "sources.pdf.pages": "count",
    "sources.pdf.ocr_pages": "count",
    "kernels.extract.pages_per_s_1proc": "1/s",
    "kernels.pdftext.pages_per_s_1proc": "1/s",
    "kernels.pdfraster.ocr_page_s": "s",
    "oracle.pages_per_s_1proc": "1/s",
    "pipeline.efficiency": "ratio",
    "pipeline.split_extract_s": "s",
    "pipeline.assemble_finalize_self_s": "s",
    "pipeline.commit_self_s": "s",
    **{
        f"pipeline.{node}.{m}": u
        for node in ("split_extract", "finalize")
        for m, u in (("python_s", "s"), ("python_init_s", "s"),
                     ("python_sent_bytes", "B"), ("python_recv_bytes", "B"))
    },
    "pipeline.url_exchange.shuffle_write_bytes": "B",
    "pipeline.assemble.spill_bytes": "B",
    "pipeline.finalize.task_s_max_over_median": "ratio",
    **{f"operators.{s}_s": "s" for s in _CORPUS_STAGES},
    **{f"operators.{s}.plan_build_s": "s" for s in _EAGER},
    **{f"operators.{s}.shuffle_write_bytes": "B" for s in _SHUFFLE},
    "operators.lm_ppl_buckets.task_s_max_over_median": "ratio",
    "streaming.microbatch_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.trigger_overhead_s": "s",
    "streaming.batch_growth": "ratio",
    "streaming.output_match_rate": "ratio",
    "sources.pdf.output_match_rate": "ratio",
    "trace.overhead_pct": "%",
}


def _session(work: str, cores: int):
    from deepseek_ocr_spark.pipeline.session import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # Python workers inherit it
    spark = build_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            # a fixed-size heap: peak RSS then does not depend on when the
            # JVM chose to grow it
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark, end the JVM, and wait for every child process to exit."""
    from pyspark import SparkContext

    from perfbench.layers import descendants

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on stdin EOF
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        os.kill(pid, 9)


def measure(wl, ctx, work: str, seconds: float, trace: bool, session_s: float) -> dict:
    """Set up, warm up, run timed passes, check each; return the result."""
    from perfbench.layers import peak_rss_mb
    from perfbench.workloads import fresh_dir

    wl.generate(ctx)
    in_dir = None
    materialize_s = []
    for rep in range(SETUP_REPS):
        if in_dir:
            shutil.rmtree(in_dir)
        in_dir = fresh_dir(os.path.join(work, f"in-{rep}"))
        t0 = time.perf_counter()
        wl.materialize(ctx, in_dir)
        materialize_s.append(time.perf_counter() - t0)
    wl.prepare(ctx, in_dir)  # untimed: the reference outputs

    matched = checked = failed = 0
    n_out = 0

    def one_pass(traced: bool = False):
        nonlocal matched, checked, failed, n_out
        out = fresh_dir(os.path.join(work, f"out-{n_out}"))
        n_out += 1
        try:
            p, layers = wl.traced(ctx, in_dir, out) if traced else (wl.run(ctx, in_dir, out), None)
            ok, total = wl.check(ctx, out)
        finally:
            shutil.rmtree(out, ignore_errors=True)
            shutil.rmtree(out + "-ckpt", ignore_errors=True)
        matched += ok
        checked += total
        failed += ok != total
        return p, layers

    warm, _ = one_pass()
    setup_s = session_s + statistics.median(materialize_s) + warm.seconds

    # settle: the JVM's JIT keeps speeding passes up for several passes
    # after the first; a fixed count (not a time) leaves every run equally
    # warm however fast its machine window is
    settle = [one_pass()[0] for _ in range(SETTLE_PASSES)]
    passes = []
    while len(passes) < MIN_TIMED_PASSES or sum(p.seconds for p in passes) < seconds:
        passes.append(one_pass()[0])
    wall = statistics.median(p.seconds for p in passes)
    print(
        f"perfbench: session {session_s:.2f} s, cold pass {warm.seconds:.2f} s, settle "
        f"{[round(p.seconds, 2) for p in settle]}, timed {[round(p.seconds, 2) for p in passes]}",
        file=sys.stderr,
    )
    attempted = 1 + len(settle) + len(passes)

    if trace:
        ctx.tracer.enabled = True
        traced, layers = one_pass(traced=True)
        attempted += 1
        layers["trace.overhead_pct"] = 100.0 * (traced.seconds - wall) / wall
        if "oracle.pages_per_s_1proc" in layers:
            layers["pipeline.efficiency"] = (passes[0].pages / wall) / (
                ctx.cores * layers["oracle.pages_per_s_1proc"]
            )
        failed += sum(1 for k, v in layers.items() if k.endswith("output_match_rate") and v != 1.0)
        os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
        ctx.tracer.dump(os.path.join(ROOT, ".perfbench_work", f"trace-{wl.name}-{ctx.seed}.json"))
        values = {k: float(layers.get(k, 0.0)) for k in PER_LAYER}
        units = PER_LAYER
    else:
        values = {
            "wall_s": wall,
            "pages_per_s": passes[0].pages / wall,
            "docs_per_s": passes[0].docs / wall,
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss_mb(),
            "output_match_rate": matched / checked if checked else 0.0,
        }
        units = END_TO_END
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    return {
        "correct": failed == 0 and checked > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "deepseek_ocr_spark")):
        print("perfbench: run from the repository root (deepseek_ocr_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    from perfbench.layers import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    spark = _session(work, cores)
    session_s = time.perf_counter() - PROCESS_START
    print(f"perfbench: workload={args.workload} seed={args.seed} master=local[{cores}] "
          f"shuffle_partitions={cores}", flush=True)
    try:
        ctx = Ctx(spark, cores, args.seed, Tracer(False))
        result = measure(
            WORKLOADS[args.workload](), ctx, work, args.seconds, bool(args.trace), session_s
        )
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
