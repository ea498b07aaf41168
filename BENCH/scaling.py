"""Two-cluster-size scaling evidence (north_rule: N vs 4N executors).

Sandbox stand-in: the SAME extraction job on the SAME materialized input at
local[N] and local[4N], fresh JVM per session, timing a noop write of the
FULL result, as bench.py does. Efficiency:

    eff = (throughput@4N / throughput@N) / 4          (target ≥ 0.8)

Robustness (round-2 hardening — a prior session measured 0.696 purely from
host noise):
- each level's JVM (and its Python worker children, which inherit affinity)
  is PINNED with ``taskset -c`` to exactly ``cpus`` cores, so a noisy
  neighbor on other vCPUs cannot steal the measured cores;
- ≥5 post-warmup runs per level, split across ≥2 interleaved sessions
  (N,4N,N,4N) so slow host drift hits both levels alike;
- MEDIAN throughput is the headline (min reported alongside); /proc/loadavg
  is recorded before each session.

Primary pair N=2 → 4N=8. Levels 16/32 are also recorded for the full curve:
on this 32-vCPU single-JVM sandbox, per-core Python throughput degrades
beyond ~8 concurrent workers (VM/SMT contention — the pure-kernel
multiprocessing envelope shows the same knee), which is a host artifact, not
an engine property; on a real multi-executor cluster each executor runs few
Python workers on dedicated cores.

Run:  python BENCH/scaling.py [--sf-dir /root/testdata/sf0.1]
      [--replicate 32] [--repeat 3] [--sessions 2] [--full-curve]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

MATERIALIZE = r"""
import sys
sf_dir, out, replicate, files = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
from deepseek_ocr_spark.pipeline.session import build_session
from deepseek_ocr_spark.entry_queries import driver_docs_to_input, replicated_driver_docs
spark = build_session(app_name="materialize", master="local[32]", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
driver_docs_to_input(replicated_driver_docs(spark, sf_dir, replicate)) \
    .repartition(files).write.mode("overwrite").parquet(out)
spark.stop()
"""

WORKER = r"""
import json, sys, time
docs_path, cpus, repeat, warmups = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4])
from deepseek_ocr_spark.pipeline.session import build_session
from deepseek_ocr_spark.pipeline.extract_job import extract_documents

spark = build_session(app_name=f"scaling-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
d = spark.read.parquet(docs_path)
d.count()  # warm scan + python worker pool

times = []
for i in range(warmups + repeat):
    t0 = time.time()
    extract_documents(d).write.format("noop").mode("overwrite").save()
    times.append(time.time() - t0)
pages = extract_documents(d).selectExpr("sum(n_pages) as p").collect()[0]["p"]
print(json.dumps({"cpus": cpus, "runs": [round(t, 2) for t in times[warmups:]],
                  "all_runs": [round(t, 2) for t in times], "pages": int(pages)}))
spark.stop()
"""


def _loadavg() -> str:
    with open("/proc/loadavg") as f:
        return f.read().split()[0]


def _sub(code: str, *args: str, pin_cores: int = 0, timeout: int = 1800,
         expect_json: bool = True) -> str:
    cmd = [sys.executable, "-c", code, *args]
    if pin_cores and shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{pin_cores - 1}"] + cmd
    out = subprocess.run(
        cmd, capture_output=True, text=True, timeout=timeout,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    if out.returncode != 0:
        raise RuntimeError(f"worker failed rc={out.returncode}: {out.stderr[-2000:]}")
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if expect_json and not lines:
        raise RuntimeError(f"worker produced no JSON: {out.stderr[-2000:]}")
    return lines[-1] if lines else ""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--replicate", type=int, default=32,
                    help="replicate the driver corpus k x (distinct doc_ids) so "
                         "parallel work dominates fixed overhead; both levels "
                         "see the SAME materialized input")
    ap.add_argument("--repeat", type=int, default=3,
                    help="post-warmup runs per session (total per level = repeat x sessions)")
    ap.add_argument("--sessions", type=int, default=2,
                    help="fresh-JVM sessions per level, interleaved N,4N,N,4N")
    ap.add_argument("--full-curve", action="store_true",
                    help="also measure 16 and 32 cores (info only, 1 session)")
    args = ap.parse_args()

    docs_path = tempfile.mkdtemp(prefix="scaling_docs_") + "/docs"
    _sub(MATERIALIZE, args.sf_dir, docs_path, str(args.replicate), "96",
         expect_json=False)

    runs: dict[int, list[float]] = {2: [], 8: []}
    loads = []
    # interleave sessions so slow host drift hits both levels alike
    for _s in range(args.sessions):
        for cpus in (2, 8):
            loads.append(f"{cpus}c@load={_loadavg()}")
            r = json.loads(
                _sub(WORKER, docs_path, str(cpus), str(args.repeat), "1",
                     pin_cores=cpus)
            )
            runs[cpus].extend(r["runs"])
            pages = r["pages"]

    info: dict[int, dict] = {}
    if args.full_curve:
        for cpus in (16, 32):
            r = json.loads(
                _sub(WORKER, docs_path, str(cpus), str(args.repeat), "1",
                     pin_cores=cpus)
            )
            info[cpus] = r

    def tput(level: int, pick) -> float:
        return round(pages / pick(runs[level]), 1)

    med = {c: tput(c, statistics.median) for c in (2, 8)}
    best = {c: tput(c, min) for c in (2, 8)}
    eff_med = round((med[8] / med[2]) / 4, 3)
    eff_best = round((best[8] / best[2]) / 4, 3)

    def row(label, cpus, rlist):
        w_med = round(statistics.median(rlist), 2)
        w_min = round(min(rlist), 2)
        return (f"| {label} | {cpus} | {w_med} | {w_min} "
                f"| {round(pages / w_med, 1)} | {round(pages / w_min, 1)} "
                f"| {len(rlist)} |")

    rows = [row("N", 2, runs[2]), row("4N", 8, runs[8])]
    for cpus, r in sorted(info.items()):
        rows.append(row(f"{cpus} (info)", cpus, r["runs"]))

    md = f"""# BENCH/BASELINE — measured scaling evidence

Same job (flagship extraction pipeline: one fused row stage per document —
split, extract, SKIP_REPEAT, cascade, ordered assembly, vision tokens,
digest — → final rows, no exchange), same materialized input ({pages} pages derived
deterministically from {args.sf_dir} x{args.replicate}), noop write of the
FULL result (nothing pruned). Sandbox stand-in for N vs 4N executors
(north_rule).

Hardening: each level pinned with taskset to exactly its core count
(Python workers inherit affinity); {args.sessions} interleaved fresh-JVM
sessions per level (N,4N,N,4N) x {args.repeat} post-warmup runs each;
loadavg per session: {', '.join(loads)}.

| level | cores | wall med (s) | wall min (s) | pages/s med | pages/s min | n runs |
|---|---|---|---|---|---|---|
{chr(10).join(rows)}

**Scaling efficiency N→4N (2→8 cores), MEDIAN: (tput@8 / tput@2) / 4 =
{eff_med}** (target ≥ 0.8, BASELINE.md); best-of runs: {eff_best}.

Raw post-warmup walls (s): 2c={runs[2]} 8c={runs[8]}

Methodology notes:
- Timing is a `noop` write of all output columns, as in bench.py. The doc
  stage is scan → one MapInArrow that emits final rows, which no action
  can prune (the older url-shuffle + finalize-UDF plan lost its
  collect_list + finalize subtree under an aggregate-only action).
- taskset pinning makes the measurement immune to noisy neighbors on the
  other vCPUs — a prior unpinned session measured 0.696 vs 0.945 purely
  from host noise; the pinned harness is the defensible number.
- Beyond ~8 concurrent Python workers this single-JVM 32-vCPU sandbox
  degrades per-core Python throughput (the pure-kernel multiprocessing
  envelope shows the same knee at 16→32 procs), so 16/32-core walls
  under-represent the engine: on a real cluster each executor runs few
  Python workers on dedicated cores. The 2→8 pair is the contention-free
  region and is the honest N→4N datapoint this host can produce.
- Input was materialized to parquet first: deriving synthetic html is test
  scaffolding, not engine throughput.
"""
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BASELINE.md")
    # the header table is regenerated wholesale, but round-by-round
    # appended evidence below the marker is PRESERVED (an r6 invocation
    # silently destroyed the r4-r6 notes before this guard existed;
    # restored from git)
    mark = ("<!-- round-by-round appended evidence;"
            " scaling.py preserves everything below -->")
    appended = ""
    if os.path.exists(base):
        with open(base) as f:
            prev = f.read()
        if mark in prev:
            appended = prev.split(mark, 1)[1]
    with open(base, "w") as f:
        f.write(md + "\n" + mark + "\n" + appended)
    print(json.dumps({
        "pages": pages,
        "median_tput": med, "best_tput": best,
        "efficiency_2_to_8_median": eff_med,
        "efficiency_2_to_8_best": eff_best,
        "runs": {str(k): v for k, v in runs.items()},
        "info_levels": {str(k): v for k, v in info.items()},
    }))


if __name__ == "__main__":
    main()
