"""Spark's generated-class cache holds a warm curation pass: repeating the
dedup stages in one session compiles nothing the second time.

The cache is an LRU of ``spark.sql.codegen.cache.maxEntries`` classes
(set in ``build_session``). A pass whose working set exceeds it evicts in
a cycle and recompiles on every repeat. The stages run in a fresh
interpreter so the first pass starts from an empty cache whatever other
tests ran before; counts come from ``session.codegen_stats`` deltas.
"""

import json
import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = textwrap.dedent(
    """
    import json, os, random, shutil, sys, tempfile
    from deepseek_ocr_spark.datagen.synth import VOCAB
    from deepseek_ocr_spark.operators import corpus_stats, dedup
    from deepseek_ocr_spark.pipeline.session import build_session, codegen_stats

    spark = build_session("codegen-cache-test", "local[2]", 2,
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    rng = random.Random(7)
    texts = []
    for i in range(200):
        if i >= 10 and i % 10 == 0:
            texts.append(texts[i - 7])  # exact copies: components and spans
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 60))))
    work = tempfile.mkdtemp()
    spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(work, "docs"))
    docs = spark.read.parquet(os.path.join(work, "docs"))
    stages = [
        ("dedup_components",
         lambda: dedup.dedup_components(docs).write.format("noop").mode("overwrite").save()),
        ("dup_window_table",
         lambda: dedup.dup_window_table(docs).write.mode("overwrite").parquet(dup_dir)),
        ("dedup_spans",
         lambda: dedup.dedup_spans(docs, dup_table=spark.read.parquet(dup_dir))
         .write.format("noop").mode("overwrite").save()),
        ("lm_ppl_buckets",
         lambda: corpus_stats.lm_ppl_buckets(docs).write.format("noop").mode("overwrite").save()),
    ]
    dup_dir = os.path.join(work, "dup")
    out = []
    for _ in range(2):
        counts = {}
        for name, run in stages:
            n0, _s = codegen_stats(spark)
            run()
            counts[name] = codegen_stats(spark)[0] - n0
        out.append(counts)
    spark.stop()
    shutil.rmtree(work)
    print(json.dumps(out))
    """
)


DEDUP_STAGES = ["dedup_components", "dup_window_table", "dedup_spans"]


def test_warm_dedup_pass_compiles_nothing():
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    res = subprocess.run(
        [sys.executable, "-c", SCRIPT], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    first, second = json.loads(res.stdout.strip().splitlines()[-1])
    # a working set past Spark's default 100 entries, or the test is vacuous
    assert sum(first.values()) > 100, (first, second)
    # lm_ppl_buckets only fills the cache: its window stages get their
    # codegen ids in AQE's stage-completion order, which varies per run,
    # so a few of its classes can be new source on any pass
    assert [second[s] for s in DEDUP_STAGES] == [0, 0, 0], (first, second)
