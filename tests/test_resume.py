"""Resume / idempotent-replay test (SURVEY.md §5.2.5, BASELINE.md).

Simulates a mid-run kill: commit a partial run (first half of the corpus),
then resume over the full corpus — the anti-join must process only the
missing urls, and the final deduped output must be byte-identical to the
oracle for every url with no duplicates."""

import pytest

from deepseek_ocr_spark.datagen.synth import gen_documents
from deepseek_ocr_spark.oracle.runner import run_oracle
from deepseek_ocr_spark.pipeline import checkpoint as ckpt
from deepseek_ocr_spark.pipeline.extract_job import extract_documents
from pyspark.sql import functions as F


def test_resume_after_partial_run(spark, docs_df, tmp_path):
    base = str(tmp_path / "out")

    # run 1: "crash" after processing only urls hashing to an arbitrary half
    half = docs_df.filter(F.crc32(F.col("url")) % 2 == 0)
    ckpt.commit_run(extract_documents(half), base, attempt=0)

    # run 2: resume over the FULL corpus
    pending = ckpt.pending_documents(docs_df, base)
    pending_urls = {r["url"] for r in pending.select("url").collect()}
    done_urls = {r["url"] for r in half.select("url").collect()}
    all_urls = {r["url"] for r in docs_df.select("url").collect()}
    assert pending_urls == all_urls - done_urls  # anti-join correctness
    ckpt.commit_run(extract_documents(pending), base, attempt=1)

    final = ckpt.read_extracted_deduped(spark, base)
    rows = final.collect()
    urls = [r["url"] for r in rows]
    assert len(urls) == len(set(urls)) == len(all_urls)  # no duplicates

    oracle = {r["url"]: r for r in run_oracle(gen_documents(60))}
    for r in rows:
        assert r["text"] == oracle[r["url"]]["text"], r["url"]
        assert r["digest"] == oracle[r["url"]]["digest"]


def test_replay_is_idempotent(spark, docs_df, tmp_path):
    base = str(tmp_path / "out2")
    sub = docs_df.limit(10)
    ckpt.commit_run(extract_documents(sub), base, attempt=0)
    # replay the same urls (e.g. speculative retry) — dedup keeps one copy
    ckpt.commit_run(extract_documents(sub), base, attempt=1)
    final = ckpt.read_extracted_deduped(spark, base)
    assert final.count() == 10
    raw = spark.read.parquet(ckpt.extracted_path(base))
    assert raw.count() == 20  # both attempts landed; reader dedupes


def test_noop_resume_commits_nothing(spark, tmp_path):
    """A second ``run_extract --resume`` over the same corpus has nothing
    pending: it appends no part file to extracted/, and it still rewrites
    the derived tables (a crash between the commit and those writes is
    repaired by a no-op resume)."""
    import os
    import subprocess
    import sys

    out = str(tmp_path / "out")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = root

    def run(*extra):
        r = subprocess.run(
            [sys.executable, "-m", "deepseek_ocr_spark.jobs.run_extract",
             "--output", out, "--n-docs", "6", *extra],
            capture_output=True, text=True, timeout=240, env=env, cwd=root,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return r.stdout

    def parts():
        return sorted(f for f in os.listdir(ckpt.extracted_path(out)) if f.startswith("part-"))

    run()
    before = parts()
    assert before
    os.rename(os.path.join(out, "metrics"), os.path.join(out, "metrics.lost"))
    stdout = run("--resume", "--attempt", "1")
    assert parts() == before
    assert os.path.isdir(os.path.join(out, "metrics"))
    assert "extracted 6 docs" in stdout


def test_first_resume_of_empty_input_creates_extracted(spark, docs_df, tmp_path):
    """Nothing committed and nothing to extract: the resume step still
    appends once, so the extracted table exists for the readers."""
    from deepseek_ocr_spark.config import DEFAULT_CONFIG

    base = str(tmp_path / "out")
    ckpt.commit_pending(docs_df.limit(0), base, DEFAULT_CONFIG)
    assert ckpt.read_extracted_deduped(spark, base).count() == 0
