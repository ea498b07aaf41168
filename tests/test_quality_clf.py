"""Trained quality/langid classifier (traindata.clf_*): behavior and
plan-shape pins beyond the registry oracle pair (which proves
Spark==DuckDB bit-exactness in tests/test_entry_queries.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deepseek_ocr_spark.operators import traindata

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _mse(scores, docs, target="en"):
    lab = docs.select(
        "doc_id", (F.col("lang") == target).cast("double").alias("y")
    )
    return (
        scores.join(lab, "doc_id")
        .agg(F.avg((F.col("clf_score") - F.col("y")) ** 2))
        .collect()[0][0]
    )


def test_training_reduces_error_vs_zero_model(spark, docs):
    """The whole point of the gradient loop: the trained model must beat
    the untrained one (w=0 → every score 0.5 → mse = mean y(1-y)).
    step_div is the integer learning rate and is corpus-scale-tuned: the
    default (30_000) targets the driver's sf0.01; this 60-doc corpus
    has ~10 docs per bucket, so the rougher small-sample landscape needs
    the gentler 120_000 (measured: 0.232 vs the 0.25 baseline; the
    default over-steps here)."""
    base = _mse(traindata.clf_scores(docs, iters=0), docs)
    trained = _mse(traindata.clf_scores(docs, step_div=120_000), docs)
    assert abs(base - 0.25) < 0.02  # zero model scores 0.5 everywhere
    assert trained < base


def test_zero_model_scores_half(spark, docs):
    rows = traindata.clf_scores(docs, iters=0).select("clf_score").distinct()
    assert [r[0] for r in rows.collect()] == [0.5]


def test_fit_reuse_matches_inline(spark, docs):
    fit = traindata.clf_fit(docs, iters=3)
    a = traindata.clf_scores(docs, iters=3, fit=fit).orderBy("doc_id").collect()
    b = traindata.clf_scores(docs, iters=3).orderBy("doc_id").collect()
    assert a == b


def test_fit_scores_held_out_corpus(spark, docs):
    """fit= decouples training from scoring: a disjoint slice scores
    through a model fitted elsewhere (the score-many-corpora shape)."""
    train = docs.filter(F.col("doc_id") % 2 == 0)
    held = docs.filter(F.col("doc_id") % 2 == 1)
    fit = traindata.clf_fit(train, iters=2)
    out = traindata.clf_scores(held, fit=fit)
    n_held = held.filter(F.col("text").isNotNull()).count()
    assert out.count() == n_held
    assert out.filter(~F.col("clf_score").between(0.0, 1.0)).count() == 0


def test_topk_plan_is_take_ordered_and_fit_reads_checkpoint(spark, docs):
    top = traindata.clf_topk(docs, k=10)
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # never a global-window sort
    fit = traindata.clf_fit(docs, iters=2)
    fplan = fit._jdf.queryExecution().executedPlan().toString()
    # the trained weights are pinned: consumers read an ExistingRDD, not
    # a 12-iteration recompute chain
    assert "Scan ExistingRDD" in fplan


def test_bias_feature_present_in_fit(spark, docs):
    fit = traindata.clf_fit(docs, iters=1)
    assert fit.filter(F.col("b") == -1).count() == 1


def test_floordiv_matches_python_floor(spark):
    import math

    df = spark.createDataFrame(
        [(v,) for v in (-101, -100, -1, 0, 1, 99, 100, 101, -7_000_003)],
        "a long",
    )
    got = df.select(traindata._floordiv(F.col("a"), 100).alias("f")).collect()
    assert [r["f"] for r in got] == [
        math.floor(v / 100)
        for v in (-101, -100, -1, 0, 1, 99, 100, 101, -7_000_003)
    ]


def test_scoring_against_fit_reads_no_lang(spark, docs):
    """clf_scores(fit=) reads only doc_id and text: the same docs with
    lang dropped score to the same rows (the streaming scorer's input)."""
    fit = traindata.clf_fit(docs, iters=2)
    a = traindata.clf_scores(docs, fit=fit).orderBy("doc_id").collect()
    b = traindata.clf_scores(docs.drop("lang"), fit=fit).orderBy("doc_id").collect()
    assert a == b and len(a) > 0
