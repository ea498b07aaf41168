"""The one-write commit contract (pipeline/checkpoint.py).

``commit_run`` is a single append of ``extracted``: one SQL execution, no
cache entry, no second table. ``pending_documents`` anti-joins against the
committed ``extracted`` urls; "nothing committed" is a missing directory or
one without committed parquet, and any other read error propagates."""

import os

import pytest
from py4j.protocol import Py4JJavaError

from deepseek_ocr_spark.datagen.synth import gen_documents
from deepseek_ocr_spark.pipeline import checkpoint as ckpt
from deepseek_ocr_spark.pipeline.extract_job import extract_documents
from deepseek_ocr_spark.sources.catalog import DOCS_SCHEMA


def _last_execution_id(spark) -> int:
    # executions reach the status store through the listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    ex = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((ex.apply(i).executionId() for i in range(ex.size())), default=-1)


@pytest.fixture(scope="module")
def docs_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("commit") / "docs.parquet")
    spark.createDataFrame(gen_documents(12), DOCS_SCHEMA).write.parquet(path)
    return path


def test_commit_is_one_execution_and_one_table(spark, docs_parquet, tmp_path):
    base = str(tmp_path / "out")
    spark.catalog.clearCache()
    extracted = extract_documents(spark.read.parquet(docs_parquet))
    before = _last_execution_id(spark)
    ckpt.commit_run(extracted, base)
    assert _last_execution_id(spark) == before + 1
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert sorted(os.listdir(base)) == ["extracted"]
    assert spark.read.parquet(ckpt.extracted_path(base)).count() == 12


def test_pending_without_base_returns_docs(spark, docs_parquet, tmp_path):
    docs = spark.read.parquet(docs_parquet)
    assert ckpt.pending_documents(docs, str(tmp_path / "missing")) is docs


def test_pending_with_empty_extracted_returns_docs(spark, docs_parquet, tmp_path):
    base = tmp_path / "out"
    # a first commit that crashed before any file was committed
    (base / "extracted" / "_temporary").mkdir(parents=True)
    docs = spark.read.parquet(docs_parquet)
    assert ckpt.pending_documents(docs, str(base)) is docs


def test_pending_with_corrupt_extracted_raises(spark, docs_parquet, tmp_path):
    base = tmp_path / "out"
    (base / "extracted").mkdir(parents=True)
    (base / "extracted" / "part-00000.parquet").write_bytes(b"PAR1 not a footer PAR1")
    docs = spark.read.parquet(docs_parquet)
    with pytest.raises(Py4JJavaError):
        ckpt.pending_documents(docs, str(base)).count()
