"""Streaming smoke (SURVEY.md §2.9): the same extraction plan over a
file-source stream, checkpointed, idempotent, byte-identical to the oracle."""

import pytest
from pyspark.sql import functions as F

from deepseek_ocr_spark.datagen.synth import gen_documents
from deepseek_ocr_spark.oracle.runner import run_oracle
from deepseek_ocr_spark.pipeline import checkpoint as ckpt
from deepseek_ocr_spark.streaming.stream_job import stream_extract


def test_stream_extract_available_now(spark, tmp_path):
    rows = gen_documents(30)
    docs = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    input_dir = str(tmp_path / "in")
    # several files → several micro-batches under maxFilesPerTrigger
    docs.repartition(6).write.parquet(input_dir)

    out_base = str(tmp_path / "out")
    q = stream_extract(
        spark, input_dir, out_base, str(tmp_path / "ckpt"), max_files_per_trigger=2
    )
    q.awaitTermination(300)

    final = ckpt.read_extracted_deduped(spark, out_base)
    got = {r["url"]: r for r in final.collect()}
    oracle = {r["url"]: r for r in run_oracle(rows)}
    assert set(got) == set(oracle)
    for u in oracle:
        assert got[u]["text"] == oracle[u]["text"], u

    # replay: restarting the stream over the same input adds nothing
    q2 = stream_extract(
        spark, input_dir, out_base, str(tmp_path / "ckpt2"), max_files_per_trigger=3
    )
    q2.awaitTermination(300)
    assert ckpt.read_extracted_deduped(spark, out_base).count() == 30


def test_windowed_event_stream_matches_batch(spark, tmp_path):
    """Watermarked tumbling-window streaming agg == batch events_hourly
    (complete mode re-emits every window, so arrival order is irrelevant)."""
    from deepseek_ocr_spark.streaming.windowed import (
        stream_events_hourly,
        stream_events_hourly_complete,
    )
    from deepseek_ocr_spark.operators.textops import events_hourly

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "in")
    events.repartition(4).write.parquet(in_dir)

    q = stream_events_hourly_complete(spark, in_dir, "win_complete")
    q.awaitTermination(300)

    got = {
        (r["hour"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("select * from win_complete").collect()
    }
    want = {
        (r["hour"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in events_hourly(events).collect()
    }
    assert got == want and len(got) > 0


def test_windowed_append_mode_late_data_policy(spark, tmp_path):
    """Append mode: only watermark-finalized windows emit; with unordered
    historical replay and a small watermark, late rows drop by design —
    emitted windows must still be a consistent subset of the batch result."""
    from deepseek_ocr_spark.streaming.windowed import stream_events_hourly
    from deepseek_ocr_spark.operators.textops import events_hourly

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir, out_dir, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    # single file + single trigger: arrival is one batch, no late data;
    # windows older than max(ts) - watermark finalize and emit
    events.coalesce(1).write.parquet(in_dir)
    q = stream_events_hourly(spark, in_dir, out_dir, ck,
                             max_files_per_trigger=10, watermark="2 hours")
    q.awaitTermination(300)

    got = {
        (r["hour"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["hour"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in events_hourly(events).collect()
    }
    assert len(got) > 0
    assert all(want.get(k) == v for k, v in got.items())  # emitted ⊆ batch
    # the EXACT policy: append mode emits a window once the watermark passes
    # its end, so after the single batch the missing set must be precisely
    # the windows whose end > max(ts) - watermark (the unfinalized tail)
    from datetime import timedelta

    max_ts = events.agg({"ts": "max"}).collect()[0][0]
    threshold = max_ts - timedelta(hours=2)
    expected_missing = {k for k in want if k[0] + timedelta(hours=1) > threshold}
    assert set(want) - set(got) == expected_missing


def test_stateful_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization: every emitted session must be
    byte-equal to a batch `sessionize` session, and every session that
    provably closed (ended more than one gap before the final watermark)
    must have been emitted. Input files are written in time order so
    cross-batch arrival respects event time (the operator's documented
    contract: in-order within the watermark)."""
    from datetime import timedelta

    from deepseek_ocr_spark.operators.temporal import sessionize
    from deepseek_ocr_spark.streaming.sessions import stream_sessionize

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir, out_dir, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))

    # time-ordered file layout → micro-batches arrive in event-time order
    import os

    os.makedirs(in_dir)
    pdf = events.toPandas().sort_values(["ts", "event_id"]).reset_index(drop=True)
    n_files = 5
    per = (len(pdf) + n_files - 1) // n_files
    for f in range(n_files):
        chunk = pdf.iloc[f * per : (f + 1) * per]
        if len(chunk):
            spark.createDataFrame(chunk).coalesce(1).write.parquet(
                f"{in_dir}/part={f:02d}"
            )

    q = stream_sessionize(
        spark, in_dir + "/*", ck, out_dir, gap_minutes=30,
        watermark="0 seconds", max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    got = {
        (r["user_id"], r["session_start"]): (
            r["session_end"], r["n_events"], r["duration_us"]
        )
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["user_id"], r["session_start"]): (
            r["session_end"], r["n_events"], r["duration_us"]
        )
        for r in sessionize(events, gap_minutes=30).collect()
    }
    assert len(got) > 0
    # every emitted session is exactly a batch session
    mismatches = {k: (v, want.get(k)) for k, v in got.items() if want.get(k) != v}
    assert mismatches == {}
    # completeness: sessions that ended well before the end of the stream
    # (more than one gap + slack before max ts) must all have been emitted
    max_ts = events.agg({"ts": "max"}).collect()[0][0]
    threshold = max_ts - timedelta(minutes=90)
    must_have = {k for k, v in want.items() if v[0] < threshold}
    missing = must_have - set(got)
    assert missing == set(), sorted(missing)[:5]


def test_streaming_exact_dedup(spark, tmp_path):
    """dropDuplicates-with-state: duplicates planted across micro-batches
    must be dropped by the state store; survivors equal the batch
    dedup_exact survivor set."""
    from deepseek_ocr_spark.streaming.dedup_stream import stream_dedup_to_parquet

    rows = gen_documents(20)
    docs = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    # plant exact-duplicate bodies under new urls (arrive in later files)
    dupes = docs.limit(6).selectExpr(
        "concat(url, '#dup') AS url", "warc_ts", "html", "text", "lang"
    )
    in_dir, out_dir, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    import os

    os.makedirs(in_dir)
    docs.coalesce(1).write.parquet(f"{in_dir}/b=0")
    dupes.coalesce(1).write.parquet(f"{in_dir}/b=1")

    q = stream_dedup_to_parquet(spark, in_dir + "/*", out_dir, ck,
                                max_files_per_trigger=1)
    q.awaitTermination(300)

    got = spark.read.parquet(out_dir)
    texts = [r["text"] for r in got.collect()]
    assert len(texts) == len(set(texts))  # no duplicate bodies survived
    assert got.count() == docs.select("text").distinct().count()
    assert got.filter(F.col("url").endswith("#dup")).count() == 0  # first wins


def test_streaming_neardup_matches_batch_incremental(spark, tmp_path):
    """Stream near-dup probe vs a materialized corpus band table: the
    surviving docs across micro-batches equal the batch
    dedup_incremental already_seen=false set on the same split."""
    from deepseek_ocr_spark.operators.dedup import band_table, dedup_incremental
    from deepseek_ocr_spark.streaming.probe import stream_neardup_to_parquet

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id",
        F.expr("timestamp'2025-01-01' + make_interval(0,0,0,0,0,0,doc_id)").alias(
            "warc_ts"
        ),
        "text",
    )
    inc = docs.filter(F.col("doc_id") % 10 == 0)
    base = docs.filter(F.col("doc_id") % 10 != 0)

    in_dir, out_dir, ck, bands = (
        str(tmp_path / d) for d in ("in", "out", "ck", "bands")
    )
    band_table(base).write.parquet(bands)
    import os

    os.makedirs(in_dir)
    # split the increment across two micro-batch files
    inc.filter("doc_id % 20 = 0").coalesce(1).write.parquet(f"{in_dir}/b=0")
    inc.filter("doc_id % 20 != 0").coalesce(1).write.parquet(f"{in_dir}/b=1")

    q = stream_neardup_to_parquet(spark, in_dir + "/*", bands, out_dir, ck)
    q.awaitTermination(300)

    got = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    flags = dedup_incremental(docs.select("doc_id", "text"))
    want = {r["doc_id"] for r in flags.filter("NOT already_seen").collect()}
    assert got == want and len(got) > 0


def test_streaming_contamination_matches_batch(spark, tmp_path):
    """Stream decontamination probe vs the materialized benchmark gram
    table: per-doc flags across micro-batches equal the batch
    contamination_flags rows for the same (non-benchmark) docs."""
    from deepseek_ocr_spark.operators.traindata import (
        benchmark_gram_table,
        contamination_flags,
    )
    from deepseek_ocr_spark.streaming.probe import stream_contamination_to_parquet

    all_docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = all_docs.select(
        "doc_id",
        F.expr("timestamp'2025-01-01' + make_interval(0,0,0,0,0,0,doc_id)").alias(
            "warc_ts"
        ),
        "text",
    )
    # stream the NON-benchmark docs; the static artifact is the benchmark set
    inc = docs.filter(F.col("doc_id") % 23 != 0)

    in_dir, out_dir, ck, grams = (
        str(tmp_path / d) for d in ("in", "out", "ck", "grams")
    )
    benchmark_gram_table(all_docs).write.parquet(grams)
    import os

    os.makedirs(in_dir)
    inc.filter("doc_id % 2 = 0").coalesce(1).write.parquet(f"{in_dir}/b=0")
    inc.filter("doc_id % 2 != 0").coalesce(1).write.parquet(f"{in_dir}/b=1")

    q = stream_contamination_to_parquet(spark, in_dir + "/*", grams, out_dir, ck)
    q.awaitTermination(300)

    got = {
        (r["doc_id"], r["n_hits"], r["contaminated"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["doc_id"], r["n_hits"], r["contaminated"])
        for r in contamination_flags(all_docs).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_spans_matches_batch(spark, tmp_path):
    """Stream span probe vs the materialized duplicated-window digest
    table: streaming ALL docs against the full-corpus table must
    reproduce the batch dedup_spans output exactly (probing each doc's
    windows against the corpus-wide >=2 digest set IS the batch flag
    rule)."""
    from deepseek_ocr_spark.operators.dedup import dedup_spans, dup_window_table
    from deepseek_ocr_spark.streaming.probe import stream_spans_to_parquet

    all_docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = all_docs.select(
        "doc_id",
        F.expr("timestamp'2025-01-01' + make_interval(0,0,0,0,0,0,doc_id)").alias(
            "warc_ts"
        ),
        "text",
    )

    in_dir, out_dir, ck, dups = (
        str(tmp_path / d) for d in ("in", "out", "ck", "dups")
    )
    dup_window_table(all_docs).write.parquet(dups)
    import os

    os.makedirs(in_dir)
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(f"{in_dir}/b=0")
    docs.filter("doc_id % 2 != 0").coalesce(1).write.parquet(f"{in_dir}/b=1")

    q = stream_spans_to_parquet(spark, in_dir + "/*", dups, out_dir, ck)
    q.awaitTermination(300)

    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
        for r in dedup_spans(all_docs).collect()
    }
    assert got == want and len(got) > 0


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join == the equivalent batch join (availableNow
    over a static directory; watermark large enough that nothing drops)."""
    from deepseek_ocr_spark.streaming.windowed import (
        EVENTS_SCHEMA,
        stream_stream_view_click_join,
    )

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir, out_dir, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    events.repartition(3).write.parquet(in_dir)

    def stream_src():
        return (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )

    joined = stream_stream_view_click_join(
        stream_src(), stream_src(), within_minutes=30, watermark="100 days"
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r["user_id"], r["view_id"], r["click_id"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["user_id"], r["view_id"], r["click_id"])
        for r in stream_stream_view_click_join(
            events, events, within_minutes=30
        ).collect()
    }
    assert len(want) > 0
    assert got == want


def test_streaming_hll_registers_match_batch(spark, tmp_path):
    """Mergeable-sketch property live: the streaming HLL register table
    (256 rows of state, micro-batches folded by max) equals the batch
    register table over the same corpus — hence identical estimates."""
    from deepseek_ocr_spark.operators.corpus_stats import hll_registers

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    in_dir, ck = (str(tmp_path / d) for d in ("in", "ck"))
    # split across files → multiple micro-batches fold into state
    docs.repartition(4).write.parquet(in_dir)

    src = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        hll_registers(src, "text")
        .writeStream.format("memory")
        .queryName("hll_regs")
        .outputMode("complete")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        r["bucket"]: r["m_j"]
        for r in spark.sql("SELECT * FROM hll_regs").collect()
    }
    want = {
        r["bucket"]: r["m_j"] for r in hll_registers(docs, "text").collect()
    }
    assert got == want
    assert len(got) <= 256


def test_streaming_semantic_matches_batch(spark, tmp_path):
    """Stream semantic-dedup probe vs the materialized corpus index: a new
    vector duplicating a corpus vector (same bucket by construction) is
    dropped; dissimilar vectors survive; stream result equals the batch
    semantic_filter_batch on the same split."""
    import os

    from deepseek_ocr_spark.operators.similarity import (
        corpus_semantic_index,
        semantic_filter_batch,
    )
    from deepseek_ocr_spark.streaming.probe import stream_semantic_to_parquet

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    base = emb.filter(F.col("vec_id") % 5 != 0)
    # increment: held-out vectors (some are semantic dups of base at the
    # default threshold, some are not) plus EXACT copies of base vectors
    copies = base.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    inc = emb.filter(F.col("vec_id") % 5 == 0).unionByName(copies)

    in_dir, out_dir, ck, idx = (
        str(tmp_path / d) for d in ("in", "out", "ck", "idx")
    )
    corpus_semantic_index(base).write.parquet(idx)
    os.makedirs(in_dir)
    inc.filter(F.col("vec_id") < 100000).coalesce(1).write.parquet(f"{in_dir}/b=0")
    inc.filter(F.col("vec_id") >= 100000).coalesce(1).write.parquet(f"{in_dir}/b=1")

    q = stream_semantic_to_parquet(spark, in_dir + "/*", idx, out_dir, ck)
    q.awaitTermination(300)

    got = {r["vec_id"] for r in spark.read.parquet(out_dir).collect()}
    want = {
        r["vec_id"]
        for r in semantic_filter_batch(
            inc, spark.read.parquet(idx)
        ).collect()
    }
    assert got == want and len(got) > 0
    # every exact copy of a corpus vector is dropped (cos = 1.0)
    assert not any(v >= 100000 for v in got)


def test_streaming_clf_scores_match_batch(spark, tmp_path):
    """Stream scoring vs the materialized trained-classifier weight
    table: per-doc scores across micro-batches equal one batch
    clf_scores() pass with the same fitted model (bit-exact — the
    hard-sigmoid arithmetic is pure BIGINT)."""
    from deepseek_ocr_spark.operators.traindata import clf_fit, clf_scores
    from deepseek_ocr_spark.streaming.probe import stream_clf_scores_to_parquet

    all_docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = all_docs.select(
        "doc_id",
        F.expr("timestamp'2025-01-01' + make_interval(0,0,0,0,0,0,doc_id)").alias(
            "warc_ts"
        ),
        "text",
    )
    in_dir, out_dir, ck, fit_dir = (
        str(tmp_path / d) for d in ("in", "out", "ck", "fit")
    )
    fit = clf_fit(all_docs, iters=3)
    fit.write.parquet(fit_dir)
    import os

    os.makedirs(in_dir)
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(f"{in_dir}/b=0")
    docs.filter("doc_id % 2 != 0").coalesce(1).write.parquet(f"{in_dir}/b=1")

    q = stream_clf_scores_to_parquet(spark, in_dir + "/*", fit_dir, out_dir, ck)
    q.awaitTermination(300)

    got = {
        (r["doc_id"], r["n_feats"], r["clf_score"])
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r["doc_id"], r["n_feats"], r["clf_score"])
        for r in clf_scores(all_docs, fit=fit).collect()
    }
    assert got == want and len(got) > 0


def test_probe_stream_replay(spark, tmp_path):
    """Replay through the probe runner (spans probe): rerunning over the
    same input with the same checkpoint adds nothing; with a fresh
    checkpoint every batch replays and overwrites its own batch=<id>
    partition, leaving the same row set and no duplicate rows."""
    import os

    from deepseek_ocr_spark.operators.dedup import dup_window_table
    from deepseek_ocr_spark.streaming.probe import stream_spans_to_parquet

    # every doc shares one 10-token boilerplate run, so each has a span
    boiler = "read the terms of service before you post a comment here"
    docs = spark.createDataFrame(
        [(i, f"unique words of doc {i} then {boiler} and doc {i} ends") for i in range(12)],
        "doc_id long, text string",
    ).select(
        "doc_id",
        F.expr("timestamp'2025-01-01' + make_interval(0,0,0,0,0,0,doc_id)").alias(
            "warc_ts"
        ),
        "text",
    )
    in_dir, out_dir, dups = (str(tmp_path / d) for d in ("in", "out", "dups"))
    dup_window_table(docs).write.parquet(dups)
    os.makedirs(in_dir)
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(f"{in_dir}/b=0")
    docs.filter("doc_id % 2 != 0").coalesce(1).write.parquet(f"{in_dir}/b=1")

    def run(ck):
        stream_spans_to_parquet(
            spark, in_dir + "/*", dups, out_dir, str(tmp_path / ck)
        ).awaitTermination(300)

    def state():
        files = {
            os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
            for d, _, fs in os.walk(out_dir) for f in fs
        }
        rows = [tuple(r) for r in spark.read.parquet(out_dir).collect()]
        return files, sorted(rows)

    run("ck")
    files, rows = state()
    assert sorted(os.listdir(out_dir)) == ["batch=0", "batch=1"]
    assert {r[0] for r in rows} == set(range(12)) and len(rows) == len(set(rows))

    run("ck")  # same checkpoint: both batches are committed, nothing runs
    assert state() == (files, rows)

    run("ck_fresh")  # fresh checkpoint: both batches replay and overwrite
    files2, rows2 = state()
    assert sorted(os.listdir(out_dir)) == ["batch=0", "batch=1"]
    assert rows2 == rows
    assert files2 != files


def test_streaming_modules_import_no_private_operator_names():
    """A stream module composes public batch operators; it never reaches
    into an operator module's private (_-prefixed) helpers."""
    import ast
    import pathlib

    import deepseek_ocr_spark.streaming as streaming

    bad = []
    for path in sorted(pathlib.Path(streaming.__file__).parent.glob("*.py")):
        tree = ast.parse(path.read_text())
        op_modules = set()
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom) or not (node.module or "").startswith(
                "deepseek_ocr_spark.operators"
            ):
                continue
            for alias in node.names:
                if alias.name.startswith("_"):
                    bad.append(f"{path.name}: imports {alias.name}")
                elif node.module == "deepseek_ocr_spark.operators":
                    op_modules.add(alias.asname or alias.name)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in op_modules
                and node.attr.startswith("_")
            ):
                bad.append(f"{path.name}: uses {node.value.id}.{node.attr}")
    assert bad == []
