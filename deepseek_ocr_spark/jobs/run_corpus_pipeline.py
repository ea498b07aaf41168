"""spark-submit entry point for the TRAINING-DATA pipeline (the op families
beyond extraction): dedup → clean → sketch/index, one job.

Usage:
    spark-submit --py-files deepseek_ocr_spark.zip \
        deepseek_ocr_spark/jobs/run_corpus_pipeline.py \
        --input /path/to/documents.parquet --output /path/to/out \
        [--min-quality 0.5] [--with-components]

Writes under --output:
    clean/       corpus_clean survivors (dedup → language gate → quality gate)
    components/  near-dup connected components over the MinHash-LSH graph
                 (--with-components; iterative, off by default)
    survivors/   keep-the-longest survivor selection per near-dup cluster
                 (--with-components)
    stats/       one-row corpus stats: exact + HLL distinct texts with the
                 sketch's relative error, doc/kept counts
    quality/     per-doc repetition signals (dup-line / top-bigram fracs)
    bands/       the MinHash-LSH band table — the materialized seen-set the
                 incremental/streaming near-dup probes consume
    index/tfidf/     top tf-idf terms per source
    index/postings/  inverted index (token → sorted doc_id posting list)
    pii/         per-doc PII-scrubbed text + typed redaction counts
    contamination/   per-doc benchmark 3-gram hit counts + flag
    packing/     per-doc (shard, bin_ix) sequence-packing assignment
    span_digests/  duplicated-window digest table (written once; the
                 detect/apply passes below and the streaming probe read it)
    spans/       duplicated-substring spans per doc (Lee et al. detect)
    spans_cut/   span-dedup APPLIED: rewritten text + n_removed
    lm_scores/   per-doc bigram-LM nll/ppl (CCNet-style filter signal)
    index/bpe_pairs/ top BPE merge candidates (tokenizer-training prep)
    lm_ppl/      per-doc CCNet head/middle/tail perplexity bucket
    mixture/     per-source temperature-scaled sampling weights
    index/bpe_merges/ the learned K-merge BPE table (training loop)
    dsir_fit/    the fitted DSIR importance model (m-row log-ratio table,
                 written once; selection + streams score against it)
    dsir/        per-doc DSIR importance scores
    clf_fit/     the trained quality-classifier weight table (m-row,
                 written once; batch scoring + streams read it)
    clf/         per-doc trained-classifier quality scores
    semantic/    SemDeDup components over the embeddings table
                 (written when the sibling embeddings.parquet exists)

Plan shape: clean is ONE shuffle (see textops.corpus_clean); stats is a
256-row register shuffle; each index build is one token-key shuffle. The
stages share the input scan but are otherwise independent sinks — on a
cluster they run as separate jobs off one cached upstream.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None)
    ap.add_argument("--output", required=True)
    ap.add_argument("--min-quality", type=float, default=0.5)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
        help="driver testdata dir used when --input is omitted")
    ap.add_argument("--with-components", action="store_true",
                    help="also run iterative connected components")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from deepseek_ocr_spark.operators import corpus_stats, dedup, textops, traindata
    from deepseek_ocr_spark.pipeline.session import build_session

    spark = build_session(app_name="run-corpus-pipeline")
    t0 = time.time()

    # expects the documents-table shape (doc_id, text, lang, source, n_chars)
    docs = spark.read.parquet(
        args.input if args.input else f"{args.sf_dir}/documents.parquet"
    )
    docs = docs.persist()
    n_in = docs.count()

    clean = textops.corpus_clean(docs, min_quality=args.min_quality)
    clean.write.mode("overwrite").parquet(os.path.join(args.output, "clean"))

    if args.with_components:
        dedup.dedup_components(docs).write.mode("overwrite").parquet(
            os.path.join(args.output, "components")
        )
        dedup.dedup_survivors(docs).write.mode("overwrite").parquet(
            os.path.join(args.output, "survivors")
        )

    hll = corpus_stats.hll_distinct(docs, col="text").withColumn(
        "n_docs", F.lit(n_in)
    )
    hll.write.mode("overwrite").parquet(os.path.join(args.output, "stats"))

    textops.repetition_signals(docs).write.mode("overwrite").parquet(
        os.path.join(args.output, "quality")
    )
    # the seen-set artifact the next day's incremental/streaming probes read
    dedup.band_table(docs).write.mode("overwrite").parquet(
        os.path.join(args.output, "bands")
    )

    corpus_stats.tfidf_top_terms(docs).write.mode("overwrite").parquet(
        os.path.join(args.output, "index", "tfidf")
    )
    corpus_stats.inverted_index(docs).write.mode("overwrite").parquet(
        os.path.join(args.output, "index", "postings")
    )

    # r5 training-data ops: map-only PII scrub, broadcast decontamination,
    # shard-local sequence packing (scale-aware P from the session conf)
    traindata.pii_scrub(docs).write.mode("overwrite").parquet(
        os.path.join(args.output, "pii")
    )
    traindata.contamination_flags(docs).write.mode("overwrite").parquet(
        os.path.join(args.output, "contamination")
    )
    traindata.seq_pack(docs).write.mode("overwrite").parquet(
        os.path.join(args.output, "packing")
    )

    # r6 ops: substring dedup (detect + apply) and the bigram-LM filter.
    # r7: the duplicated-window digest table is WRITTEN ONCE and both the
    # detect and apply passes (and the streaming span probe,
    # streaming/probe.stream_spans_to_parquet) read it back — window
    # digests are computed once per corpus instead of once per consumer
    # (the 100 TB default).
    dedup.dup_window_table(docs).write.mode("overwrite").parquet(
        os.path.join(args.output, "span_digests")
    )
    dup_table = spark.read.parquet(os.path.join(args.output, "span_digests"))
    dedup.dedup_spans(docs, dup_table=dup_table).write.mode("overwrite").parquet(
        os.path.join(args.output, "spans")
    )
    dedup.dedup_spans_cut(docs, dup_table=dup_table).write.mode(
        "overwrite"
    ).parquet(os.path.join(args.output, "spans_cut"))
    corpus_stats.lm_bigram_score(docs).write.mode("overwrite").parquet(
        os.path.join(args.output, "lm_scores")
    )
    corpus_stats.bpe_top_pairs(docs).write.mode("overwrite").parquet(
        os.path.join(args.output, "index", "bpe_pairs")
    )

    # r7 ops: CCNet perplexity buckets over the LM scores, temperature-
    # scaled mixture weights, the K-merge BPE training loop, and DSIR
    # selection — the fitted m-row model is WRITTEN ONCE (dsir_fit/) and
    # the selection pass (plus any later corpus or stream) scores against
    # it, mirroring the span_digests materialize-once discipline.
    corpus_stats.lm_ppl_buckets(docs).write.mode("overwrite").parquet(
        os.path.join(args.output, "lm_ppl")
    )
    textops.mixture_weights(docs).write.mode("overwrite").parquet(
        os.path.join(args.output, "mixture")
    )
    corpus_stats.bpe_merges(docs).write.mode("overwrite").parquet(
        os.path.join(args.output, "index", "bpe_merges")
    )
    traindata.dsir_fit(docs).write.mode("overwrite").parquet(
        os.path.join(args.output, "dsir_fit")
    )
    dsir_model = spark.read.parquet(os.path.join(args.output, "dsir_fit"))
    traindata.dsir_scores(docs, fit=dsir_model).write.mode("overwrite").parquet(
        os.path.join(args.output, "dsir")
    )
    traindata.clf_fit(docs).write.mode("overwrite").parquet(
        os.path.join(args.output, "clf_fit")
    )
    clf_model = spark.read.parquet(os.path.join(args.output, "clf_fit"))
    traindata.clf_scores(docs, fit=clf_model).write.mode("overwrite").parquet(
        os.path.join(args.output, "clf")
    )

    # SemDeDup needs the embeddings table; present in --sf-dir runs,
    # optional when --input points at a bare documents parquet
    emb_path = f"{args.sf_dir}/embeddings.parquet"
    if args.input is None and os.path.exists(emb_path):
        emb = spark.read.parquet(emb_path)
        from deepseek_ocr_spark.operators import similarity

        similarity.dedup_semantic(emb).write.mode("overwrite").parquet(
            os.path.join(args.output, "semantic")
        )

    n_clean = spark.read.parquet(os.path.join(args.output, "clean")).count()
    stats = spark.read.parquet(os.path.join(args.output, "stats")).head()
    dt = time.time() - t0
    print(json.dumps({
        "docs_in": n_in,
        "docs_clean": n_clean,
        "distinct_exact": int(stats["n_exact"]),
        "distinct_hll": float(stats["hll_estimate"]),
        "hll_rel_err": float(stats["rel_err"]),
        "sec": round(dt, 1),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
