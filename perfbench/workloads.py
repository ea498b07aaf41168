"""The benchmark workloads. Each one materializes seeded inputs, computes
its expected output with code that shares no plan with the run, runs the
timed operation through the package's public entry points, and checks
every committed output.

Why these two (BENCHMARK.json lists the layers each stresses/bypasses):
- web_extract: the flagship job on many small pages; the fused
  split+extract Python stage and the per-batch cost dominate. Its traced
  run also replays the same files through the streaming job and runs the
  PDF source on long books, which is how streaming/ and sources/pdf are
  measured.
- corpus_curate: operators/ does nearly all the work and Python UDFs
  almost none; it runs no extraction at all.
"""

from __future__ import annotations

import ast
import hashlib
import inspect
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass
from datetime import datetime
from pathlib import Path

import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.layers import (
    Tracer,
    last_execution_id,
    node_sum,
    plan_metrics,
    task_skew,
)


@dataclass
class Ctx:
    spark: object
    cores: int
    seed: int
    tracer: Tracer
    scale: float = 1.0


@dataclass
class Pass:
    """What one timed operation did."""

    seconds: float
    pages: int
    docs: int


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _read_committed(out_dir: str) -> dict[str, tuple[str, str, int]]:
    """url → (text, digest, n_pages) from the committed extracted table."""
    t = pq.read_table(
        os.path.join(out_dir, "extracted"), columns=["url", "text", "digest", "n_pages"]
    ).to_pydict()
    return {
        u: (x, d, n) for u, x, d, n in zip(t["url"], t["text"], t["digest"], t["n_pages"])
    }


def _compare(expected: dict, got: dict) -> int:
    """Number of expected urls whose committed row equals the expectation.
    A url committed but not expected counts against the match too."""
    ok = sum(1 for u, row in expected.items() if got.get(u) == row)
    return max(0, ok - len(set(got) - set(expected)))


def _oracle_rows(rows) -> dict[str, tuple[str, str, int]]:
    from deepseek_ocr_spark.oracle.runner import extract_url

    out = {}
    for url, html in rows:
        r = extract_url(url, html)
        out[url] = (r["text"], r["digest"], r["n_pages"])
    return out


def _kernel_baselines(ctx: Ctx, htmls: list[bytes]) -> dict[str, float]:
    """Single-threaded, in-process rates of the extraction kernel and the
    oracle over the same html sample."""
    from deepseek_ocr_spark.kernels.extract import extract_document
    from deepseek_ocr_spark.oracle.runner import extract_url

    tr = ctx.tracer
    with tr.span("kernels.extract"):
        pages = sum(len(extract_document(h)) for h in htmls)
    with tr.span("oracle"):
        for i, h in enumerate(htmls):
            extract_url(str(i), h)
    return {
        "kernels.extract.pages_per_s_1proc": pages / tr.total("kernels.extract"),
        "oracle.pages_per_s_1proc": pages / tr.total("oracle"),
    }


def _pipeline_layers(ctx: Ctx, docs_fn, commit_execs: list[dict]) -> dict[str, float]:
    """The extraction plan split into layers: split+extract alone into a
    noop sink, the whole plan into a noop sink, and the committed run's
    plan metrics from the SQL status store."""
    from deepseek_ocr_spark.pipeline.extract_job import extract_documents, split_and_extract

    tr = ctx.tracer
    with tr.span("pipeline.split_and_extract"):
        _noop(split_and_extract(docs_fn()))
    with tr.span("pipeline.extract_documents"):
        _noop(extract_documents(docs_fn()))
    split_s = tr.total("pipeline.split_and_extract")
    extract_s = tr.total("pipeline.extract_documents")
    commit_s = tr.total("pipeline.commit_run")

    def python_node(name: str, prefix: str) -> dict[str, float]:
        return {
            f"{prefix}.python_s": node_sum(commit_execs, name, "time to run Python workers"),
            f"{prefix}.python_init_s": node_sum(commit_execs, name, "time to initialize Python workers"),
            f"{prefix}.python_sent_bytes": node_sum(commit_execs, name, "data sent to Python workers"),
            f"{prefix}.python_recv_bytes": node_sum(commit_execs, name, "data returned from Python workers"),
        }

    # the url exchange is the exchange nearest the root of the extracted-
    # table write: the per-url assembly's repartition
    url_exchange = next(
        (n for e in commit_execs for n in e["nodes"]
         if n["name"] == "Exchange" and n["metrics"].get("shuffle bytes written")),
        {"metrics": {}},
    )
    finalize_stages = {
        s for e in commit_execs for n in e["nodes"] if n["name"] == "ArrowEvalPython"
        for s in n["stages"]
    }
    return {
        "pipeline.split_extract_s": split_s,
        "pipeline.assemble_finalize_self_s": extract_s - split_s,
        "pipeline.commit_self_s": commit_s - extract_s,
        **python_node("MapInPandas", "pipeline.split_extract"),
        **python_node("ArrowEvalPython", "pipeline.finalize"),
        "pipeline.url_exchange.shuffle_write_bytes":
            url_exchange["metrics"].get("shuffle bytes written", 0.0),
        "pipeline.assemble.spill_bytes": node_sum(commit_execs, "ObjectHashAggregate", "spill size"),
        "pipeline.finalize.task_s_max_over_median": task_skew(ctx.spark, finalize_stages),
    }


def _stream_layers(
    ctx: Ctx, in_dir: str, out_dir: str, expected: dict, files_per_trigger: int
) -> dict[str, float]:
    """Closed-loop backlog replay of the input files through the
    availableNow stream; its output must equal the batch result."""
    from deepseek_ocr_spark.streaming.stream_job import stream_extract

    try:
        with ctx.tracer.span("streaming.stream_extract"):
            q = stream_extract(
                ctx.spark, in_dir, out_dir, out_dir + "-ckpt",
                max_files_per_trigger=files_per_trigger,
            )
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        matched = _compare(expected, _read_committed(out_dir))
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(out_dir + "-ckpt", ignore_errors=True)
    prog = [p["durationMs"] for p in q.recentProgress if p["numInputRows"] > 0]
    trigger = [d["triggerExecution"] / 1000.0 for d in prog]
    add = [d.get("addBatch", 0) / 1000.0 for d in prog]
    return {
        "streaming.microbatch_s": statistics.median(trigger),
        "streaming.add_batch_s": statistics.median(add),
        "streaming.trigger_overhead_s": statistics.median(t - a for t, a in zip(trigger, add)),
        "streaming.batch_growth": trigger[-1] / trigger[0],
        "streaming.output_match_rate": matched / len(expected),
    }


PDF_FILES = 4
PDF_PAGES = (50, 150)
PDF_OCR_SHARE = 0.05


class WebExtract:
    """Seeded web pages in multi-file parquet → extract_documents →
    commit_run into a fresh output base."""

    name = "web_extract"
    N_DOCS = 1600
    N_FILES = 8
    FILES_PER_TRIGGER = 2

    def generate(self, ctx: Ctx) -> None:
        self.rows = inputs.web_docs(ctx.seed, max(8, int(self.N_DOCS * ctx.scale)))

    def materialize(self, ctx: Ctx, in_dir: str) -> None:
        inputs.write_web_docs(self.rows, in_dir, self.N_FILES)

    def prepare(self, ctx: Ctx, in_dir: str) -> None:
        self.expected = _oracle_rows((r["url"], r["html"]) for r in self.rows)
        self.pages = sum(n for _t, _d, n in self.expected.values())
        self.sample_html = [r["html"] for r in self.rows[:300]]

    def run(self, ctx: Ctx, in_dir: str, out_dir: str) -> Pass:
        from deepseek_ocr_spark.pipeline.checkpoint import commit_run
        from deepseek_ocr_spark.pipeline.extract_job import extract_documents

        t0 = time.perf_counter()
        with ctx.tracer.span("pipeline.commit_run"):
            commit_run(extract_documents(ctx.spark.read.parquet(in_dir)), out_dir)
        return Pass(time.perf_counter() - t0, self.pages, len(self.expected))

    def check(self, ctx: Ctx, out_dir: str) -> tuple[int, int]:
        return _compare(self.expected, _read_committed(out_dir)), len(self.expected)

    def traced(self, ctx: Ctx, in_dir: str, out_dir: str) -> tuple[Pass, dict[str, float]]:
        tr = ctx.tracer
        before = last_execution_id(ctx.spark)
        p = self.run(ctx, in_dir, out_dir)
        commit_execs = plan_metrics(ctx.spark, before)
        with tr.span("sources.scan"):
            _noop(ctx.spark.read.parquet(in_dir).select("url", "html"))
        layers = {"sources.scan_s": tr.total("sources.scan")}
        layers.update(
            _pipeline_layers(ctx, lambda: ctx.spark.read.parquet(in_dir), commit_execs)
        )
        layers.update(_kernel_baselines(ctx, self.sample_html))
        layers.update(_stream_layers(ctx, in_dir, out_dir + "-stream", self.expected,
                                     self.FILES_PER_TRIGGER))
        layers.update(_pdf_layers(ctx, out_dir + "-pdf"))
        return p, layers


def _pdf_layers(ctx: Ctx, work: str) -> dict[str, float]:
    """The PDF source on seeded long books (50-150 pages, 5% image-only so
    they route to rasterize+OCR): the source alone into a noop sink, its
    page triage counts, the text-layer and raster kernels in-process, and
    the extraction of the loaded documents checked against the oracle run
    on the same html."""
    from pyspark.sql import functions as F

    from deepseek_ocr_spark.kernels.pdfraster import ocr_page_text, page_sizes, rasterize_page
    from deepseek_ocr_spark.kernels.pdftext import extract_pdf_text
    from deepseek_ocr_spark.pipeline.extract_job import extract_documents
    from deepseek_ocr_spark.sources.pdf import load_documents_pdf, pdf_pages

    tr = ctx.tracer
    in_dir = fresh_dir(work)
    try:
        written = inputs.write_pdf_books(
            ctx.seed, in_dir, max(2, int(PDF_FILES * ctx.scale)),
            (max(2, int(PDF_PAGES[0] * ctx.scale)), max(3, int(PDF_PAGES[1] * ctx.scale))),
            PDF_OCR_SHARE,
        )
        with tr.span("sources.pdf.load_documents_pdf"):
            _noop(load_documents_pdf(ctx.spark, in_dir))
        with tr.span("sources.pdf.pdf_pages"):
            raw = (
                ctx.spark.read.format("binaryFile").option("pathGlobFilter", "*.pdf").load(in_dir)
                .select(F.col("path").alias("url"), F.col("content").alias("pdf"))
            )
            counts = pdf_pages(raw).agg(
                F.count("*").alias("pages"),
                F.sum((F.col("route") == "ocr").cast("int")).alias("ocr"),
            ).head()
        docs = load_documents_pdf(ctx.spark, in_dir)
        expected = _oracle_rows(
            (r["url"], bytes(r["html"])) for r in docs.select("url", "html").collect()
        )
        with tr.span("pipeline.extract_documents.pdf"):
            got = {
                r["url"]: (r["text"], r["digest"], r["n_pages"])
                for r in extract_documents(docs).select("url", "text", "digest", "n_pages").collect()
            }
        # every written page must reach the extracted output
        kept = sum(n for _t, _d, n in got.values())
        matched = _compare(expected, got) if kept == written else 0
        blobs = [Path(in_dir, f).read_bytes() for f in sorted(os.listdir(in_dir))]
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)
    with tr.span("kernels.pdftext"):
        texts = [extract_pdf_text(b) for b in blobs]
    n_ocr = 0
    with tr.span("kernels.pdfraster"):
        for b, t in zip(blobs, texts):
            sizes = page_sizes(b)
            for ix, page in enumerate(t):
                if page:
                    continue
                try:
                    img = rasterize_page(b, ix, sizes=sizes)
                except ValueError:
                    # the raster kernel cannot size pages of object-stream
                    # PDFs; the source degrades those pages the same way
                    continue
                ocr_page_text(img, ix)
                n_ocr += 1
    return {
        "sources.pdf.load_s": tr.total("sources.pdf.load_documents_pdf"),
        "sources.pdf.pages": float(counts["pages"]),
        "sources.pdf.ocr_pages": float(counts["ocr"] or 0),
        "sources.pdf.output_match_rate": matched / len(expected),
        "kernels.pdftext.pages_per_s_1proc": sum(len(t) for t in texts) / tr.total("kernels.pdftext"),
        "kernels.pdfraster.ocr_page_s": tr.total("kernels.pdfraster") / max(1, n_ocr),
    }


# --- corpus curation --------------------------------------------------------------


def _stage_table():
    """run_corpus_pipeline.main's outputs, in its order: (output subdir,
    stage name, build(docs, emb, spark, out) → DataFrame)."""
    from deepseek_ocr_spark.operators import corpus_stats, dedup, similarity, textops, traindata

    def read(sub):
        return lambda d, e, s, o: s.read.parquet(os.path.join(o, sub))

    return [
        ("clean", "corpus_clean", lambda d, e, s, o: textops.corpus_clean(d, min_quality=0.5)),
        ("components", "dedup_components", lambda d, e, s, o: dedup.dedup_components(d)),
        ("survivors", "dedup_survivors", lambda d, e, s, o: dedup.dedup_survivors(d)),
        ("stats", "hll_distinct", lambda d, e, s, o: corpus_stats.hll_distinct(d, col="text")),
        ("quality", "repetition_signals", lambda d, e, s, o: textops.repetition_signals(d)),
        ("bands", "band_table", lambda d, e, s, o: dedup.band_table(d)),
        ("index/tfidf", "tfidf_top_terms", lambda d, e, s, o: corpus_stats.tfidf_top_terms(d)),
        ("index/postings", "inverted_index", lambda d, e, s, o: corpus_stats.inverted_index(d)),
        ("pii", "pii_scrub", lambda d, e, s, o: traindata.pii_scrub(d)),
        ("contamination", "contamination_flags", lambda d, e, s, o: traindata.contamination_flags(d)),
        ("packing", "seq_pack", lambda d, e, s, o: traindata.seq_pack(d)),
        ("span_digests", "dup_window_table", lambda d, e, s, o: dedup.dup_window_table(d)),
        ("spans", "dedup_spans",
         lambda d, e, s, o: dedup.dedup_spans(d, dup_table=read("span_digests")(d, e, s, o))),
        ("spans_cut", "dedup_spans_cut",
         lambda d, e, s, o: dedup.dedup_spans_cut(d, dup_table=read("span_digests")(d, e, s, o))),
        ("lm_scores", "lm_bigram_score", lambda d, e, s, o: corpus_stats.lm_bigram_score(d)),
        ("index/bpe_pairs", "bpe_top_pairs", lambda d, e, s, o: corpus_stats.bpe_top_pairs(d)),
        ("lm_ppl", "lm_ppl_buckets", lambda d, e, s, o: corpus_stats.lm_ppl_buckets(d)),
        ("mixture", "mixture_weights", lambda d, e, s, o: textops.mixture_weights(d)),
        ("index/bpe_merges", "bpe_merges", lambda d, e, s, o: corpus_stats.bpe_merges(d)),
        ("dsir_fit", "dsir_fit", lambda d, e, s, o: traindata.dsir_fit(d)),
        ("dsir", "dsir_scores",
         lambda d, e, s, o: traindata.dsir_scores(d, fit=read("dsir_fit")(d, e, s, o))),
        ("clf_fit", "clf_fit", lambda d, e, s, o: traindata.clf_fit(d)),
        ("clf", "clf_scores",
         lambda d, e, s, o: traindata.clf_scores(d, fit=read("clf_fit")(d, e, s, o))),
        ("semantic", "dedup_semantic", lambda d, e, s, o: similarity.dedup_semantic(e)),
    ]


def main_outputs() -> set[str]:
    """Every output subdir run_corpus_pipeline.main joins onto --output,
    read from its source so the stage table above cannot drift from it."""
    from deepseek_ocr_spark.jobs import run_corpus_pipeline

    tree = ast.parse(inspect.getsource(run_corpus_pipeline.main))
    out = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and ast.unparse(node.func) == "os.path.join"
            and node.args and ast.unparse(node.args[0]) == "args.output"
        ):
            out.add("/".join(a.value for a in node.args[1:]))
    return out


# stage → registry query with the same operator call and an oracle_sql()
CORPUS_ORACLES = {
    "corpus_clean": "corpus_clean",
    "dedup_components": "dedup_components",
    "dedup_survivors": "dedup_survivors",
    "hll_distinct": "hll_distinct_texts",
    "repetition_signals": "repetition_signals",
    "tfidf_top_terms": "tfidf_top_terms",
    "pii_scrub": "pii_scrub",
    "contamination_flags": "contamination_3gram",
    "dedup_spans": "dedup_spans",
    "dedup_spans_cut": "dedup_spans_cut",
    "lm_bigram_score": "lm_bigram_score",
    "bpe_top_pairs": "bpe_top_pairs",
    "lm_ppl_buckets": "lm_ppl_buckets",
    "mixture_weights": "mixture_weights",
    "bpe_merges": "bpe_merges",
    "dedup_semantic": "dedup_semantic",
}

# stages whose plan build runs Spark jobs eagerly (iterative loops)
EAGER_STAGES = ["dedup_semantic", "dedup_components", "dsir_fit", "clf_fit", "bpe_merges"]
# the costliest stages by shuffle volume and time at this scale
SHUFFLE_STAGES = ["dedup_semantic", "dedup_survivors", "bpe_merges", "lm_ppl_buckets", "clf_fit"]


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def _value_hash(rows, cols) -> str:
    """Order-insensitive hash of a result, columns taken by sorted name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


class CorpusCurate:
    """run_corpus_pipeline's stages with --with-components, called stage by
    stage so each one can be traced. The timed pass runs TIMED_STAGES; the
    traced run adds the remaining stages so every stage has a profile."""

    name = "corpus_curate"
    N_DOCS = 300
    # The full stage list takes about 30 s warm on 4 cores even at 300
    # docs (fixed per-job cost dominates), too long to repeat inside a run.
    # The timed pass keeps the iterative components loop, the md5
    # span-window family and the per-language perplexity window; the rest,
    # dedup_semantic and the classifier among them, run in the traced run.
    TIMED_STAGES = ["dedup_components", "dup_window_table", "dedup_spans", "lm_ppl_buckets"]

    def generate(self, ctx: Ctx) -> None:
        self.n_docs = max(20, int(self.N_DOCS * ctx.scale))

    def materialize(self, ctx: Ctx, in_dir: str) -> None:
        inputs.write_corpus(ctx.seed, in_dir, self.n_docs)

    def prepare(self, ctx: Ctx, in_dir: str) -> None:
        import duckdb

        from deepseek_ocr_spark.entry_queries import oracle_sql

        self.stages = _stage_table()
        drift = {sub for sub, _n, _f in self.stages} ^ main_outputs()
        if drift:
            raise RuntimeError(f"stage table differs from run_corpus_pipeline: {sorted(drift)}")
        sql = oracle_sql()
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{in_dir}/{t}.parquet/*.parquet')")
        self.oracle = {}
        for name, query in CORPUS_ORACLES.items():
            res = con.sql(sql[query])
            self.oracle[name] = (res.columns, _value_hash(res.fetchall(), res.columns))
        con.close()

    def _run_stages(self, ctx: Ctx, in_dir: str, out_dir: str, names: list[str]) -> None:
        s, tr = ctx.spark, ctx.tracer
        docs = s.read.parquet(os.path.join(in_dir, "documents.parquet")).persist()
        emb = s.read.parquet(os.path.join(in_dir, "embeddings.parquet"))
        try:
            docs.count()
            for sub, name, build in self.stages:
                if name not in names:
                    continue
                before = last_execution_id(s) if tr.enabled else None
                with tr.span(f"operators.{name}"):
                    with tr.span(f"operators.{name}.plan_build"):
                        df = build(docs, emb, s, out_dir)
                    df.write.mode("overwrite").parquet(os.path.join(out_dir, sub))
                if tr.enabled:
                    self.executions[name] = plan_metrics(s, before, last_execution_id(s))
        finally:
            docs.unpersist()

    def run(self, ctx: Ctx, in_dir: str, out_dir: str) -> Pass:
        t0 = time.perf_counter()
        self._run_stages(ctx, in_dir, out_dir, self.TIMED_STAGES)
        self.last_run = set(self.TIMED_STAGES)
        dt = time.perf_counter() - t0
        return Pass(dt, self.n_docs, self.n_docs)

    def check(self, ctx: Ctx, out_dir: str) -> tuple[int, int]:
        import duckdb

        con = duckdb.connect()
        ok = total = 0
        for sub, name, _b in self.stages:
            if name not in self.last_run or name not in self.oracle:
                continue
            cols, want = self.oracle[name]
            rel = con.sql(
                "SELECT " + ", ".join(f'"{c}"' for c in cols)
                + f" FROM read_parquet('{os.path.join(out_dir, sub)}/*.parquet')"
            )
            total += 1
            ok += _value_hash(rel.fetchall(), cols) == want
        con.close()
        return ok, total

    def traced(self, ctx: Ctx, in_dir: str, out_dir: str) -> tuple[Pass, dict[str, float]]:
        tr = ctx.tracer
        self.executions = {}
        p = self.run(ctx, in_dir, out_dir)
        self._run_stages(
            ctx, in_dir, out_dir, [n for _s, n, _b in self.stages if n not in self.TIMED_STAGES]
        )
        self.last_run = {n for _s, n, _b in self.stages}
        layers = {}
        for _s, name, _b in self.stages:
            layers[f"operators.{name}_s"] = tr.total(f"operators.{name}")
        for name in EAGER_STAGES:
            layers[f"operators.{name}.plan_build_s"] = tr.total(f"operators.{name}.plan_build")
        for name in SHUFFLE_STAGES:
            layers[f"operators.{name}.shuffle_write_bytes"] = node_sum(
                self.executions[name], "Exchange", "shuffle bytes written"
            )
        lm_stages = {
            st for e in self.executions["lm_ppl_buckets"] for n in e["nodes"] for st in n["stages"]
        }
        layers["operators.lm_ppl_buckets.task_s_max_over_median"] = task_skew(ctx.spark, lm_stages)
        return p, layers


WORKLOADS = {
    w.name: w for w in (WebExtract, CorpusCurate)
}
