"""Seeded benchmark inputs, written with pyarrow so no Spark job runs in
input generation. The same seed always gives the same bytes."""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from deepseek_ocr_spark.datagen.synth import VOCAB, gen_documents
from deepseek_ocr_spark.kernels.pdftext import make_modern_pdf, make_simple_pdf

WEB_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def write_web_docs(rows: list[dict], out_dir: str, n_files: int) -> None:
    """documents rows → ``n_files`` parquet files, rows dealt round-robin."""
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        part = rows[f::n_files]
        table = pa.Table.from_pylist(part, schema=WEB_SCHEMA)
        pq.write_table(table, os.path.join(out_dir, f"part-{f:04d}.parquet"))


def web_docs(seed: int, n_docs: int) -> list[dict]:
    """The synthetic web-page corpus, shuffled by the seed so file contents
    differ between seeds as well as page contents."""
    rows = gen_documents(n_docs, seed)
    random.Random(seed).shuffle(rows)
    return rows


def write_pdf_books(
    seed: int, out_dir: str, n_files: int, pages: tuple[int, int], ocr_share: float
) -> int:
    """Long PDFs, alternating the classic and the 1.5 object-stream writer.
    About ``ocr_share`` of pages carry no text layer, so the source routes
    them to rasterize+OCR. Returns the number of pages written."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for f in range(n_files):
        texts = []
        for _p in range(rng.randint(*pages)):
            if rng.random() < ocr_share:
                texts.append("")
                continue
            lines = [
                " ".join(rng.choice(VOCAB) for _ in range(rng.randint(6, 14)))
                for _ in range(rng.randint(4, 12))
            ]
            texts.append("\n".join(lines))
        writer = make_simple_pdf if f % 2 == 0 else make_modern_pdf
        with open(os.path.join(out_dir, f"book-{seed}-{f:03d}.pdf"), "wb") as fh:
            fh.write(writer(texts))
        total += len(texts)
    return total


LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]


def write_corpus(seed: int, out_dir: str, n_docs: int, dim: int = 64) -> None:
    """The curation job's ``documents.parquet`` and ``embeddings.parquet``,
    in the registry queries' table shape. Every tenth text is an exact copy of an
    earlier one and every tenth a one-word edit, every tenth vector sits
    next to an earlier one, and languages and sources cycle by position:
    the seed changes the words, vectors and row order but not the shape of
    the dedup and per-language work, so run times compare across seeds."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and i % 10 == 0:
            texts.append(texts[i - 7])
        elif i >= 10 and i % 10 == 5:
            words = texts[i - 3].split()
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 90))))
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [LANGS[i % len(LANGS)] for i in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nrng = np.random.default_rng(seed)
    centers = nrng.normal(size=(10, dim))
    labels = np.arange(n_docs) % 10
    vecs = centers[labels] + 0.6 * nrng.normal(size=(n_docs, dim))
    for i in range(13, n_docs, 10):
        vecs[i] = vecs[i - 10] + 0.01 * nrng.normal(size=dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n_docs), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    # the seed also sets the row order and the file split of both tables
    for name, table in (("documents", docs), ("embeddings", emb)):
        order = nrng.permutation(table.num_rows)
        table = table.take(pa.array(order))
        path = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(path, exist_ok=True)
        n_files = 2 + seed % 3
        cuts = [f * table.num_rows // n_files for f in range(n_files + 1)]
        for f in range(n_files):
            pq.write_table(
                table.slice(cuts[f], cuts[f + 1] - cuts[f]),
                os.path.join(path, f"part-{f:04d}.parquet"),
            )
