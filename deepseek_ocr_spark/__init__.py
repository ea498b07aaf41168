"""deepseek_ocr_spark — a brand-new PySpark-native document-extraction engine.

Re-expresses the query semantics of deepseek-ai/DeepSeek-OCR (reference at
/root/reference, studied read-only) as an idiomatic Spark DataFrame pipeline:

- ``kernels/``   pure-Python deterministic kernels (tile planner, vision-token
                 formula, page split, DOM-heuristic extractor, post-process
                 cascades) — shared verbatim by the Spark UDFs and the
                 single-node oracle, so byte-identity holds by construction.
- ``datagen/``   deterministic synthetic `documents` table (FIXTURES.md).
- ``oracle/``    single-node reference pipeline (plain Python loops).
- ``pipeline/``  the distributed Spark plan: scan → size-bucketed partitioning
                 → Arrow-batched pandas UDF extraction → relational post-process
                 → ordered assembly → extracted/metrics/lineage sinks; resume
                 anti-joins the committed extracted urls.
- ``operators/`` relational operators (tile-plan argmin join, span regex ops,
                 dedup family, similarity search, text quality) exposed through
                 ``__spark_entry__.queries()`` with DuckDB oracle SQL.
- ``streaming/`` Structured Streaming variant (foreachBatch over the batch plan).
"""

__version__ = "0.1.0"
