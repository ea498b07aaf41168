"""Build a 10x-replicated test corpus dir (r8 optimization round probes).

Replicates sf0.1 tables 10x with key offsets so heavy queries can be
measured at the driver's sf1.0-like scale locally. Embeddings copies get
distinct vec_ids; per-copy centroid assignments are identical to the base
corpus, so IVF bucket sizes scale exactly 10x — faithfully reproducing the
quadratic candidate-pair growth of ann_ivf_topk_all. Odd document copies
get reverse(text) so copies are not near-dups (BENCH/profile.py --scale x10).

Output: /tmp/sfx10/{embeddings,documents}.parquet + symlinks for the rest.
"""

from __future__ import annotations

import os

OUT = "/tmp/sfx10"
SRC = "/root/testdata/sf0.1"


def main() -> None:
    from pyspark.sql import functions as F

    from deepseek_ocr_spark.pipeline.session import build_session, default_cpus

    spark = build_session("make_sfx10", f"local[{default_cpus()}]", default_cpus())
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(OUT, exist_ok=True)

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    n = emb.count()
    copies = [
        emb.select((F.col("vec_id") + F.lit(i * n)).cast(emb.schema["vec_id"].dataType).alias("vec_id"),
                   "embedding")
        for i in range(10)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.repartition(32).write.mode("overwrite").parquet(f"{OUT}/embeddings.parquet")

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    nd = docs.count()
    dcopies = []
    for i in range(10):
        c = docs.withColumn("doc_id", (F.col("doc_id") + F.lit(i * nd)).cast(docs.schema["doc_id"].dataType))
        if i % 2 == 1:
            c = c.withColumn("text", F.reverse(F.col("text")))
        dcopies.append(c.select(*docs.columns))
    dout = dcopies[0]
    for c in dcopies[1:]:
        dout = dout.unionByName(c)
    dout.repartition(32).write.mode("overwrite").parquet(f"{OUT}/documents.parquet")

    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]:
        dst = f"{OUT}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SRC}/{t}.parquet", dst)
    print("done", OUT)
    spark.stop()


if __name__ == "__main__":
    main()
