"""Shared-vocabulary Zipf overlay for the documents table.

Usage: python tools/make_zipf_docs.py [src_dir] [out_dir] [n_head]

The affine-cipher scaling fixture (make_scaled_sf.py) gives each replica
its own disjoint alphabet — correct for dedup probes (no cross-replica
shared shingles) but structurally UNABLE to exercise BM25's
``max_df_ratio`` pruning: per-query posting lists stay 1×-sized at any
factor because no term is shared across replicas (SCALING_r07.md
batch 4; r7 verdict "what's wrong" #2). A real web corpus is ONE
shared Zipf vocabulary, and the head terms are where the posting join
blows up.

This tool post-processes a documents.parquet (typically a 30×
replica dir) by appending a shared Zipf-HEAD vocabulary: token
``zc{j}`` (j = 0..n_head-1) is appended to every doc whose
``doc_id % (j+1) == 0``, so its document frequency is ≈ N/(j+1) —
the 1/rank Zipf df curve. ``zc0`` is in EVERY doc (df = N), ``zc1``
in half, and so on: queries sampled from the corpus now carry head
terms whose posting lists are corpus-sized, which is exactly the
candidate blow-up ``max_df_ratio`` exists to prune.

Only documents.parquet is written — this fixture is for BM25
``max_df_ratio`` measurements, nothing else; the appended
shared tokens WOULD be a hot-shingle artifact for MinHash/PPJoin
probes (the lesson the affine cipher encodes), so do not point dedup
probes at this dir. Output lands outside the repo (/tmp).
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F


def main() -> int:
    src = sys.argv[1] if len(sys.argv) > 1 else "/tmp/dlws_sf3"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/dlws_zipf"
    n_head = int(sys.argv[3]) if len(sys.argv) > 3 else 50

    sys.path.insert(0, ".")
    from data_lake_with_spark_spark.session import get_spark
    from data_lake_with_spark_spark.sources.catalog import load_table

    spark = get_spark(app_name="make-zipf-docs")
    spark.sparkContext.setLogLevel("ERROR")
    d = load_table(spark, src, "documents")
    head = [
        F.when(F.col("doc_id") % (j + 1) == 0, F.lit(f"zc{j}"))
        for j in range(n_head)
    ]
    # concat_ws skips NULLs: doc gets exactly the head tokens whose
    # modulus admits it — df(zc_j) ≈ N/(j+1), the Zipf curve.
    out_df = d.select(
        "doc_id",
        F.concat_ws(" ", F.col("text"), *head).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    out_df.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    n = spark.read.parquet(f"{out}/documents.parquet").count()
    print(f"zipf-overlaid documents at {out} ({n} rows, {n_head} head terms)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
