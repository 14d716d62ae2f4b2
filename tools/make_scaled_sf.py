"""Generate an N×-replicated copy of a testdata scale factor.

Usage: python tools/make_scaled_sf.py [src_dir] [out_dir] [factor]

Defaults: /root/testdata/sf0.1 -> /tmp/dlws_sf1 at factor 10 (≈ sf1).
Replica k of every fact table gets key-offset ids so replicas are
disjoint; text tokens and embedding elements are deterministically
perturbed per replica so the DUPLICATE RATE stays that of the source
(cross-replica rows are neither exact nor near duplicates) — "10×
more data" rather than "the same data 10 times", which would turn
every dedup probe into an output-bound measurement. Dimension tables
(region/nation/part/supplier) copy through unchanged: a 10× fact
against the same dims is the realistic growth shape, so per-dim-key
fan-out grows 10×.

The replicated directory is the input for measuring how an operator's
wall time scales with the data (SCALING_r05.md).
Output lands OUTSIDE the repo (/tmp) — generated data is not
committed.
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

KEY_OFF = 100_000_000  # order/lineitem keys per replica
ID_OFF = 10_000_000  # customer/user/doc/vec/event ids per replica


def main() -> int:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/dlws_sf1"
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    sys.path.insert(0, ".")
    from data_lake_with_spark_spark.session import get_spark
    from data_lake_with_spark_spark.sources.catalog import load_table

    spark = get_spark(app_name="make-scaled-sf")
    spark.sparkContext.setLogLevel("ERROR")

    # dims: straight copies
    for t in ("region", "nation", "part", "supplier"):
        load_table(spark, src, t).write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )

    def replicate(name: str, transform) -> None:
        parts = [transform(load_table(spark, src, name), k) for k in range(factor)]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
        print(f"{name}: x{factor} written")

    def doc_rep(d, k):
        if k == 0:
            return d
        # per-replica Caesar shift (alphabet bijection via translate):
        # shingle/token structure is ISOMORPHIC to the source replica
        # — same sizes, same within-replica dup pairs, same df
        # distribution — while hash values decorrelate, so replicas
        # neither near-duplicate each other nor share hot shingles.
        # (A shared per-replica token PREFIX was the first attempt; it
        # gave every doc in a replica the same hot "rK…" shingles and
        # inflated MinHash band collisions 139× — a fixture artifact,
        # not a workload property.)
        alpha = "abcdefghijklmnopqrstuvwxyz"
        # AFFINE cipher i -> (a*i + b) mod 26 per replica: 12 valid
        # multipliers x 26 shifts = 312 DISTINCT bijections, so no two
        # replicas share a mapping up to factor 312. (The previous
        # shift-only guard `1 + (k-1) % 25` avoided the identity but
        # cycled with period 25 — at factor 30, replicas 1&26, 2&27,
        # 3&28, 4&29 carried IDENTICAL text and injected ~10M
        # cross-replica true pairs into the 30x PPJoin rung, a fixture
        # artifact. b = k % 26 keeps replicas 1..25 byte-identical to
        # the old Caesar shifts, so earlier probe fixtures reproduce.)
        coprimes = (1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
        if k >= 26 * len(coprimes):
            raise ValueError(f"factor {factor} exceeds {26 * len(coprimes)} distinct ciphers")
        a_mul, b_add = coprimes[k // 26], k % 26
        shifted = "".join(alpha[(a_mul * i + b_add) % 26] for i in range(26))
        return d.select(
            (F.col("doc_id") + k * ID_OFF).alias("doc_id"),
            F.translate("text", alpha, shifted).alias("text"),
            "lang",
            "source",
            "n_chars",
        )

    def emb_rep(e, k):
        if k == 0:
            return e
        # index-dependent multiplicative perturbation: directions
        # diverge across replicas (no cos≈1 cross-replica pairs)
        return e.select(
            (F.col("vec_id") + k * ID_OFF).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: (
                    x * (1.0 + F.lit(0.002 * k) * ((i % 7) - 3))
                ).cast("float"),
            ).alias("embedding"),
            "label",
        )

    def li_rep(li, k):
        return li.withColumn("l_orderkey", F.col("l_orderkey") + k * KEY_OFF)

    def ord_rep(o, k):
        return o.withColumn(
            "o_orderkey", F.col("o_orderkey") + k * KEY_OFF
        ).withColumn("o_custkey", F.col("o_custkey") + k * ID_OFF)

    def cust_rep(c, k):
        return c.withColumn("c_custkey", F.col("c_custkey") + k * ID_OFF)

    def ev_rep(e, k):
        return e.withColumn(
            "event_id", F.col("event_id") + k * ID_OFF
        ).withColumn("user_id", F.col("user_id") + k * ID_OFF)

    replicate("documents", doc_rep)
    replicate("embeddings", emb_rep)
    replicate("lineitem", li_rep)
    replicate("orders", ord_rep)
    replicate("customer", cust_rep)
    replicate("events", ev_rep)
    print(f"scaled dataset at {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
