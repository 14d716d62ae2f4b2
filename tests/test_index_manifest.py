"""Manifest-layout index maintenance — the object-store CoW (no link
primitive on S3; the FileUtil fallback would copy corpus bytes): a
maintenance epoch writes ONLY its changed partitions plus one small
JSON manifest re-pointing them, and readers resolve every layout
through cow.read_component. Chains must stay FLAT (owners are final
URIs) and serving must stay rebuild-identical through multiple
epochs."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from data_lake_with_spark_spark.operators import similarity, text
from data_lake_with_spark_spark.sources import cow


def _ivf_rows(spark, idx, queries, **kw):
    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cos"])
        for r in similarity.ivf_topk_indexed(spark, idx, queries, **kw).collect()
    )


def test_ivf_manifest_merge_then_delete_chain(spark, tmp_path):
    """Two manifest epochs (merge, then delete) serve BIT-identically
    to a from-scratch rebuild over the final corpus; each epoch's
    directory holds ONLY its changed partitions; owners stay flat
    across the chain."""
    rnd = random.Random(13)
    mk = lambda: [rnd.uniform(-1, 1) for _ in range(4)]  # noqa: E731
    base_rows = [(i, mk()) for i in range(200)]
    batch_rows = [(7, mk())] + [(i, mk()) for i in range(301, 305)]
    dead = [3, 44]
    final_rows = [
        r
        for r in base_rows
        if r[0] != 7 and r[0] not in dead
    ] + [r for r in batch_rows if r[0] not in dead]
    base = spark.createDataFrame(base_rows, ["vec_id", "embedding"])
    batch = spark.createDataFrame(batch_rows, ["vec_id", "embedding"])
    final = spark.createDataFrame(final_rows, ["vec_id", "embedding"])
    base_idx, e1, e2, scratch = (
        str(tmp_path / d) for d in ("base", "epoch1", "epoch2", "scratch")
    )
    similarity.build_ivf_index(base, base_idx, centroid_mod=10)
    st1 = similarity.merge_ivf_index(
        spark, base_idx, batch, e1, layout="manifest"
    )
    # epoch1 holds ONLY the changed partitions; everything else is a
    # carried manifest entry pointing at the base — zero bytes moved
    changed1 = set(st1["changed_partitions"])
    e1_dirs = {
        n for n in os.listdir(f"{e1}/lists") if n.startswith("cent_id=")
    }
    assert {d.split("=", 1)[1] for d in e1_dirs} == changed1
    assert st1["linked_bytes"] == 0 and st1["copied_files"] == 0
    m1 = cow.read_manifest(spark, e1, "lists")
    base_owner = os.path.abspath(f"{base_idx}/lists")
    for name, owner in m1["entries"].items():
        if name.split("=", 1)[1] in changed1:
            assert owner == os.path.abspath(f"{e1}/lists"), name
        else:
            assert owner == base_owner, name
    # centroids: whole-ref to the ORIGINAL build, no bytes written
    assert cow.read_manifest(spark, e1, "centroids")["whole"] == (
        os.path.abspath(f"{base_idx}/centroids")
    )
    # epoch2: GDPR delete on the manifest index
    st2 = similarity.delete_from_ivf_index(
        spark,
        e1,
        spark.createDataFrame([(i,) for i in dead], ["vec_id"]),
        e2,
        layout="manifest",
    )
    m2 = cow.read_manifest(spark, e2, "lists")
    # flat chain: every owner is a final component dir (base, e1, or
    # e2) — never a manifest-bearing index root
    owners = set(m2["entries"].values())
    assert owners <= {
        base_owner,
        os.path.abspath(f"{e1}/lists"),
        os.path.abspath(f"{e2}/lists"),
    }
    # centroids whole-ref carried through the chain to the original
    assert cow.read_manifest(spark, e2, "centroids")["whole"] == (
        os.path.abspath(f"{base_idx}/centroids")
    )
    # serving equality through two epochs vs from-scratch
    similarity.build_ivf_index(final, scratch, centroid_mod=10)
    qs = final.where(F.col("vec_id").isin(1, 9, 302))
    got = _ivf_rows(spark, e2, qs, k=5, nprobe=3)
    exp = _ivf_rows(spark, scratch, qs, k=5, nprobe=3)
    assert got == exp and len(got) > 0
    assert st2["rewritten_entries"] <= len(changed1) + 2
    # links mode cannot consume a manifest base
    with pytest.raises(ValueError, match="manifest"):
        similarity.merge_ivf_index(
            spark, e1, batch.limit(1), str(tmp_path / "x")
        )


@pytest.mark.slow
def test_bm25_manifest_merge_delete_serving(spark, tmp_path):
    """BM25 manifest maintenance: merge then delete through manifest
    epochs, serve with bm25_topk_indexed — identical to a from-scratch
    build over the final corpus; epochs hold only changed buckets."""
    vocab = [f"tok{i:03d}" for i in range(120)]
    mk_text = lambda i: f"{vocab[i % 120]} {vocab[(i * 7) % 120]}"  # noqa: E731
    base_docs = spark.createDataFrame(
        [(i, mk_text(i)) for i in range(300)], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [(1000, "tok001 tok002"), (17, "tok099")], ["doc_id", "text"]
    )
    dead = [5, 1000]
    final_docs = spark.createDataFrame(
        [(i, mk_text(i)) for i in range(300) if i not in (17, *dead)]
        + [(17, "tok099")],
        ["doc_id", "text"],
    )
    base_idx, e1, e2, scratch = (
        str(tmp_path / d) for d in ("b", "e1", "e2", "scratch")
    )
    text.build_bm25_index(base_docs, base_idx, n_buckets=32)
    st1 = text.merge_bm25_index(spark, base_idx, batch, e1, layout="manifest")
    assert st1["linked_bytes"] == 0
    e1_dirs = {
        n for n in os.listdir(f"{e1}/postings") if n.startswith("tok_bucket=")
    }
    assert {d.split("=", 1)[1] for d in e1_dirs} == set(
        st1["changed_partitions"]
    )
    text.delete_from_bm25_index(
        spark,
        e1,
        spark.createDataFrame([(i,) for i in dead], ["doc_id"]),
        e2,
        layout="manifest",
    )
    text.build_bm25_index(final_docs, scratch, n_buckets=32)
    qs = spark.createDataFrame(
        [(1, "tok001 tok099"), (2, "tok005")], ["query_id", "text"]
    )
    got = sorted(
        map(tuple, text.bm25_topk_indexed(spark, e2, qs, k=5).collect())
    )
    exp = sorted(
        map(tuple, text.bm25_topk_indexed(spark, scratch, qs, k=5).collect())
    )
    assert got == exp and len(got) > 0
    # the deleted ids are really gone from the manifest-resolved view
    ids = {
        r["doc_id"]
        for r in cow.read_component(spark, e2, "postings")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert ids.isdisjoint(dead) and 17 in ids
    with pytest.raises(ValueError, match="manifest"):
        text.delete_from_bm25_index(
            spark,
            e1,
            spark.createDataFrame([(1,)], ["doc_id"]),
            str(tmp_path / "y"),
        )


def test_manifest_schema_widens_to_a_wider_batch_id(spark, tmp_path):
    """A batch whose id column is wider than the base's (long into an
    int base) writes INT64 files beside the base's INT32 ones. The
    manifest records the widened schema, so the epoch reads every id
    back as long, a further manifest epoch maintains it, and the
    served scores equal the inline bm25_topk over the final corpus."""
    from pyspark.sql.types import LongType

    vocab = [f"tok{i:02d}" for i in range(40)]
    rows = [(i, f"{vocab[i % 40]} {vocab[(i * 7) % 40]}") for i in range(600)]
    batch_rows = [(5000, "tok01 tok02"), (7, "tok03")]
    base = spark.createDataFrame(rows, "doc_id int, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    base_idx, e1, e2 = (str(tmp_path / d) for d in ("b", "e1", "e2"))
    text.build_bm25_index(base, base_idx, n_buckets=16)
    text.merge_bm25_index(spark, base_idx, batch, e1, layout="manifest")
    owners = set(cow.read_manifest(spark, e1, "postings")["entries"].values())
    assert len(owners) == 2  # base INT32 buckets and epoch INT64 buckets
    post = cow.read_component(spark, e1, "postings")
    assert post.schema["doc_id"].dataType == LongType()
    assert post.select("doc_id").distinct().count() == 601
    text.delete_from_bm25_index(
        spark, e1, spark.createDataFrame([(3,)], "doc_id long"), e2,
        layout="manifest",
    )
    final = spark.createDataFrame(
        [r for r in rows if r[0] not in (3, 7)] + batch_rows,
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [(1, "tok01 tok03 tok09"), (2, " ".join(vocab[::3]))],
        "query_id long, text string",
    )
    got = sorted(map(tuple, text.bm25_topk_indexed(spark, e2, qs, k=5).collect()))
    exp = sorted(map(tuple, text.bm25_topk(final, qs, k=5).collect()))
    assert got == exp and got


@pytest.mark.slow
def test_compaction_collapses_epoch_chain(spark, tmp_path):
    """compact_*_index rewrites the RESOLVED view into one plain
    self-contained layout: no manifest files at the output, serving
    unchanged, and the old epochs become deletable — the vacuum step
    that bounds manifest read amplification."""
    import shutil

    rnd = random.Random(29)
    mk = lambda: [rnd.uniform(-1, 1) for _ in range(4)]  # noqa: E731
    base = spark.createDataFrame(
        [(i, mk()) for i in range(150)], ["vec_id", "embedding"]
    )
    batch = spark.createDataFrame(
        [(i, mk()) for i in range(501, 505)], ["vec_id", "embedding"]
    )
    base_idx, e1, compacted = (
        str(tmp_path / d) for d in ("b", "e1", "flat")
    )
    similarity.build_ivf_index(base, base_idx, centroid_mod=10)
    similarity.merge_ivf_index(
        spark, base_idx, batch, e1, layout="manifest"
    )
    qs = base.where(F.col("vec_id").isin(2, 8))
    before = _ivf_rows(spark, e1, qs, k=4, nprobe=3)
    similarity.compact_ivf_index(spark, e1, compacted)
    assert not os.path.exists(f"{compacted}/lists_manifest.json")
    assert not os.path.exists(f"{compacted}/centroids_manifest.json")
    after = _ivf_rows(spark, compacted, qs, k=4, nprobe=3)
    assert after == before and len(after) > 0
    # the compacted layout is SELF-CONTAINED: retire every old epoch
    shutil.rmtree(base_idx)
    shutil.rmtree(e1)
    again = _ivf_rows(spark, compacted, qs, k=4, nprobe=3)
    assert again == before
    # BM25 side: manifest epoch -> compact -> epochs deletable
    docs = spark.createDataFrame(
        [(i, f"w{i % 40:02d} w{(i * 3) % 40:02d}") for i in range(200)],
        ["doc_id", "text"],
    )
    b_idx, b_e1, b_flat = (
        str(tmp_path / d) for d in ("tb", "te1", "tflat")
    )
    text.build_bm25_index(docs, b_idx, n_buckets=16)
    text.delete_from_bm25_index(
        spark,
        b_idx,
        spark.createDataFrame([(11,)], ["doc_id"]),
        b_e1,
        layout="manifest",
    )
    q = spark.createDataFrame([(1, "w11 w33")], ["query_id", "text"])
    exp = sorted(map(tuple, text.bm25_topk_indexed(spark, b_e1, q, k=5).collect()))
    text.compact_bm25_index(spark, b_e1, b_flat)
    assert not os.path.exists(f"{b_flat}/postings_manifest.json")
    shutil.rmtree(b_idx)
    shutil.rmtree(b_e1)
    got = sorted(map(tuple, text.bm25_topk_indexed(spark, b_flat, q, k=5).collect()))
    assert got == exp and len(got) > 0


@pytest.mark.slow
def test_randomized_maintenance_chain_equals_rebuild(spark, tmp_path):
    """Randomized (seeded, deterministic) maintenance chains: from a
    links-layout base, apply a random sequence of manifest merges
    (append + replace) and deletes, then assert the final served
    top-k is BIT-identical to a from-scratch build over the corpus
    state tracked in plain Python — the strongest correctness net
    for the youngest promotion code (stale-partition exclusion,
    carry-forward, emptied partitions, centroid whole-refs all get
    exercised by whatever the sequence hits)."""
    rnd = random.Random(101)
    dim = 3
    mk = lambda: [rnd.uniform(-1, 1) for _ in range(dim)]  # noqa: E731
    state = {i: mk() for i in range(80)}
    centroid_ids = {i for i in range(80) if i % 10 == 0}
    base_idx = str(tmp_path / "chain0")
    similarity.build_ivf_index(
        spark.createDataFrame(
            sorted(state.items()), ["vec_id", "embedding"]
        ),
        base_idx,
        centroid_mod=10,
    )
    # appended ids avoid % 10 == 0 so the scratch rebuild's
    # centroid_mod selection yields EXACTLY the chain's frozen
    # centroid set (asserted below) — otherwise the equality would
    # compare different quantizers
    cur, next_id = base_idx, 1001
    for step in range(4):
        out = str(tmp_path / f"chain{step + 1}")
        if step % 2 == 0:
            # merge: one replace (non-centroid) + two appends
            replace_pool = sorted(set(state) - centroid_ids)
            rid = replace_pool[rnd.randrange(len(replace_pool))]
            batch = {rid: mk(), next_id: mk(), next_id + 1: mk()}
            next_id += 2
            similarity.merge_ivf_index(
                spark,
                cur,
                spark.createDataFrame(
                    sorted(batch.items()), ["vec_id", "embedding"]
                ),
                out,
                layout="manifest",
            )
            state.update(batch)
        else:
            # delete: three random non-centroid survivors
            pool = sorted(set(state) - centroid_ids)
            dead = sorted(rnd.sample(pool, 3))
            similarity.delete_from_ivf_index(
                spark,
                cur,
                spark.createDataFrame([(i,) for i in dead], ["vec_id"]),
                out,
                layout="manifest",
            )
            for i in dead:
                del state[i]
        cur = out
    scratch = str(tmp_path / "scratch")
    similarity.build_ivf_index(
        spark.createDataFrame(
            sorted(state.items()), ["vec_id", "embedding"]
        ),
        scratch,
        centroid_mod=10,
    )
    # same quantizer on both sides: the chain carried the base's
    # frozen centroids; the rebuild re-derives the identical set
    chain_cents = sorted(
        r["cent_id"]
        for r in cow.read_component(spark, cur, "centroids").collect()
    )
    scratch_cents = sorted(
        r["cent_id"]
        for r in spark.read.parquet(f"{scratch}/centroids").collect()
    )
    assert chain_cents == scratch_cents == sorted(centroid_ids)
    qs = spark.createDataFrame(
        sorted(state.items())[:6], ["vec_id", "embedding"]
    )
    got = _ivf_rows(spark, cur, qs, k=5, nprobe=3)
    exp = _ivf_rows(spark, scratch, qs, k=5, nprobe=3)
    assert got == exp and len(got) > 0


@pytest.mark.slow
def test_randomized_bm25_chain_equals_rebuild(spark, tmp_path):
    """The BM25 twin of the randomized IVF chain: seeded merge/delete
    manifest epochs vs a tracked corpus dict; final served scores
    must be bit-identical to a from-scratch build (exercises the
    per-epoch doclens/stats recompute and the bucket-footprint
    carry-forward under arbitrary sequences)."""
    rnd = random.Random(202)
    vocab = [f"t{i:02d}" for i in range(60)]
    mk_text = lambda: " ".join(  # noqa: E731
        rnd.choice(vocab) for _ in range(6)
    )
    state = {i: mk_text() for i in range(120)}
    base_idx = str(tmp_path / "bm0")
    text.build_bm25_index(
        spark.createDataFrame(sorted(state.items()), ["doc_id", "text"]),
        base_idx,
        n_buckets=16,
    )
    cur, next_id = base_idx, 500
    for step in range(4):
        out = str(tmp_path / f"bm{step + 1}")
        if step % 2 == 0:
            rid = sorted(state)[rnd.randrange(len(state))]
            batch = {rid: mk_text(), next_id: mk_text(), next_id + 1: mk_text()}
            next_id += 2
            text.merge_bm25_index(
                spark,
                cur,
                spark.createDataFrame(
                    sorted(batch.items()), ["doc_id", "text"]
                ),
                out,
                layout="manifest",
            )
            state.update(batch)
        else:
            dead = sorted(rnd.sample(sorted(state), 3))
            text.delete_from_bm25_index(
                spark,
                cur,
                spark.createDataFrame([(i,) for i in dead], ["doc_id"]),
                out,
                layout="manifest",
            )
            for i in dead:
                del state[i]
        cur = out
    scratch = str(tmp_path / "bm_scratch")
    text.build_bm25_index(
        spark.createDataFrame(sorted(state.items()), ["doc_id", "text"]),
        scratch,
        n_buckets=16,
    )
    qs = spark.createDataFrame(
        [(1, f"{vocab[3]} {vocab[40]}"), (2, vocab[17])],
        ["query_id", "text"],
    )
    got = sorted(map(tuple, text.bm25_topk_indexed(spark, cur, qs, k=5).collect()))
    exp = sorted(
        map(tuple, text.bm25_topk_indexed(spark, scratch, qs, k=5).collect())
    )
    assert got == exp and len(got) > 0
