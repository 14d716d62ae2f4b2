"""Copy-on-write index maintenance: bytes written must scale with the
BATCH's partition footprint, not the corpus (the round-9 verdict's
headline gap — merge/delete used to rewrite the entire lists/postings
layout). These tests assert the I/O contract structurally on the
manifest epoch every merge and delete commits: the epoch directory
holds only the changed partitions, its manifest points every other
partition (and every frozen component) at the base, a fully emptied
partition vanishes, and the written-bytes fraction is small when the
batch is; serving equality with a from-scratch rebuild stays pinned by
the merge/delete tests and the q176–q178 driver oracles."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from data_lake_with_spark_spark.operators import similarity, text
from data_lake_with_spark_spark.sources import cow


def _part_dirs(path: str) -> set[str]:
    """The partition directory names under ``path`` (none if absent)."""
    if not os.path.isdir(path):
        return set()
    return {
        n for n in os.listdir(path)
        if "=" in n and os.path.isdir(os.path.join(path, n))
    }


def _owners(spark, idx: str, comp: str) -> dict[str, set[str]]:
    """The manifest's partition names of ``comp`` grouped by the
    index directory that owns them."""
    by_owner: dict[str, set[str]] = {}
    for name, owner in cow.read_manifest(spark, idx, comp)["entries"].items():
        by_owner.setdefault(os.path.dirname(owner), set()).add(name)
    return by_owner


def _value(name: str) -> str:
    return name.split("=", 1)[1]


def test_merge_ivf_cow_writes_only_changed_partitions(spark, tmp_path):
    """A small append+replace batch writes ONLY the partitions it
    touches; the manifest points every other cent_id= dir at the base
    and the frozen centroids component at the base's whole."""
    rnd = random.Random(3)
    mk = lambda: [rnd.uniform(-1, 1) for _ in range(4)]  # noqa: E731
    base_rows = [(i, mk()) for i in range(200)]
    base = spark.createDataFrame(base_rows, ["vec_id", "embedding"])
    # replace one non-centroid id + append one fresh id: ≤ 3 changed
    # partitions (old home of 7, new homes of 7 and 201) out of 20
    new7 = mk()
    batch = spark.createDataFrame(
        [(7, new7), (201, mk())], ["vec_id", "embedding"]
    )
    base_idx, out_idx = str(tmp_path / "base"), str(tmp_path / "out")
    similarity.build_ivf_index(base, base_idx, centroid_mod=10)
    stats = similarity.merge_ivf_index(spark, base_idx, batch, out_idx)
    base_parts = _part_dirs(f"{base_idx}/lists")
    changed = set(stats["changed_partitions"])
    assert 1 <= len(changed) <= 3 < len(base_parts)
    owners = _owners(spark, out_idx, "lists")
    assert set(owners) == {base_idx, out_idx}
    # the epoch holds exactly the changed partitions, and owns them
    written = _part_dirs(f"{out_idx}/lists")
    assert written == owners[out_idx]
    assert {_value(n) for n in written} == changed
    # every other partition is the base's, untouched
    carried = owners[base_idx]
    assert carried == {n for n in base_parts if _value(n) not in changed}
    assert stats["promoted_dirs"] == len(carried)
    # centroids referenced whole (frozen contract → no bytes written)
    assert not os.path.exists(f"{out_idx}/centroids")
    assert cow.read_manifest(spark, out_idx, "centroids")["whole"] == (
        f"{base_idx}/centroids"
    )
    # bytes materialized ∝ batch footprint, not corpus
    assert 0 < cow.written_bytes(f"{out_idx}/lists") < 0.5 * (
        cow.written_bytes(f"{base_idx}/lists")
    )
    # the resolved view holds the replaced vector and the fresh id
    lists = cow.read_component(spark, out_idx, "lists")
    assert lists.count() == 201
    (row,) = lists.where(F.col("vec_id") == 7).collect()
    assert list(row["embedding"]) == new7
    qs = base.where(F.col("vec_id").isin(1, 9))
    got = similarity.ivf_topk_indexed(spark, out_idx, qs, k=3, nprobe=2)
    assert got.count() > 0


def test_delete_ivf_cow_rewrites_only_touched_partitions(spark, tmp_path):
    """Deleting a handful of ids rewrites only their home partitions;
    a partition whose rows ALL die vanishes from the layout instead of
    being written empty."""
    rnd = random.Random(5)
    mk = lambda: [rnd.uniform(-1, 1) for _ in range(4)]  # noqa: E731
    rows = [(i, mk()) for i in range(200)]
    full = spark.createDataFrame(rows, ["vec_id", "embedding"])
    full_idx, del_idx = str(tmp_path / "full"), str(tmp_path / "del")
    similarity.build_ivf_index(full, full_idx, centroid_mod=10)
    # find one partition and delete EVERY id in it, plus one id from
    # another partition
    lists = cow.read_component(spark, full_idx, "lists")
    first_cent = lists.select("cent_id").orderBy("cent_id").first()["cent_id"]
    doomed = [
        r["vec_id"]
        for r in lists.where(F.col("cent_id") == first_cent)
        .select("vec_id")
        .collect()
    ]
    other = (
        lists.where(F.col("cent_id") != first_cent)
        .select("vec_id")
        .orderBy("vec_id")
        .first()["vec_id"]
    )
    tomb = spark.createDataFrame(
        [(i,) for i in [*doomed, other]], ["vec_id"]
    )
    stats = similarity.delete_from_ivf_index(spark, full_idx, tomb, del_idx)
    changed = set(stats["changed_partitions"])
    assert str(first_cent) in changed and len(changed) == 2
    owners = _owners(spark, del_idx, "lists")
    # fully-emptied partition is absent, not present-but-empty: the
    # epoch holds only the other changed partition
    assert f"cent_id={first_cent}" not in set().union(*owners.values())
    assert _part_dirs(f"{del_idx}/lists") == owners[del_idx]
    assert {_value(n) for n in owners[del_idx]} == changed - {str(first_cent)}
    # all other partitions stay with the base
    n_full = len(_part_dirs(f"{full_idx}/lists"))
    assert stats["promoted_dirs"] == len(owners[full_idx]) == n_full - 2
    survivors = {
        r["vec_id"]
        for r in cow.read_component(spark, del_idx, "lists")
        .select("vec_id")
        .collect()
    }
    assert survivors.isdisjoint(set(doomed) | {other})
    assert len(survivors) == 200 - len(doomed) - 1


def test_merge_bm25_cow_writes_only_touched_buckets(spark, tmp_path):
    """A batch with a NARROW vocabulary touches only the buckets its
    tokens hash to (plus replaced-id homes); the manifest points the
    rest of the postings layout at the base. Single-token docs pin the
    bucket footprint exactly."""
    vocab = [f"tok{i:03d}" for i in range(120)]
    base_docs = spark.createDataFrame(
        [(i, f"{vocab[i % 120]} {vocab[(i * 7) % 120]}") for i in range(300)],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(1000, "tok001 tok001 tok001")], ["doc_id", "text"]
    )
    base_idx, out_idx = str(tmp_path / "b"), str(tmp_path / "m")
    text.build_bm25_index(base_docs, base_idx, n_buckets=32)
    stats = text.merge_bm25_index(spark, base_idx, batch, out_idx)
    changed = set(stats["changed_partitions"])
    assert len(changed) == 1  # one distinct token → one bucket
    base_parts = _part_dirs(f"{base_idx}/postings")
    owners = _owners(spark, out_idx, "postings")
    assert {_value(n) for n in owners[out_idx]} == changed
    assert _part_dirs(f"{out_idx}/postings") == owners[out_idx]
    assert owners[base_idx] == {
        n for n in base_parts if _value(n) not in changed
    }
    assert stats["promoted_dirs"] == len(owners[base_idx])
    assert 0 < cow.written_bytes(f"{out_idx}/postings") < 0.3 * (
        cow.written_bytes(f"{base_idx}/postings")
    )
    # merged index serves the new doc and the untouched corpus alike
    qs = spark.createDataFrame(
        [(1, "tok001"), (2, "tok005")], ["query_id", "text"]
    )
    got = text.bm25_topk_indexed(spark, out_idx, qs, k=3)
    ids = {r["doc_id"] for r in got.collect()}
    assert 1000 in ids


def test_delete_bm25_cow_writes_only_touched_buckets(spark, tmp_path):
    """GDPR-delete of one doc rewrites only the buckets its tokens
    hash to; the deleted id is gone from the postings and doclens."""
    vocab = [f"w{i:03d}" for i in range(120)]
    docs = spark.createDataFrame(
        [(i, f"{vocab[i % 120]} {vocab[(i * 11) % 120]}") for i in range(300)],
        ["doc_id", "text"],
    )
    full_idx, del_idx = str(tmp_path / "f"), str(tmp_path / "d")
    text.build_bm25_index(docs, full_idx, n_buckets=32)
    tomb = spark.createDataFrame([(17,)], ["doc_id"])
    stats = text.delete_from_bm25_index(spark, full_idx, tomb, del_idx)
    changed = set(stats["changed_partitions"])
    # doc 17 has ≤ 2 distinct tokens → ≤ 2 changed buckets
    assert 1 <= len(changed) <= 2
    owners = _owners(spark, del_idx, "postings")
    written = owners.get(del_idx, set())
    assert {_value(n) for n in written} <= changed
    assert _part_dirs(f"{del_idx}/postings") == written
    assert stats["promoted_dirs"] == len(owners[full_idx])
    post_ids = {
        r["doc_id"]
        for r in cow.read_component(spark, del_idx, "postings")
        .select("doc_id")
        .distinct()
        .collect()
    }
    dl_ids = {
        r["doc_id"]
        for r in cow.read_component(spark, del_idx, "doclens")
        .select("doc_id")
        .collect()
    }
    assert 17 not in post_ids and 17 not in dl_ids
    assert len(dl_ids) == 299
    assert 0 < cow.written_bytes(f"{del_idx}/postings") < 0.3 * (
        cow.written_bytes(f"{full_idx}/postings")
    )


def test_norm_uri_guard_catches_remote_spellings(spark, tmp_path):
    """The fresh-out_path guard compares NORMALIZED URIs: the same
    remote location spelled with a trailing slash, doubled slashes, or
    an upper-case scheme must collide (abspath on an s3a:// URI never
    collided — the r10 hardening item); distinct locations must not."""
    assert cow.norm_uri("s3a://bkt/idx/") == cow.norm_uri("s3a://bkt/idx")
    assert cow.norm_uri("S3A://bkt//idx") == cow.norm_uri("s3a://bkt/idx")
    assert cow.norm_uri("s3a://bkt/idx2") != cow.norm_uri("s3a://bkt/idx")
    assert cow.norm_uri("file:/tmp/x") == cow.norm_uri("/tmp/x")
    with pytest.raises(ValueError, match="differ"):
        cow.assert_fresh_out("op", "s3a://bkt/idx", "s3a://bkt/idx/")
    cow.assert_fresh_out("op", "s3a://bkt/idx", "s3a://bkt2/idx")
    # and the maintenance ops route through it for local paths too
    with pytest.raises(ValueError, match="differ"):
        similarity.merge_ivf_index(
            spark,
            str(tmp_path / "same"),
            spark.createDataFrame([(1, [0.1])], ["vec_id", "embedding"]),
            str(tmp_path) + "//same/",
        )


def test_compact_into_owning_epoch_raises(spark, tmp_path):
    """compact_*_index must refuse an out_path that the resolved
    manifest chain still reads from — mode('overwrite') would destroy
    live index bytes mid-read (r10 ADVICE medium #1)."""
    import random

    rnd = random.Random(7)
    base = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(4)]) for i in range(80)],
        ["vec_id", "embedding"],
    )
    batch = spark.createDataFrame(
        [(901, [0.1, 0.2, 0.3, 0.4])], ["vec_id", "embedding"]
    )
    base_idx, e1 = str(tmp_path / "b"), str(tmp_path / "e1")
    similarity.build_ivf_index(base, base_idx, centroid_mod=10)
    similarity.merge_ivf_index(spark, base_idx, batch, e1, layout="manifest")
    # in-place compact
    with pytest.raises(ValueError, match="differ"):
        similarity.compact_ivf_index(spark, e1, e1)
    # compact into an epoch the chain still owns bytes in (the base)
    with pytest.raises(ValueError, match="owns live bytes"):
        similarity.compact_ivf_index(spark, e1, base_idx)
    # a genuinely fresh dir is fine
    similarity.compact_ivf_index(spark, e1, str(tmp_path / "flat"))


def test_fully_emptied_manifest_component_serves_empty_frame(
    spark, tmp_path
):
    """Deleting EVERY id through a manifest epoch leaves the component
    with zero partitions and no parquet footer in the epoch dir; the
    manifest carries the schema, so read_component returns the
    promised empty frame instead of raising 'Unable to infer schema'
    (r10 ADVICE low #3)."""
    docs = spark.createDataFrame(
        [(i, f"w{i % 5} w{(i * 3) % 5}") for i in range(20)],
        ["doc_id", "text"],
    )
    idx, e1 = str(tmp_path / "i"), str(tmp_path / "e1")
    text.build_bm25_index(docs, idx, n_buckets=4)
    text.delete_from_bm25_index(
        spark,
        idx,
        docs.select("doc_id"),
        e1,
        layout="manifest",
    )
    got = cow.read_component(spark, e1, "postings")
    assert got.count() == 0
    assert {"doc_id", "tok", "tf", "tok_bucket"} <= set(got.columns)
    # and serving over the emptied index returns zero rows, not a raise
    qs = spark.createDataFrame([(1, "w1 w2")], ["query_id", "text"])
    assert text.bm25_topk_indexed(spark, e1, qs, k=3).count() == 0
