"""Property-based tests (hypothesis): randomized invariants the
operator algebra must hold for ANY input, complementing the
fixed-fixture unit tests and the DuckDB oracle. Example counts are
kept small because every example runs real Spark jobs."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import pytest
import pyspark.sql.functions as F

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**SETTINGS)
@given(
    vec=st.lists(
        st.floats(
            min_value=-1e6,
            max_value=1e6,
            allow_nan=False,
            allow_infinity=False,
            width=32,
        ),
        min_size=1,
        max_size=16,
    )
)
def test_quantize_int8_invariants(spark, vec):
    """For every vector: |q_i| ≤ 127; nonzero vectors hit exactly 127
    at the max coordinate; dequantization error ≤ half a quantization
    step per element."""
    from data_lake_with_spark_spark.operators.similarity import quantize_int8

    emb = spark.createDataFrame([(1, vec)], ["vec_id", "embedding"])
    row = quantize_int8(emb).collect()[0]
    q, scale = row["qvec"], row["scale"]
    assert all(abs(v) <= 127 for v in q)
    if any(x != 0 for x in vec):
        assert max(abs(v) for v in q) == 127
        step = 1.0 / scale
        for qi, xi in zip(q, vec):
            assert abs(qi * step - xi) <= step / 2 + 1e-9 * abs(xi)
    else:
        assert scale is None and all(v == 0 for v in q)


@settings(**SETTINGS)
@given(
    base=st.dictionaries(
        st.integers(0, 9), st.integers(-100, 100), max_size=8
    ),
    updates=st.dictionaries(
        st.integers(0, 9), st.integers(-100, 100), max_size=8
    ),
)
def test_upsert_snapshot_algebra(spark, base, updates):
    """MERGE laws for any key overlap: result keys = base ∪ updates;
    update values win on overlap; applying the same updates twice is
    idempotent."""
    from data_lake_with_spark_spark.operators.relational import upsert_snapshot

    schema = "k bigint, v bigint"
    b = spark.createDataFrame(list(base.items()), schema)
    u = spark.createDataFrame(list(updates.items()), schema)
    once = upsert_snapshot(b, u, ["k"])
    got = {r["k"]: r["v"] for r in once.collect()}
    assert got == {**base, **updates}
    twice = upsert_snapshot(once, u, ["k"])
    assert {r["k"]: r["v"] for r in twice.collect()} == got


@settings(**SETTINGS)
@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 4),  # user
            st.integers(0, 50),  # ts offset (seconds)
            st.sampled_from(["view", "click", "purchase", "other"]),
        ),
        min_size=0,
        max_size=30,
    )
)
def test_funnel_counts_monotone_nonincreasing(spark, events):
    """Down any funnel over any event log, stage counts never
    increase, and stage counts never exceed the distinct-user count."""
    from data_lake_with_spark_spark.operators.events_analytics import (
        funnel_stages,
    )

    rows = [
        (i, f"2026-01-01 00:00:{t:02d}.{i:06d}", u, typ)
        for i, (u, t, typ) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts_s string, user_id bigint, event_type string"
    ).select(
        "event_id",
        F.to_timestamp("ts_s").alias("ts"),
        "user_id",
        "event_type",
    )
    out = sorted(
        (r["stage_idx"], r["n_users"])
        for r in funnel_stages(df, ["view", "click", "purchase"]).collect()
    )
    counts = [c for _, c in out]
    assert counts == sorted(counts, reverse=True)
    n_users = len({u for u, _, _ in events})
    assert all(c <= n_users for c in counts)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        max_size=20,
    )
)
@pytest.mark.slow
def test_connected_components_regimes_agree(spark, edges):
    """For ANY small graph, the distributed regime (two-phase
    large-star/small-star) must produce the driver union-find's exact
    labeling — the randomized twin of the fixed-shape chain/star
    tests, catching convergence edge cases (self-loops, duplicate
    edges, isolated nodes) no fixture enumerates."""
    from data_lake_with_spark_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in range(15)], ["doc_id"])
    if edges:
        e = spark.createDataFrame(edges, ["id_a", "id_b"])
    else:
        e = spark.createDataFrame([], "id_a int, id_b int")

    def labels(**kw):
        return {
            r["id"]: r["cluster"]
            for r in connected_components(nodes, e, **kw).collect()
        }

    expect = labels()  # driver union-find (graph far below threshold)
    assert labels(collect_threshold=0) == expect


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
@pytest.mark.slow
def test_apply_cdc_split_invariance_property(spark, tmp_path_factory, data):
    """For ANY change set whose deletes are each their key's final
    change (the documented tombstone scope), every contiguous
    micro-batch split applied through lakehouse.apply_cdc
    yields the same final snapshot as the batch argmax-per-key twin."""
    from pyspark.sql import Window

    from data_lake_with_spark_spark.sources import lakehouse

    n = data.draw(st.integers(min_value=3, max_value=12))
    changes = []
    for eid in range(1, n + 1):
        key = data.draw(st.integers(min_value=0, max_value=3))
        ts = data.draw(st.integers(min_value=0, max_value=9))
        changes.append([eid, ts, key, float(eid), "U"])
    # make some keys end in a delete — appended as the key's newest
    # change so the tombstone precondition holds by construction
    for key in {c[2] for c in changes}:
        if data.draw(st.booleans()):
            max_ts = max(c[1] for c in changes if c[2] == key)
            changes.append(
                [1000 + key, max_ts + 1, key, 0.0, "D"]
            )
    cols = ["event_id", "ts", "user_id", "value", "op"]
    cut = data.draw(st.integers(min_value=1, max_value=len(changes) - 1))
    splits = [[changes], [changes[:cut], changes[cut:]]]

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    all_df = spark.createDataFrame(changes, cols)
    expect = {
        r["user_id"]: r["event_id"]
        for r in all_df.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col("op") != "D"))
        .collect()
    }
    base_dir = tmp_path_factory.mktemp("cdcprop")
    for si, split in enumerate(splits):
        path = str(base_dir / f"v{si}")
        for bi, batch in enumerate(split):
            df = spark.createDataFrame(batch, cols)
            latest = (
                df.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn")
            )
            lakehouse.apply_cdc(
                spark, path, latest, ("user_id",), ("ts", "event_id"),
                version=bi, op_col="op",
            )
        got = {
            r["user_id"]: r["event_id"]
            for r in lakehouse.read_snapshot(spark, path).collect()
        }
        assert got == expect, (si, got, expect)


def test_decoders_never_raise_on_arbitrary_bytes():
    """decode_image / decode_jpeg / _decode_png / decode_audio are
    fed untrusted binary columns at scale — any input must yield a
    valid array or None, NEVER an exception (a throwing kernel kills
    the whole task/stage)."""
    from hypothesis import given, settings, strategies as st

    from data_lake_with_spark_spark.functions.jpeg import decode_jpeg
    from data_lake_with_spark_spark.operators.multimodal import (
        _PNG_SIG,
        decode_audio,
        decode_image,
    )

    @given(st.binary(min_size=0, max_size=512))
    @settings(max_examples=200, deadline=None)
    def run(payload):
        for fn in (decode_image, decode_jpeg, decode_audio):
            out = fn(payload)
            assert out is None or out is not None  # no raise is the assert
        # adversarial prefixes: valid magic + garbage body
        for prefix in (_PNG_SIG, b"\xff\xd8\xff\xe0", b"P6\n", b"BM", b"RIFF"):
            assert decode_image(prefix + payload) is None or True

    run()


def test_bpe_encode_lossless_on_arbitrary_text():
    """BPE tokenization must concatenate back to the input for ANY
    unicode string (merges only ever join adjacent pre-token
    symbols)."""
    from hypothesis import given, settings, strategies as st

    from data_lake_with_spark_spark.functions.bpe import load_vendored

    tok = load_vendored()

    @given(st.text(max_size=200))
    @settings(max_examples=200, deadline=None)
    def run(text):
        assert "".join(tok.encode(text)) == text

    run()


@settings(**SETTINGS)
@given(
    lists=st.lists(
        st.lists(st.integers(min_value=0, max_value=15), min_size=0,
                 max_size=8, unique=True),
        min_size=1,
        max_size=3,
    )
)
def test_rrf_fuse_matches_model(spark, lists):
    """For ANY set of per-query rankings, the fused score equals
    Σ 1/(k0+rank_i) over the lists containing the doc, and fused
    ranks are dense 1..n per query in (score desc, doc asc) order."""
    from data_lake_with_spark_spark.operators.ranking import rrf_fuse

    frames = []
    model: dict[int, float] = {}
    for li, docs in enumerate(lists):
        rows = [(1, d, r + 1) for r, d in enumerate(docs)]
        if rows:
            frames.append(
                spark.createDataFrame(rows, ["query_id", "doc_id", "rank"])
            )
        else:
            frames.append(
                spark.createDataFrame([], "query_id int, doc_id int, rank int")
            )
        for r, d in enumerate(docs):
            model[d] = model.get(d, 0.0) + 1.0 / (60 + r + 1)
    out = rrf_fuse(frames, k0=60, topk=100).collect()
    got = {r["doc_id"]: r["rrf_score"] for r in out}
    assert set(got) == set(model)
    for d, s in model.items():
        assert abs(got[d] - s) < 1e-12
    ranks = sorted(r["rank"] for r in out)
    assert ranks == list(range(1, len(out) + 1))
    ordered = sorted(out, key=lambda r: r["rank"])
    for a, b in zip(ordered, ordered[1:]):
        assert (a["rrf_score"], -a["doc_id"]) >= (b["rrf_score"], -b["doc_id"])


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),  # group
            st.integers(min_value=0, max_value=50),  # value
            st.integers(min_value=1, max_value=9),  # weight
        ),
        min_size=1,
        max_size=14,
    )
)
def test_weighted_median_matches_model(spark, rows):
    """For ANY weighted multiset: output equals the smallest value v
    with 2·Σ(weight | value ≤ v) ≥ Σweight, per group."""
    from data_lake_with_spark_spark.operators.profile import weighted_median

    data = [(i, g, v, w) for i, (g, v, w) in enumerate(rows)]
    df = spark.createDataFrame(data, ["id", "grp", "val", "wt"])
    got = {
        r["grp"]: (r["weighted_median"], r["total_weight"])
        for r in weighted_median(df, "grp", "val", "wt", "id").collect()
    }
    groups = {g for _, g, _, _ in data}
    assert set(got) == groups
    for g in groups:
        items = sorted((v, w) for _, gg, v, w in data if gg == g)
        total = sum(w for _, w in items)
        acc = 0
        for v, w in items:
            acc += w
            if 2 * acc >= total:
                assert got[g] == (v, total)
                break


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),   # group
            st.integers(min_value=1, max_value=12),  # token count
        ),
        min_size=1,
        max_size=14,
    ),
    budget=st.integers(min_value=1, max_value=40),
)
def test_token_budget_fill_matches_model(spark, rows, budget):
    """For ANY corpus and budget: kept ids equal the greedy prefix of
    the (priority desc, id) order whose running token sum stays
    within the budget — per group, independently."""
    from data_lake_with_spark_spark.operators.sampling import token_budget_fill

    data = [(i, str(g), "w " * n, n) for i, (g, n) in enumerate(rows)]
    df = spark.createDataFrame(data, ["doc_id", "source", "text", "n_chars"])
    got = {r["id"] for r in token_budget_fill(df, budget).collect()}
    expect = set()
    for g in {d[1] for d in data}:
        members = sorted(
            (d for d in data if d[1] == g), key=lambda d: (-d[3], d[0])
        )
        acc = 0
        for doc_id, _, text, _ in members:
            n = len(text.split())
            if acc + n > budget:
                break
            acc += n
            expect.add(doc_id)
    assert got == expect


@settings(**SETTINGS)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),    # user
            st.integers(min_value=0, max_value=100),  # minute offset
            st.sampled_from(["click", "purchase", "view"]),
        ),
        min_size=1,
        max_size=16,
        unique_by=lambda e: (e[0], e[1]),
    ),
    window_min=st.integers(min_value=1, max_value=40),
)
def test_multitouch_attribution_matches_model(spark, events, window_min):
    """For ANY event log: each purchase's touch count equals the
    user's clicks strictly inside (t − W, t)."""
    import datetime as dt

    from data_lake_with_spark_spark.operators.events_analytics import (
        multitouch_attribution,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=m), u, ty)
        for i, (u, m, ty) in enumerate(events)
    ]
    out = {
        r["conversion_id"]: r
        for r in multitouch_attribution(
            spark.createDataFrame(
                rows, ["event_id", "ts", "user_id", "event_type"]
            ),
            window_s=window_min * 60,
        ).collect()
    }
    purchases = [(i, u, m) for i, (u, m, ty) in enumerate(events)
                 if ty == "purchase"]
    assert set(out) == {i for i, _, _ in purchases}
    for i, u, m in purchases:
        # model: the RANGE frame is [t − W·10⁶ µs, t − 1 µs] — clicks
        # strictly before t, inclusive at exactly W back
        n = sum(
            1
            for (uu, mm, tt) in events
            if uu == u and tt == "click" and 0 < m - mm <= window_min
        )
        assert out[i]["n_touches"] == n, (i, u, m, window_min)
        if n:
            assert out[i]["credit"] == 1.0 / n
        else:
            assert out[i]["credit"] is None


@settings(**SETTINGS)
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),
            st.sampled_from(["A", "B", "C"]),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_event_lift_matches_model(spark, pairs):
    """For ANY (user, type) log: per unordered type pair, counts and
    lift equal the set-based model (duplicates collapse)."""
    from data_lake_with_spark_spark.operators.events_analytics import (
        event_lift,
    )

    df = spark.createDataFrame(pairs, ["user_id", "event_type"])
    got = {
        (r["type_a"], r["type_b"]): r for r in event_lift(df).collect()
    }
    us = {}
    for u, t in pairs:
        us.setdefault(u, set()).add(t)
    n_users = len(us)
    types = sorted({t for _, t in pairs})
    expect = {}
    for i, a in enumerate(types):
        for b in types[i + 1:]:
            n_both = sum(1 for s in us.values() if a in s and b in s)
            if n_both:
                n_a = sum(1 for s in us.values() if a in s)
                n_b = sum(1 for s in us.values() if b in s)
                expect[(a, b)] = (n_a, n_b, n_both,
                                  (n_both * n_users) / (n_a * n_b))
    assert set(got) == set(expect)
    for k, (n_a, n_b, n_both, lift) in expect.items():
        r = got[k]
        assert (r["n_a"], r["n_b"], r["n_both"]) == (n_a, n_b, n_both)
        assert r["lift"] == lift


@settings(**SETTINGS)
@given(
    ops=st.lists(
        st.sampled_from(["a", "b", "vac", "vac_forced"]),
        min_size=8,
        max_size=40,
    )
)
def test_vacuum_commit_interleavings_never_corrupt_root(spark, tmp_path, ops):
    """r14 composition property — for ANY interleaving of two
    maintainers (resolve → write epoch → CAS-commit, retrying on
    StalePointerError) with windowed AND forced vacuums:

    1. the current pointer ALWAYS resolves to an epoch directory that
       EXISTS (never the corrupted root the r13 verdict described —
       either the retention window protects the in-flight epoch, or
       set_current's existence check raises instead of committing);
    2. successful commits form one linear chain (each observed the
       then-current pointer — no lost update survives the vacuum mix);
    3. a windowed vacuum never deletes ANY fresh epoch (all epochs in
       this test are younger than the window), so only forced vacuums
       can invalidate a pending epoch.
    """
    import os as _os
    import shutil

    from data_lake_with_spark_spark.sources import cow

    root = str(tmp_path / f"root_{abs(hash(tuple(ops))) % 10**8}")
    shutil.rmtree(root, ignore_errors=True)
    e0 = cow.new_epoch_path(spark, root)
    _os.makedirs(e0)
    cow.set_current(spark, root, e0, expected=None)
    history = [cow.get_current(spark, root)]

    class Maintainer:
        def __init__(self, label):
            self.label = label
            self.derived_from = None
            self.pending = None

        def step(self):
            if self.pending is None:
                self.derived_from = cow.get_current(spark, root)
                self.pending = cow.new_epoch_path(spark, root, self.label)
                _os.makedirs(self.pending)
                with open(f"{self.pending}/data.bin", "wb") as f:
                    f.write(self.label.encode() * 16)
            else:
                try:
                    cow.set_current(
                        spark, root, self.pending,
                        expected=self.derived_from,
                    )
                except cow.StalePointerError:
                    # either the pointer moved, or a forced vacuum
                    # deleted our pending epoch — the commit wrote
                    # NOTHING either way; re-derive from scratch
                    self.pending = None
                    return
                # success ⇒ no lost update: we replaced the pointer
                # we observed, and our epoch still exists
                assert history[-1] == self.derived_from
                history.append(cow.get_current(spark, root))
                assert history[-1] == _os.path.abspath(self.pending)
                assert _os.path.isdir(self.pending)
                self.pending = None

    maint = {"a": Maintainer("a"), "b": Maintainer("b")}
    for op in ops:
        if op in maint:
            maint[op].step()
        elif op == "vac":
            vac = cow.vacuum_index(spark, root, [])
            # every epoch here is fresh ⇒ the window deletes nothing
            assert vac["removed"] == []
        else:
            cow.vacuum_index(spark, root, [], min_age_seconds=0.0)
        # THE invariant: the root is never corrupted
        cur = cow.get_current(spark, root)
        assert _os.path.isdir(cur), f"pointer at deleted epoch after {op}"
        assert cur == history[-1]
    assert len(set(history)) == len(history)  # linear chain, no revisits
