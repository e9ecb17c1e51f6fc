"""Lifecycle tests, including the exact port of the reference E2E smoke
scenario (FIXTURES.md F4 / reference tests/smoke_test.py:30-115)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyrope_spark.store import VectorStore
from pyrope_spark.store.vector_store import DuplicateIdError


def _store(spark, tmp_path) -> VectorStore:
    return VectorStore(spark, str(tmp_path / "store"))


def _df(spark, rows):
    return spark.createDataFrame(
        rows,
        "tenant_id string, index_name string, id string, vector array<float>, "
        "meta string, tags array<string>",
    )


def _q(spark, vec, k=2, tags=None):
    return spark.createDataFrame(
        [("q0", [float(x) for x in vec], k, tags or [])],
        "query_id string, vector array<float>, top_k int, filter_tags array<string>",
    )


def test_smoke_scenario(spark, tmp_path):
    """F4: ADD doc1/doc2 → SEARCH → FILTER → DEL → absence → ADD fails on
    tombstone → UPSERT resurrects."""
    st = _store(spark, tmp_path)
    t, i = "smoke_tenant", "test_index"

    # 1-2: ADD
    st.add(_df(spark, [
        (t, i, "doc1", [1.0, 0.0, 0.0], '{"type":"test","id":1}', []),
        (t, i, "doc2", [0.0, 1.0, 0.0], None, ["tagA"]),
    ]))
    assert st.count(t, i) == 2
    e0 = st.epoch(t, i)

    # 3: SEARCH [0.9,0.1,0.0] k=2 → doc1 first
    hits = st.search(_q(spark, [0.9, 0.1, 0.0]), k=2, tenant_id=t, index_name=i).collect()
    ranked = sorted((r["rank"], r["id"]) for r in hits)
    assert ranked[0][1] == "doc1" and len(ranked) == 2

    # 4: SEARCH with FILTER tagA → doc2
    hits = st.search(
        _q(spark, [0.0, 0.9, 0.0], k=1, tags=["tagA"]), k=1, tenant_id=t, index_name=i
    ).collect()
    assert [r["id"] for r in hits] == ["doc2"]

    # 5-6: DEL doc1 → absent from search
    st.delete([(t, i, "doc1")])
    assert st.epoch(t, i) > e0  # epoch invalidation (C8)
    hits = st.search(_q(spark, [1.0, 0.0, 0.0], k=1), k=1, tenant_id=t, index_name=i).collect()
    assert [r["id"] for r in hits] == ["doc2"]

    # 7: ADD doc1 again → error (tombstone still occupies the key)
    with pytest.raises(DuplicateIdError):
        st.add(_df(spark, [(t, i, "doc1", [1.0, 0.0, 0.0], None, [])]))

    # 8: UPSERT doc1 → resurrected
    st.upsert(_df(spark, [(t, i, "doc1", [1.0, 0.0, 0.0], None, [])]))
    hits = st.search(_q(spark, [1.0, 0.0, 0.0], k=1), k=1, tenant_id=t, index_name=i).collect()
    assert [r["id"] for r in hits] == ["doc1"]
    assert st.count(t, i) == 2


def test_upsert_preserves_created_at(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.add(_df(spark, [("t", "i", "a", [1.0, 2.0], None, [])]))
    first = st.snapshot("t", "i").collect()[0]
    st.upsert(_df(spark, [("t", "i", "a", [9.0, 9.0], None, [])]))
    after = st.snapshot("t", "i").collect()[0]
    assert after["created_at"] == first["created_at"]
    assert after["updated_at"] >= first["updated_at"]
    assert [round(x) for x in after["vector"]] == [9, 9]


def test_head_wins_after_compaction(spark, tmp_path):
    """F5 head/tail: compact, then an upsert via head shadows the tail value
    (reference: DeltaVectorIndex.cs:95-109)."""
    st = _store(spark, tmp_path)
    st.add(_df(spark, [("t", "i", f"v{j}", [float(j), 0.0], None, []) for j in range(10)]))
    st.compact()
    assert st.count("t", "i") == 10
    st.upsert(_df(spark, [("t", "i", "v3", [100.0, 0.0], None, [])]))
    snap = {r["id"]: r["vector"] for r in st.live("t", "i").collect()}
    assert snap["v3"][0] == 100.0
    # search merges head+tail with head winning
    hits = st.search(_q(spark, [100.0, 0.0], k=1), k=1, tenant_id="t", index_name="i").collect()
    assert hits[0]["id"] == "v3"


def test_dim_mismatch_rejected(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.add(_df(spark, [("t", "i", "a", [1.0, 2.0], None, [])]))
    with pytest.raises(ValueError, match="VEC_ERR_DIM"):
        st.add(_df(spark, [("t", "i", "b", [1.0, 2.0, 3.0], None, [])]))


def test_invalid_names_rejected(spark, tmp_path):
    st = _store(spark, tmp_path)
    with pytest.raises(ValueError, match="invalid tenant"):
        st.add(_df(spark, [("bad tenant!", "i", "a", [1.0], None, [])]))


def test_multi_tenant_isolation(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.add(_df(spark, [("t1", "i", "a", [1.0, 0.0], None, []),
                       ("t2", "i", "a", [0.0, 1.0], None, [])]))
    hits = st.search(_q(spark, [1.0, 0.0], k=5), k=5, tenant_id="t1", index_name="i").collect()
    assert len(hits) == 1


def test_add_rejects_duplicate_within_batch(spark, tmp_path):
    """Reference TryAdd rejects the second add of an id — also when both
    arrive in the same batch (ADVICE round-1 fix)."""
    st = _store(spark, tmp_path)
    with pytest.raises(DuplicateIdError, match="duplicate in batch"):
        st.add(_df(spark, [("t", "i", "a", [1.0, 0.0], None, []),
                           ("t", "i", "a", [0.0, 1.0], None, [])]))


def test_upsert_last_wins_within_batch(spark, tmp_path):
    """Sequential-apply semantics: last occurrence of a key in the input
    batch wins deterministically."""
    st = _store(spark, tmp_path)
    st.upsert(_df(spark, [("t", "i", "a", [1.0, 0.0], None, []),
                          ("t", "i", "a", [2.0, 0.0], None, []),
                          ("t", "i", "a", [3.0, 0.0], None, [])]))
    snap = st.live("t", "i").collect()
    assert len(snap) == 1
    assert snap[0]["vector"][0] == 3.0


def test_upsert_order_col_wins_after_shuffle(spark, tmp_path):
    """With an explicit order_col, in-batch last-write-wins is deterministic
    even when the input's partition layout no longer reflects input order
    (the monotonically_increasing_id fallback only tracks physical layout)."""
    from pyspark.sql import functions as F

    st = _store(spark, tmp_path)
    df = _df(spark, [("t", "i", "a", [1.0, 0.0], None, []),
                     ("t", "i", "a", [2.0, 0.0], None, []),
                     ("t", "i", "a", [3.0, 0.0], None, [])])
    df = df.withColumn("seq", F.col("vector")[0].cast("long"))
    # scramble physical layout: input order is gone, seq still decides
    df = df.repartition(8).sortWithinPartitions(F.desc("seq"))
    st.upsert(df, order_col="seq")
    snap = st.live("t", "i").collect()
    assert len(snap) == 1
    assert snap[0]["vector"][0] == 3.0


def test_write_path_partition_pruning(spark, tmp_path):
    """The upsert created_at join must prune the snapshot scan to the
    touched (tenant,index) partitions (VERDICT round-1 item 8)."""
    st = _store(spark, tmp_path)
    st.add(_df(spark, [("tA", "i", "a", [1.0, 0.0], None, []),
                       ("tB", "i", "a", [0.0, 1.0], None, [])]))
    plan = st.snapshot(pairs=[("tA", "i")])._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # both partition columns constrained (pruned to the single touched dir)
    assert "tenant_id" in plan.split("PartitionFilters")[1][:200]


def test_live_after_compact_reads_tail_without_window(spark, tmp_path):
    """compact() leaves no head, so live() reads the resolved tail as stored:
    no latest-wins Window in its plan, and the same rows as the windowed
    path. The next write brings the head, and the window, back."""
    from pyrope_spark.store.vector_store import _latest

    st = _store(spark, tmp_path)
    st.add(_df(spark, [("t", "i", f"v{j}", [float(j), 0.0], None, []) for j in range(10)]))
    st.upsert(_df(spark, [("t", "i", "v3", [30.0, 0.0], None, [])]))
    st.delete([("t", "i", "v4")])
    st.compact()

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    def rows(df):
        return sorted((r["id"], tuple(r["vector"]), r["_seq"]) for r in df.collect())

    live = st.live("t", "i")
    assert "Window" not in plan(live)
    windowed = _latest(st._scan("t", "i")).filter(~F.col("deleted"))
    assert rows(live) == rows(windowed)
    assert [r[0] for r in rows(live)] == [f"v{j}" for j in range(10) if j != 4]

    st.upsert(_df(spark, [("t", "i", "v5", [50.0, 0.0], None, [])]))
    live = st.live("t", "i")
    assert "Window" in plan(live)
    assert {r["id"]: r["vector"][0] for r in live.collect()}["v5"] == 50.0


def _jobs(spark, group, fn):
    """Run ``fn`` under a Spark job group; its result and the group's job
    count."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _head_records(st):
    import os

    return st._read(st.head_path).count() if os.path.exists(st.head_path) else 0


def _tail_and_head(spark, tmp_path):
    """A store with a compacted tail of v0..v39 and a head overwriting
    v0..v4 and adding h0..h4."""
    st = _store(spark, tmp_path)
    st.add(_df(spark, [("t", "i", f"v{j}", [float(j), 0.0], None, []) for j in range(40)]))
    st.compact()
    st.upsert(_df(spark, [("t", "i", f"v{j}", [0.0, float(j)], None, []) for j in range(5)]
                  + [("t", "i", f"h{j}", [1.0, float(j)], None, []) for j in range(5)]))
    return st


def test_write_ops_job_counts(spark, tmp_path):
    """On a store with both a tail and a head: upsert is one batch
    aggregate plus the merge write (<= 5 jobs), delete resolves only its
    own keys (<= 3) and add probes existing keys without a window (<= 6)."""
    st = _tail_and_head(spark, tmp_path)
    ups = _df(spark, [("t", "i", f"v{j}", [2.0, float(j)], None, []) for j in range(3, 8)]
              + [("t", "i", f"n{j}", [3.0, float(j)], None, []) for j in range(5)])
    n, jobs = _jobs(spark, "store_upsert", lambda: st.upsert(ups))
    assert n == 10 and jobs <= 5, f"upsert: {n} rows, {jobs} jobs"

    dels = [("t", "i", x) for x in ("v1", "v20", "h2", "n3", "missing")]
    n, jobs = _jobs(spark, "store_delete", lambda: st.delete(dels))
    assert n == 4 and jobs <= 3, f"delete: {n} rows, {jobs} jobs"

    adds = _df(spark, [("t", "i", f"a{j}", [4.0, float(j)], None, []) for j in range(5)])
    n, jobs = _jobs(spark, "store_add", lambda: st.add(adds))
    assert n == 5 and jobs <= 6, f"add: {n} rows, {jobs} jobs"
    live = {r["id"] for r in st.live("t", "i").collect()}
    assert len(live) == 40 + 5 + 5 + 5 - 4
    assert not {"v1", "v20", "h2", "n3"} & live and {"a0", "n0", "h0"} <= live


def test_upsert_count_is_records_written(spark, tmp_path):
    """In-batch duplicates: the returned count is exactly the number of raw
    head records the upsert added (one per distinct key)."""
    st = _tail_and_head(spark, tmp_path)
    before = _head_records(st)
    n = st.upsert(_df(spark, [("t", "i", "v0", [1.0, 1.0], None, []),
                              ("t", "i", "v0", [2.0, 2.0], None, []),
                              ("t", "i", "z", [3.0, 3.0], None, []),
                              ("t", "i", "z", [4.0, 4.0], None, []),
                              ("t", "i", "z", [5.0, 5.0], None, []),
                              ("t", "i", "v30", [6.0, 6.0], None, [])]))
    assert n == 3
    assert _head_records(st) - before == n
    live = {r["id"]: r["vector"][0] for r in st.live("t", "i").collect()}
    assert (live["v0"], live["z"], live["v30"]) == (2.0, 5.0, 6.0)


def test_delete_repeated_key_counts_once(spark, tmp_path):
    """A key listed twice is one tombstone and one count."""
    st = _store(spark, tmp_path)
    st.add(_df(spark, [("t", "i", "a", [1.0, 0.0], None, []),
                       ("t", "i", "b", [0.0, 1.0], None, [])]))
    before = _head_records(st)
    assert st.delete([("t", "i", "a"), ("t", "i", "a")]) == 1
    assert _head_records(st) - before == 1
    assert [r["id"] for r in st.live("t", "i").collect()] == ["b"]


def test_delete_exact_across_pairs(spark, tmp_path):
    """The same id in two tenants: only the named pair's key is
    tombstoned; a missing id and an already-deleted id are not counted."""
    st = _store(spark, tmp_path)
    st.add(_df(spark, [("tA", "i", "a", [1.0, 0.0], None, []),
                       ("tB", "i", "a", [0.0, 1.0], None, []),
                       ("tA", "i", "gone", [1.0, 1.0], None, [])]))
    assert st.delete([("tA", "i", "gone")]) == 1
    before = _head_records(st)
    n = st.delete([("tA", "i", "a"), ("tA", "i", "missing"), ("tA", "i", "gone")])
    assert n == 1 and _head_records(st) - before == 1
    assert st.live("tA", "i").count() == 0
    assert [r["id"] for r in st.live("tB", "i").collect()] == ["a"]


def test_noop_delete_keeps_epoch(spark, tmp_path):
    """A delete that writes no tombstone (missing or already-deleted id)
    leaves the index epoch, and so its cached results, alone."""
    st = _store(spark, tmp_path)
    t, i = "t1", "idx1"
    st.add(_df(spark, [
        (t, i, "a", [1.0, 0.0], None, []),
        (t, i, "b", [0.0, 1.0], None, []),
    ]))
    assert st.delete([(t, i, "a")]) == 1
    e = st.epoch(t, i)
    assert st.delete([(t, i, "missing")]) == 0
    assert st.delete([(t, i, "a")]) == 0
    assert st.epoch(t, i) == e


def test_tombstone_keeps_live_record_columns(spark, tmp_path):
    """A tombstone carries every column of the live record it replaces;
    only ``deleted``, ``updated_at`` and ``_seq`` change. Checked for a key
    resolved from head over tail and for one read from a head-less tail."""
    st = _store(spark, tmp_path)
    schema = (
        "tenant_id string, index_name string, id string, vector array<float>, "
        "meta string, tags array<string>, numeric_fields map<string,double>"
    )
    st.add(spark.createDataFrame(
        [("t", "i", "a", [1.0, 2.0], '{"k":1}', ["x", "y"], {"price": 2.5}),
         ("t", "i", "b", [3.0, 4.0], None, ["z"], {"n": -1.0})], schema))
    st.compact()
    st.upsert(spark.createDataFrame(
        [("t", "i", "a", [5.0, 6.0], '{"k":2}', ["w"], {"price": 3.5, "q": 1.0})], schema))
    for key in ("a", "b"):
        if key == "b":
            st.compact()
        live = {r["id"]: r for r in st.snapshot("t", "i").collect()}[key]
        assert st.delete([("t", "i", key)]) == 1
        tomb = {r["id"]: r for r in st.snapshot("t", "i").collect()}[key]
        assert tomb["deleted"] and not live["deleted"]
        assert tomb["_seq"] > live["_seq"] and tomb["updated_at"] >= live["updated_at"]
        for col in ("tenant_id", "index_name", "vector", "meta", "tags",
                    "numeric_fields", "created_at"):
            assert tomb[col] == live[col], col


def test_delete_scan_partition_pruning(spark, tmp_path, monkeypatch):
    """delete's key-filtered scan keeps partition filters on both partition
    columns, for the head and the tail scan."""
    st = _tail_and_head(spark, tmp_path)
    st.add(_df(spark, [("tB", "i", "v1", [1.0, 0.0], None, [])]))
    plans = []
    df_cls = type(st.snapshot())
    real = df_cls.toArrow

    def spy(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return real(self)

    monkeypatch.setattr(df_cls, "toArrow", spy)
    assert st.delete([("t", "i", "v1")]) == 1
    plan = plans[-1]
    parts = plan.split("PartitionFilters")[1:]
    assert len(parts) >= 2, plan
    for p in parts:
        filters = p[: p.index("]")]
        assert "tenant_id" in filters and "index_name" in filters, filters
    assert [r["id"] for r in st.live("tB", "i").collect()] == ["v1"]
