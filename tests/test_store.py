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
