"""persist_scoped semantics: warm reuse on identical plans, eviction only on
plan change, eager release. Guards the r3 regression where every call evicted
the previous generation and repeat runs (bench min-of-N) recomputed the full
lineage cold."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark import session as S


def _frame(spark, n):
    return spark.range(n).withColumn("x", F.col("id") * 2)


def test_identical_plan_reuses_cached_generation(spark):
    a = S.persist_scoped(_frame(spark, 10), "t_reuse")
    assert a.is_cached
    b = S.persist_scoped(_frame(spark, 10), "t_reuse")
    assert b is a, "canonically identical plan must return the live cache"
    assert a.is_cached
    S.release_scoped("t_reuse")


def test_changed_plan_evicts_previous_generation(spark):
    a = S.persist_scoped(_frame(spark, 10), "t_evict")
    c = S.persist_scoped(_frame(spark, 20), "t_evict")
    assert c is not a
    assert not a.is_cached, "previous generation must be unpersisted"
    assert c.is_cached
    S.release_scoped("t_evict")
    assert not c.is_cached


def test_release_all_scopes(spark):
    a = S.persist_scoped(_frame(spark, 5), "t_all_1")
    b = S.persist_scoped(_frame(spark, 6), "t_all_2")
    S.release_scoped()
    assert not a.is_cached and not b.is_cached


def test_register_views_memoizes_and_reswitches_dirs(spark):
    """register_views is a no-op when the session already has THIS dir's
    views (16 SQL-path queries call it per build; the 10 schema reads cost
    ~1.4 s per call), but switching directories re-registers and switching
    BACK re-registers again — the memo must never leave views pointing at
    the previously registered directory."""
    S.register_views(spark, "/root/testdata/sf0.001")
    n_small = spark.table("orders").count()
    S.register_views(spark, "/root/testdata/sf0.01")
    n_big = spark.table("orders").count()
    assert n_big > n_small
    S.register_views(spark, "/root/testdata/sf0.001")
    assert spark.table("orders").count() == n_small
    # a fresh catalog (newSession shares the appId but not temp views)
    # registers from scratch rather than trusting the parent's memo entry
    ns = spark.newSession()
    S.register_views(ns, "/root/testdata/sf0.001")
    assert ns.table("orders").count() == n_small


def test_load_table_memoizes_lazy_plan_per_session_and_dir(spark):
    """load_table memoizes the unresolved source plan per (session, dir,
    table) — ~250 ms of listing + footer inference per call otherwise —
    but distinct directories get distinct plans and a separate session
    (newSession) never shares the parent's entries."""
    a = S.load_table(spark, "/root/testdata/sf0.001", "orders")
    b = S.load_table(spark, "/root/testdata/sf0.001", "orders")
    assert b is a, "same (session, dir, table) must reuse the cached plan"
    c = S.load_table(spark, "/root/testdata/sf0.01", "orders")
    assert c is not a
    assert c.count() > a.count(), "each plan still reads its own directory"
    ns = spark.newSession()
    d = S.load_table(ns, "/root/testdata/sf0.001", "orders")
    assert d is not a
    assert d.count() == a.count()


def test_rowcount_memo_bounded(spark):
    """VERDICT r16 item 7: the row-count memo must not grow without bound
    in a long-lived session sweeping many directories — FIFO eviction
    keeps it at the cap while the fresh entry stays resident."""
    from pinterest_data_pipeline_spark.plans import extensions as ext

    saved = dict(ext._ROWCOUNT_MEMO)
    try:
        ext._ROWCOUNT_MEMO.clear()
        for i in range(ext._ROWCOUNT_MEMO_CAP):
            ext._ROWCOUNT_MEMO[(f"/fake/dir{i}", "t", f"fp{i}")] = i
        ext._stat_sum_type(
            spark, "/root/testdata/sf0.001", "orders", 10**12, "memo_probe"
        )
        assert len(ext._ROWCOUNT_MEMO) <= ext._ROWCOUNT_MEMO_CAP
        assert any(k[0] == "/root/testdata/sf0.001" for k in ext._ROWCOUNT_MEMO)
        assert ("/fake/dir0", "t", "fp0") not in ext._ROWCOUNT_MEMO  # FIFO victim
    finally:
        ext._ROWCOUNT_MEMO.clear()
        ext._ROWCOUNT_MEMO.update(saved)


def test_shuffle_partitions_override_is_validated(monkeypatch):
    """The env override is outside input: a positive integer is taken as
    is, anything else is refused with the variable named."""
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "16")
    assert S.derived_shuffle_partitions(4) == 16
    for bad in ("0", "-3", "eight"):
        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_SHUFFLE_PARTITIONS"):
            S.derived_shuffle_partitions(4)
