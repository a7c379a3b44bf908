"""Scoped-persist cache semantics (`cache.persist_scoped`): eviction
by key, opt-in semantic memoization, the mutable-input hazard the
memoize flag exists to avoid, and the two eviction orders (same plan:
evict, then fill; different plan: fill, then evict)."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from projetbigdatastreaming_spark.cache import _SCOPED_PERSISTS, persist_scoped


def _fresh(key):
    _SCOPED_PERSISTS.pop(key, None)


def _assert_evicted(df):
    """unpersist(blocking=False) is asynchronous — poll briefly."""
    for _ in range(40):
        if not df.storageLevel.useMemory:
            return
        time.sleep(0.05)
    raise AssertionError("relation still cached after eviction")


def test_evict_default_replaces_previous(spark):
    """Default (memoize=False): every call persists the NEW plan and
    unpersists the previous one — per-micro-batch semantics."""
    _fresh("t1")
    a = spark.range(10).selectExpr("id * 2 AS v")
    out_a = persist_scoped("t1", a)
    assert out_a.storageLevel.useMemory
    # NOTE: Spark's CacheManager keys on the LOGICAL PLAN, so probing
    # eviction needs a semantically DIFFERENT successor (a same-plan
    # successor would re-cache the same entry and mask the unpersist)
    b = spark.range(10).selectExpr("id * 5 AS v")
    out_b = persist_scoped("t1", b)
    assert out_b is b and out_b is not out_a
    _assert_evicted(a)
    _fresh("t1")


def test_memoize_reuses_same_semantics_evicts_different(spark):
    """memoize=True: a sameSemantics re-invocation returns the CACHED
    relation (no recompute — the built-index reuse); a semantically
    different plan still evicts."""
    _fresh("t2")
    a = spark.range(10).selectExpr("id * 2 AS v")
    out_a = persist_scoped("t2", a, memoize=True)
    out_a.count()  # materialize
    same = spark.range(10).selectExpr("id * 2 AS v")
    assert persist_scoped("t2", same, memoize=True) is out_a

    different = spark.range(10).selectExpr("id * 3 AS v")
    out_d = persist_scoped("t2", different, memoize=True)
    assert out_d is different
    _assert_evicted(a)
    _fresh("t2")


def test_keys_are_independent(spark):
    _fresh("t3a")
    _fresh("t3b")
    a = persist_scoped("t3a", spark.range(5))
    b = persist_scoped("t3b", spark.range(6))
    assert a.storageLevel.useMemory and b.storageLevel.useMemory
    persist_scoped("t3a", spark.range(7))
    assert b.storageLevel.useMemory  # untouched by t3a's eviction
    _fresh("t3a")
    _fresh("t3b")


def _assert_still_cached(df):
    """Give an asynchronous unpersist time to land, then require the
    relation's CacheManager entry to be live."""
    time.sleep(0.3)
    assert df.storageLevel.useMemory, "returned relation lost its cache"


def test_same_plan_twice_keeps_second_cached(spark):
    """A same-plan call shares the old handle's CacheManager entry, so
    the old handle must be evicted BEFORE the new one is persisted;
    evicting after the fill would uncache the call's own relation."""
    _fresh("t4")
    persist_scoped("t4", spark.range(20).selectExpr("id * 7 AS v"))
    second = persist_scoped("t4", spark.range(20).selectExpr("id * 7 AS v"))
    _assert_still_cached(second)
    assert second.count() == 20
    _fresh("t4")


def test_two_round_chain_twice_keeps_result_cached(spark):
    """A loop whose rounds share one key (the k-core/cluster shape):
    the final round's plan is identical across invocations, and the
    second invocation's result must still be cached when it returns."""
    _fresh("t5")

    def chain():
        r = persist_scoped("t5", spark.range(100).selectExpr("id % 7 AS v"))
        return persist_scoped("t5", r.where("v > 2"))

    first = chain()
    _assert_still_cached(first)
    second = chain()
    _assert_still_cached(second)
    assert second.count() == sum(1 for i in range(100) if i % 7 > 2)
    _fresh("t5")


def test_fill_before_drop_evaluates_base_once(spark):
    """A relation derived from the key's previous entry is filled while
    that entry is still cached, so the base is evaluated exactly once
    — by its own fill — and the derived cache survives the base's
    eviction."""
    _fresh("t6")
    evals = spark.sparkContext.accumulator(0)

    def tick(x):
        evals.add(1)
        return x

    tick_udf = F.udf(tick, "long")
    base = persist_scoped(
        "t6", spark.range(50).select(tick_udf("id").alias("v"))
    )
    assert evals.value == 50
    derived = persist_scoped("t6", base.where("v % 2 = 0"))
    assert sorted(r.v for r in derived.collect()) == list(range(0, 50, 2))
    assert evals.value == 50
    _assert_evicted(base)
    assert derived.storageLevel.useMemory
    _fresh("t6")
