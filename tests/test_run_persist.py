"""r13 optimization pin: intra-run persists must NOT leak across runs.

Spark's CacheManager keys cache entries by canonicalized plan, so a bare
``.persist()`` inside a query function silently serves a LATER identical
call from the previous call's materialized InMemoryRelation ("Asked to
cache already cached data") — cross-run result reuse the bench's
min-of-N timing discipline must never see. ``run_cache.run_persist``
drops the previous call's entry on re-entry; these tests pin that every
re-construction starts with fresh, UNMATERIALIZED cache entries while
the intra-run multi-consumer materialization (the reason the persists
exist) still happens.
"""

from __future__ import annotations

from apache_flink_spark.queries import QUERIES


def _imr_loaded_states(df) -> list[bool]:
    """Materialization state of every InMemoryRelation in df's plan."""
    plan = df._jdf.queryExecution().withCachedData()
    out: list[bool] = []

    def walk(node):
        if node.getClass().getSimpleName() == "InMemoryRelation":
            out.append(bool(node.cacheBuilder().isCachedColumnBuffersLoaded()))
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(plan)
    return out


def test_second_run_starts_cache_cold(spark, sf_dir):
    """After a full run of a persisting query, re-constructing it must
    yield only fresh (unmaterialized) cache entries — the previous run's
    materialized intermediates were dropped, so the second run recomputes
    from the parquet inputs."""
    fn = QUERIES["ds_q75_yoy_decline"]
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    df2 = fn(spark, sf_dir)
    states = _imr_loaded_states(df2)
    assert states, "expected the persisted ledger in the plan"
    assert not any(states), "previous run's cache was reused"
    # and the second run still computes the same result
    assert df2.count() > 0


def test_intra_run_materialization_still_happens(spark, sf_dir):
    """The persist is not a no-op: after the run's action, the entry IS
    materialized (the multi-consumer subtree ran once)."""
    fn = QUERIES["ds_q75_yoy_decline"]
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    assert any(_imr_loaded_states(df))


def test_registry_keeps_one_handle_per_site(spark, sf_dir):
    from apache_flink_spark.run_cache import _LAST

    fn = QUERIES["text_tfidf_topterms"]
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    n1 = len(_LAST)
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert len(_LAST) == n1


def test_per_invocation_sites_do_not_unpersist_siblings(spark):
    """ADVICE r13 #1: every invocation of a per-invocation site inside one
    job graph must stay persisted (a fixed key would unpersist the first,
    breaking the single-execution contract); the next run's first
    invocation still evicts the previous run's entries."""
    from apache_flink_spark.run_cache import begin_run, run_persist_per_invocation

    begin_run()
    a = run_persist_per_invocation(spark.range(5), "test.site")
    b = run_persist_per_invocation(spark.range(7), "test.site")
    c = run_persist_per_invocation(spark.range(9), "test.site")
    assert all(x.storageLevel.useMemory for x in (a, b, c))
    begin_run()
    d = run_persist_per_invocation(spark.range(11), "test.site")
    e = run_persist_per_invocation(spark.range(13), "test.site")
    # the first run's entries were evicted by the second run's
    assert not any(x.storageLevel.useMemory for x in (a, b, c))
    assert d.storageLevel.useMemory and e.storageLevel.useMemory


def test_once_per_run_site_starts_cold(spark):
    """A site invoked ONCE per run: run 2 must not find run 1's entry
    alive, or CacheManager re-serves run 1's materialized intermediate.
    The run generation bumped at query entry drops it."""
    from apache_flink_spark.queries.registry import ORACLES, QUERIES, STREAMING, query
    from apache_flink_spark.run_cache import run_persist_per_invocation

    def body(spark, sf_dir):
        return run_persist_per_invocation(
            spark.range(50).selectExpr("id % 7 AS k"), "test.once_per_run"
        )

    run = query("__test_once_per_run_site")(body)
    try:
        df1 = run(spark, None)
        df1.write.format("noop").mode("overwrite").save()
        assert any(_imr_loaded_states(df1))
        df2 = run(spark, None)
        states = _imr_loaded_states(df2)
        assert states and not any(states), "run 2 reused run 1's cache"
        assert df2.count() == 50
    finally:
        QUERIES.pop("__test_once_per_run_site", None)
        ORACLES.pop("__test_once_per_run_site", None)
        STREAMING.discard("__test_once_per_run_site")
