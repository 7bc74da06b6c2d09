"""Per-run persist that cannot leak across runs.

Several queries materialize a narrow intermediate with ``.persist()``
because it feeds multiple downstream subtrees within ONE execution
(guide §5: materialize-vs-rescan). A bare ``.persist()`` has a hidden
cross-RUN effect though: Spark's CacheManager keys cache entries by
canonicalized plan, so a LATER identical call of the same query finds
the previous call's materialized InMemoryRelation and silently serves
the intermediate from cache instead of recomputing it ("Asked to cache
already cached data"). Under the bench's min-of-N discipline that would
time a partially-cached run — exactly the cross-run result caching the
optimization rules forbid (measured on sim_semdedup at sf0.1: 1.40s
re-served vs 1.63s honest warm recompute).

:func:`run_persist` keeps the intra-run materialization but drops the
PREVIOUS call's entry at the next call's entry, so every execution
recomputes its intermediates from the parquet inputs. The registry holds
one DataFrame handle per call-site key — a handle used only to
unpersist, never a memo of results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LAST: dict[str, DataFrame] = {}
#: site -> (run generation, that run's persisted DataFrames)
_PER_INVOCATION: dict[str, tuple[int, list[DataFrame]]] = {}
_RUN_GEN = 0


def _drop(prev: DataFrame) -> None:
    """Unpersist a previous run's entry. Only a stopped session is a
    legitimate reason for this to fail (nothing is cached then); any
    other failure must surface, because silently keeping the stale
    materialized entry lets the NEXT identical ``persist()`` re-serve it
    — the exact cross-run reuse this module exists to prevent (ADVICE
    r13 #2)."""
    try:
        sc = prev.sparkSession.sparkContext
        stopped = sc._jsc is None or sc._jsc.sc().isStopped()
    except Exception:
        stopped = True  # no reachable JVM == no cache to drop
    if not stopped:
        prev.unpersist(blocking=False)


def run_persist(df: DataFrame, key: str) -> DataFrame:
    """Persist ``df`` for the duration of this run; unpersist the
    DataFrame persisted under ``key`` by the previous run (if any), so
    repeated executions of the same query never reuse each other's
    materialized cache. ``key`` must be unique per call site AND the
    call site must run at most once per job graph — a second invocation
    would unpersist the first's still-lazy DataFrame (use
    :func:`run_persist_per_invocation` for such operators)."""
    prev = _LAST.pop(key, None)
    if prev is not None:
        _drop(prev)
    _LAST[key] = df.persist()
    return df


def begin_run() -> None:
    """Mark the start of a new run (one query invocation or one job graph).

    :func:`run_persist_per_invocation` drops a site's entries from every
    earlier run at the site's next invocation, so a run can only start
    cold, however often the site ran in the previous one."""
    global _RUN_GEN
    _RUN_GEN += 1


def run_persist_per_invocation(df: DataFrame, site: str) -> DataFrame:
    """Per-run persist for call sites that may run MORE than once inside
    one job graph (e.g. two side-output operators in one pipeline,
    ADVICE r13 #1): every invocation of the current run keeps its entry,
    so a later invocation never unpersists an earlier, still-lazy
    sibling. The first invocation after :func:`begin_run` drops the
    site's entries from earlier runs, so cross-run reuse is impossible
    (a bound on the entry count instead would let a site invoked once
    per run keep the previous run's entry alive)."""
    gen, dfs = _PER_INVOCATION.get(site, (_RUN_GEN, []))
    if gen != _RUN_GEN:
        for prev in dfs:
            _drop(prev)
        dfs = []
    dfs.append(df.persist())
    _PER_INVOCATION[site] = (_RUN_GEN, dfs)
    return df
