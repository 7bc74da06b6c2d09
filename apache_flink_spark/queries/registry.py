"""Registry mapping query names -> (spark builder, duckdb oracle SQL).

The builders are the engine's executable operator inventory; the oracle SQL
strings are the ANSI-SQL ground truth the driver runs on DuckDB (SURVEY.md §5:
the reference validates every TPC-DS/TPC-H query against official answer
sets — the oracle plays that role here).

Determinism contract for oracle-checked queries (see tests/test_oracle.py):
  - money/quantity DOUBLE columns are cast to DECIMAL before SUM/AVG so the
    aggregate is exact and order-independent, then cast back to DOUBLE for a
    bit-identical result in both engines;
  - timestamps cross the boundary as epoch-micros BIGINT or formatted strings;
  - every LIMIT/top-n query breaks ties on a unique key.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

#: Queries that EXECUTE a streaming job when called (run_to_table /
#: foreachBatch sinks) regardless of their name. Plan tooling
#: (tests/test_plan_lint.py) uses this instead of name prefixes: the
#: returned DataFrame is just a memory-sink/parquet scan, so linting it
#: would burn a full streaming run for no plan coverage.
STREAMING: set[str] = set()


def query(name: str, oracle: str | None = None, streaming: bool = False):
    """Register a declared query. ``oracle=None`` => rows-only check
    (reserved for genuinely non-SQL-expressible ops). ``streaming=True``
    marks queries whose invocation runs a streaming job (see STREAMING).

    Every registered callable first applies the engine's runtime confs to the
    caller-provided session (``session.configure_session``) so results are
    identical whether the session came from ``get_spark()`` or a vanilla
    ``SparkSession.builder.getOrCreate()`` — the r1 failure mode was exactly
    a harness session missing ``spark.sql.legacy.parquet.nanosAsLong``.
    Each call also starts a new ``run_cache`` run, so per-invocation
    persists never carry over from the previous call.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from apache_flink_spark.run_cache import begin_run
            from apache_flink_spark.session import configure_session

            configure_session(spark)
            begin_run()
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        if streaming or name.startswith("stream_"):
            STREAMING.add(name)
        return wrapped

    return deco
