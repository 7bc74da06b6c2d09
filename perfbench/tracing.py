"""Spans and Spark-side counters for the traced benchmark run.

Spans nest as ``pass`` -> ``query`` -> ``build`` -> ``drain`` -> one
``trigger`` per micro-batch, plus ``execute`` (the noop write) under
``query``. The benchmark opens the pass/query/build/execute spans itself;
``drain`` spans come from wrappers around the public drains in
``apache_flink_spark.streaming.sources``; ``trigger`` spans are rebuilt from
the ``StreamingQueryProgress`` records a ``StreamingQueryListener`` receives.
Spans stay in memory and are written out when the run ends.

Spark-side counts come from Spark's own status stores and attach to the
``query`` span:

- planning phases from ``QueryExecution.tracker`` (a
  ``QueryExecutionListener`` sees every execution's ``QueryExecution``);
- stage metrics from ``AppStatusStore.stageData``;
- Python-worker SQL metrics from ``SQLAppStatusStore``.

``setJobGroup`` does not reach micro-batch jobs, so everything is scoped by
the SQL execution ids started inside the query. The listener bus is
asynchronous: :meth:`SparkProbe.collect` waits for it to drain first.
"""

from __future__ import annotations

import gzip
import json
import re
import sys
import time
from collections.abc import Iterator
from contextlib import contextmanager
from datetime import datetime

#: Public drain entry points of ``apache_flink_spark.streaming.sources``.
DRAINS = ("run_to_table", "run_upsert_to_table", "run_changelog_upsert_to_table")

#: Per-layer metric name -> unit. Every value is a total per pass, except the
#: ``mem.*``, ``host.*`` and ``trace.*`` entries, which describe the whole run.
LAYER_METRICS = {
    "build.self_s": "s",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "pyworker.run_s": "s",
    "pyworker.init_s": "s",
    "pyworker.start_s": "s",
    "pyworker.sent_mb": "MB",
    "pyworker.returned_mb": "MB",
    "stream.drain_s": "s",
    "stream.triggers": "count",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.input_rows": "count",
    "stream.start_stop_s": "s",
    "state.updates_ms": "ms",
    "state.removals_ms": "ms",
    "state.commit_ms": "ms",
    "state.rows_total": "count",
    "state.memory_mb": "MB",
    "sink.readback_s": "s",
    "mem.peak_rss_mb": "MB",
    "host.steal_pct": "%",
    "host.loadavg1": "load",
    "trace.overhead_pct": "%",
}

# SQL metric display name -> per-layer metric.
_PYWORKER_SQL_METRICS = {
    "time to run Python workers": "pyworker.run_s",
    "time to initialize Python workers": "pyworker.init_s",
    "time to start Python workers": "pyworker.start_s",
    "data sent to Python workers": "pyworker.sent_mb",
    "data returned from Python workers": "pyworker.returned_mb",
}
_UNIT_SCALE = {
    # durations, to seconds
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    # sizes, to MB (10^6 bytes)
    "B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6,
    "GiB": 1024**3 / 1e6, "TiB": 1024**4 / 1e6,
}
_METRIC_VALUE = re.compile(r"^\s*([0-9][0-9.,]*)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Parse a formatted SQL metric value such as ``"3.0 MiB"``, ``"10,000"``
    or ``"total (min, med, max ...)\\n5.9 s (398 ms, ...)"`` to seconds, MB or
    a plain number."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _METRIC_VALUE.match(line)
    if m is None:
        raise ValueError(f"unparsable SQL metric value {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit and unit not in _UNIT_SCALE:
        raise ValueError(f"unknown SQL metric unit in {text!r}")
    return value * _UNIT_SCALE.get(unit, 1.0)


class Recorder:
    """In-memory span store. Times are ``time.perf_counter()`` seconds."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.active = False
        # wall clock minus perf_counter, to place Spark's wall-clock
        # trigger timestamps on the span timeline
        self.wall_offset = time.time() - time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        parent = self._stack[-1] if self._stack else None
        qid = attrs.pop("qid", None)
        if qid is None and parent is not None:
            qid = self.spans[parent]["qid"]
        rec = {
            "id": len(self.spans), "name": name, "parent": parent, "qid": qid,
            "start": time.perf_counter(), "end": None, "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, parent: int, start: float, end: float, **attrs) -> dict:
        rec = {
            "id": len(self.spans), "name": name, "parent": parent,
            "qid": self.spans[parent]["qid"], "start": start, "end": end,
            "attrs": attrs,
        }
        self.spans.append(rec)
        return rec

    def children(self, span: dict, name: str | None = None) -> list[dict]:
        return [
            s for s in self.spans[span["id"] + 1:]
            if s["parent"] == span["id"] and (name is None or s["name"] == name)
        ]


def install_drain_wrappers(recorder: Recorder):
    """Replace the public drains of ``streaming.sources`` with wrappers that
    open a ``drain`` span while the recorder is active. Returns a function
    that re-points every already-imported engine module that bound a drain
    by name (``from ... import run_to_table``) at its wrapper."""
    import apache_flink_spark.streaming.sources as sources

    wrappers = {}
    for name in DRAINS:
        original = getattr(sources, name)

        def wrapper(*args, _fn=original, _name=name, **kwargs):
            if not recorder.active:
                return _fn(*args, **kwargs)
            with recorder.span("drain", fn=_name):
                return _fn(*args, **kwargs)

        wrappers[id(original)] = (original, wrapper)
        setattr(sources, name, wrapper)

    def rebind() -> int:
        n = 0
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("apache_flink_spark") or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                pair = wrappers.get(id(value))
                if pair is not None and pair[0] is value:
                    setattr(mod, attr, pair[1])
                    n += 1
        return n

    return rebind


class SparkProbe:
    """Reads planning, stage, SQL-metric and streaming-progress data for one
    query execution at a time (the benchmark is a closed loop)."""

    def __init__(self, spark, recorder: Recorder) -> None:
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming.listener import StreamingQueryListener

        self.spark = spark
        self.recorder = recorder
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._jvm = sc._jvm
        self._bus = sc._jsc.sc().listenerBus()
        self._app_store = sc._jsc.sc().statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._ser = getattr(self._jvm.org.apache.spark.status, "KVUtils$KVStoreScalaSerializer")()
        self._no_task_status = self._jvm.java.util.ArrayList()
        self._no_quantiles = self._gw.new_array(self._jvm.double, 0)
        ensure_callback_server_started(self._gw)
        self.plans: list[dict] = []
        self.progress: list[dict] = []
        probe = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                probe.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        class _Plans:
            def onSuccess(self, func_name, qe, duration_ns):
                probe.plans.append(_phases(qe))

            def onFailure(self, func_name, qe, exception):
                probe.plans.append(_phases(qe))

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        self._progress_listener = _Progress()
        self._plan_listener = _Plans()
        self._last_execution = -1

    def attach(self) -> None:
        self.spark.streams.addListener(self._progress_listener)
        self.spark._jsparkSession.listenerManager().register(self._plan_listener)

    def detach(self) -> None:
        self._bus.waitUntilEmpty()
        self.spark.streams.removeListener(self._progress_listener)
        self.spark._jsparkSession.listenerManager().unregister(self._plan_listener)

    def _json(self, obj):
        raw = bytes(self._ser.serialize(obj))
        if raw[:2] == b"\x1f\x8b":
            raw = gzip.decompress(raw)
        return json.loads(raw)

    def _executions_after(self, last_id: int) -> list[dict]:
        # The store keeps the newest executions in id order and evicts the
        # oldest, so read backwards from the end until ``last_id``.
        count = int(self._sql_store.executionsCount())
        k = 16
        while True:
            offset = max(0, count - k)
            rows = self._json(self._sql_store.executionsList(offset, count - offset))
            if offset == 0 or not rows or rows[0]["executionId"] <= last_id:
                return [r for r in rows if r["executionId"] > last_id]
            k *= 4

    def mark(self) -> None:
        """Start scoping a new query: drain the bus and forget buffered events."""
        self._bus.waitUntilEmpty()
        count = int(self._sql_store.executionsCount())
        if count:
            last = self._json(self._sql_store.executionsList(count - 1, 1))
            self._last_execution = last[0]["executionId"]
        self.plans.clear()
        self.progress.clear()

    def collect(self, query_span: dict) -> None:
        """Attach the query's Spark-side counts to ``query_span`` and add one
        ``trigger`` span per micro-batch under the drain that ran it."""
        self._bus.waitUntilEmpty()
        executions = self._executions_after(self._last_execution)
        if executions:
            self._last_execution = max(r["executionId"] for r in executions)
        counts = dict.fromkeys(
            [k for k in LAYER_METRICS if k.split(".")[0] in ("plan", "exec", "pyworker")], 0.0
        )
        for p in self.plans:
            for phase in ("analysis", "optimization", "planning"):
                counts[f"plan.{phase}_ms"] += p.get(phase, 0)
        # The same accumulator can appear in several executions of one
        # query (a micro-batch plan and its run); its value only grows.
        pyworker: dict[int, tuple[str, float]] = {}
        stages: set[int] = set()
        for ex in executions:
            counts["exec.jobs"] += len(ex["jobs"])
            # absent or empty until the execution has ended
            values = ex.get("metricValues") or None
            for m in ex["metrics"]:
                target = _PYWORKER_SQL_METRICS.get(m["name"])
                if target is None:
                    continue
                if values is None:
                    values = self._json(self._sql_store.executionMetrics(ex["executionId"]))
                text = values.get(str(m["accumulatorId"]))
                if text is not None:
                    value = parse_sql_metric(text)
                    prev = pyworker.get(m["accumulatorId"], (target, 0.0))[1]
                    pyworker[m["accumulatorId"]] = (target, max(prev, value))
            stages.update(int(s) for s in ex["stages"])
        for stage_id in sorted(stages):
            self._add_stage(counts, stage_id)
        for target, value in pyworker.values():
            counts[target] += value
        query_span["attrs"]["spark"] = counts
        query_span["attrs"]["executions"] = len(executions)
        self._add_triggers(query_span)

    def _add_stage(self, counts: dict, stage_id: int) -> None:
        from py4j.protocol import Py4JJavaError

        try:
            attempts = self._json(self._app_store.stageData(
                stage_id, False, self._no_task_status, False, self._no_quantiles
            ))
        except Py4JJavaError:
            return  # evicted from the store, or never submitted
        for st in attempts:
            if st["status"] == "SKIPPED":
                continue
            counts["exec.stages"] += 1
            counts["exec.tasks"] += st["numCompleteTasks"]
            counts["exec.executor_run_s"] += st["executorRunTime"] / 1e3
            counts["exec.executor_cpu_s"] += st["executorCpuTime"] / 1e9
            counts["exec.gc_s"] += st["jvmGcTime"] / 1e3
            counts["exec.input_mb"] += st["inputBytes"] / 1e6
            counts["exec.shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
            counts["exec.shuffle_read_mb"] += st["shuffleReadBytes"] / 1e6
            counts["exec.spill_mb"] += st["diskBytesSpilled"] / 1e6

    def _add_triggers(self, query_span: dict) -> None:
        rec = self.recorder
        drains = [
            s for s in rec.spans[query_span["id"]:]
            if s["name"] == "drain" and s["qid"] == query_span["qid"]
        ]
        if not drains:
            return
        for p in self.progress:
            start = _epoch(p["timestamp"]) - rec.wall_offset
            dur = p["durationMs"]
            # the drain that was running when the trigger started; Spark's
            # timestamps have millisecond resolution
            owner = drains[0]
            for d in drains:
                if d["start"] <= start + 0.002:
                    owner = d
            rec.add(
                "trigger", owner["id"], start,
                start + dur.get("triggerExecution", 0) / 1e3,
                batch_id=p["batchId"], duration_ms=dur,
                input_rows=p["numInputRows"],
                state=[
                    {k: op.get(k, 0) for k in (
                        "numRowsTotal", "allUpdatesTimeMs", "allRemovalsTimeMs",
                        "commitTimeMs", "memoryUsedBytes",
                    )}
                    for op in p.get("stateOperators", [])
                ],
            )


def _phases(qe) -> dict:
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs()
    return out


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def pass_layers(rec: Recorder, pass_span: dict) -> dict:
    """Per-layer totals over one traced pass."""
    out = {k: 0.0 for k in LAYER_METRICS if not k.startswith(("host.", "trace.", "mem."))}
    for q in rec.children(pass_span, "query"):
        for k, v in q["attrs"].get("spark", {}).items():
            out[k] += v
        for build in rec.children(q, "build"):
            drains = rec.children(build, "drain")
            drain_s = sum(d["end"] - d["start"] for d in drains)
            out["build.self_s"] += build["end"] - build["start"] - drain_s
            out["stream.drain_s"] += drain_s
            trigger_ms = 0.0
            for d in drains:
                triggers = rec.children(d, "trigger")
                for t in triggers:
                    dur = t["attrs"]["duration_ms"]
                    out["stream.triggers"] += 1
                    trigger_ms += dur.get("triggerExecution", 0)
                    out["stream.add_batch_ms"] += dur.get("addBatch", 0)
                    out["stream.query_planning_ms"] += dur.get("queryPlanning", 0)
                    out["stream.wal_commit_ms"] += dur.get("walCommit", 0)
                    out["stream.commit_offsets_ms"] += dur.get("commitOffsets", 0)
                    out["stream.input_rows"] += t["attrs"]["input_rows"]
                    for op in t["attrs"]["state"]:
                        out["state.updates_ms"] += op["allUpdatesTimeMs"]
                        out["state.removals_ms"] += op["allRemovalsTimeMs"]
                        out["state.commit_ms"] += op["commitTimeMs"]
                if triggers:
                    # state size after the drain's last trigger
                    for op in triggers[-1]["attrs"]["state"]:
                        out["state.rows_total"] += op["numRowsTotal"]
                        out["state.memory_mb"] += op["memoryUsedBytes"] / 1e6
            out["stream.trigger_ms"] += trigger_ms
            out["stream.start_stop_s"] += drain_s - trigger_ms / 1e3
            if drains:
                for ex in rec.children(q, "execute"):
                    out["sink.readback_s"] += ex["end"] - ex["start"]
    return out
