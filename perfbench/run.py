#!/usr/bin/env python3
"""Closed-loop benchmark of the engine through its public entry points.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 12 --trace 0

One client in this process issues one query at a time into
``local[nproc]``. A query is ``QUERIES[name](spark, data_dir)`` followed by a
noop write of the returned DataFrame; for a streaming query the call drains
the stream (``streaming/sources.py``) and the noop write reads the result
table back. The inputs are the sf0.01 fixture tables under
``perfbench/data``; the seed only permutes the query order in each pass.

A run, in order:

1. DuckDB answers for every query of the workload (``ORACLES``), before
   Spark starts, canonicalized as the oracle tests do;
2. set-up: Spark session and one untimed warm pass of the workload, which
   also starts the Python worker pool and the streaming machinery;
3. timed passes until ``--seconds`` have elapsed;
4. untimed verification: the result of each query's last timed execution
   is collected and compared with its DuckDB answer;
5. every started process is stopped and waited for.

Each run gets fresh temp, checkpoint, warehouse and Spark local dirs under
``.perfbench/`` in the checkout, and the Spark cache is cleared (and checked
empty) before every execution, so no result is reused across executions.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates traced
and untraced passes, prints the per-layer metrics (medians over the traced
passes) and writes the spans to ``.perfbench/trace-<workload>-seed<seed>.json``.
The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA_DIR = HERE / "data" / "sf0.01"
OUT_DIR = ROOT / ".perfbench"
#: Fixed percentile for ``query_tail_s`` so every run and commit reports the
#: same one. Percentiles are nearest-rank: each is one measured execution.
TAIL_PCT = 75
#: Heap of the local-mode Spark JVM: the sf0.01 inputs need far less than
#: the engine's 8g default, and the host is shared.
JVM_HEAP = "2g"

sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import host  # noqa: E402
from workloads import WORKLOADS, pass_orders  # noqa: E402

#: Printed in the table but left out of the JSON line: error_rate is 0 on a
#: correct run and travels as failed/attempted; peak RSS does not repeat
#: within a tenth from run to run, so the traced run reports it as the
#: per-layer metric mem.peak_rss_mb.
TABLE_ONLY = {"error_rate", "peak_rss_mb"}

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "error_rate": "ratio",
    "peak_rss_mb": "MB",
}


def log(msg: str) -> None:
    print(f"[perfbench +{host.seconds_since_start():7.2f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def prepare_environment(run_dir: Path) -> None:
    """Point every temp, checkpoint, warehouse and Spark local dir of this
    process, the JVM and the Python workers into ``run_dir``."""
    for sub in ("tmp", "local", "warehouse"):
        (run_dir / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = None
    # every JVM (spark-submit's launcher and Spark's own JVM): temp files into the
    # run dir, and no hsperfdata file, which HotSpot always writes to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["SPARK_GRAFT_WAREHOUSE_DIR"] = str(run_dir / "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )


def oracle_answers(names: list[str], oracles: dict[str, str]) -> dict:
    from tests.oracle_utils import canonicalize, duck_connect

    con = duck_connect(str(DATA_DIR))
    try:
        return {n: canonicalize(con.execute(oracles[n]).df()) for n in names}
    finally:
        con.close()


def mismatch(actual_pdf, expected) -> str | None:
    """The oracle tests' comparison (tests/oracle_utils.assert_matches_oracle)
    against a precomputed, canonicalized DuckDB answer."""
    import pandas as pd

    from tests.oracle_utils import canonicalize

    actual = canonicalize(actual_pdf)
    if list(actual.columns) != list(expected.columns):
        return f"columns {list(actual.columns)} != {list(expected.columns)}"
    if len(actual) != len(expected):
        return f"row count {len(actual)} != {len(expected)}"
    for c in actual.columns:
        ka, ke = actual[c].dtype.kind, expected[c].dtype.kind
        if ka != ke and {ka, ke} <= set("iufb") and {ka, ke} != {"i", "u"}:
            return f"dtype kind of {c!r}: {actual[c].dtype} != {expected[c].dtype}"
    try:
        pd.testing.assert_frame_equal(actual, expected, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return str(e)
    return None


class Runner:
    """Executes queries one at a time and keeps the run's counts."""

    def __init__(self, spark, queries: dict, recorder=None, probe=None) -> None:
        self.spark = spark
        self.queries = queries
        self.recorder = recorder
        self.probe = probe
        self.attempted = 0
        self.failed = 0
        #: the DataFrame each query returned in its last execution
        self.results: dict = {}
        self._cache = spark._jsparkSession.sharedState().cacheManager()

    def _fresh_cache(self) -> None:
        self.spark.catalog.clearCache()
        if not self._cache.isEmpty():
            raise RuntimeError("CacheManager not empty after clearCache()")

    def execute(self, name: str) -> float:
        """Build the query and noop-write its result; returns wall seconds."""
        self.attempted += 1
        self._fresh_cache()
        fn = self.queries[name]
        t0 = time.perf_counter()
        try:
            df = fn(self.spark, str(DATA_DIR))
            df.write.format("noop").mode("overwrite").save()
            self.results[name] = df
        except Exception:
            self.failed += 1
            traceback.print_exc()
        return time.perf_counter() - t0

    def execute_traced(self, name: str, qid: int) -> tuple[float, float]:
        """Traced execution; returns (wall seconds, seconds spent reading
        Spark's status stores outside the query span)."""
        rec = self.recorder
        self.attempted += 1
        self._fresh_cache()
        fn = self.queries[name]
        t0 = time.perf_counter()
        self.probe.mark()
        t1 = time.perf_counter()
        with rec.span("query", qid=qid, query=name) as q:
            try:
                with rec.span("build"):
                    df = fn(self.spark, str(DATA_DIR))
                with rec.span("execute"):
                    df.write.format("noop").mode("overwrite").save()
                self.results[name] = df
            except Exception:
                self.failed += 1
                traceback.print_exc()
        t2 = time.perf_counter()
        self.probe.collect(q)
        t3 = time.perf_counter()
        return t2 - t1, (t1 - t0) + (t3 - t2)

    def verify(self, name: str, expected) -> None:
        """Collect the result of the query's last timed execution and
        compare it with the DuckDB answer. A batch result re-executes its
        plan; a streaming result reads back the table its drain filled."""
        self.attempted += 1
        self._fresh_cache()
        if name not in self.results:
            why = "no successful execution"
        else:
            try:
                why = mismatch(self.results[name].toPandas(), expected)
            except Exception:
                traceback.print_exc()
                why = "raised"
        if why is not None:
            self.failed += 1
            print(f"verify {name}: {why}", file=sys.stderr)


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(pct / 100 * len(ordered)) - 1)]


def stop_spark(spark) -> None:
    """Stop Spark and the JVM, and wait for every process this run started
    (the JVM, the Python worker daemon and its workers) to end."""
    procs = host.descendants()
    gateway = spark.sparkContext._gateway
    jvm_proc = getattr(gateway, "proc", None)
    try:
        spark.sparkContext._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:
        traceback.print_exc()
    spark.stop()
    gateway.shutdown()
    if jvm_proc is not None:
        # the gateway JVM exits when its stdin closes
        jvm_proc.stdin.close()
        try:
            jvm_proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm_proc.kill()
            jvm_proc.wait()
    host.wait_gone(procs, timeout=30)


def host_stamp() -> dict:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=str(ROOT.parent))
    try:
        rev = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
            capture_output=True, text=True, timeout=10,
        )
        commit = rev.stdout.strip() if rev.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        commit = "unknown"
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "git_head": commit,
        "pyspark": pyspark.__version__,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    trace = bool(args.trace)
    names = WORKLOADS[args.workload]

    OUT_DIR.mkdir(exist_ok=True)
    run_dir = OUT_DIR / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_environment(run_dir)

    # The JVM inherits fd 1; keep the real stdout for the report only.
    report = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    try:
        return run(args, names, trace, report)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, names: list[str], trace: bool, report) -> int:
    cpu0 = host.cpu_jiffies()
    recorder = rebind = None
    if trace:
        # Query modules bind the drains by name at import: wrap them first.
        import tracing

        recorder = tracing.Recorder()
        rebind = tracing.install_drain_wrappers(recorder)
    from apache_flink_spark.queries import ORACLES, QUERIES

    if rebind is not None:
        rebind()
    missing = [n for n in names if n not in QUERIES or n not in ORACLES]
    if missing:
        print(f"queries without a registered oracle: {missing}", file=sys.stderr)
        return 2

    log("engine imported")
    t_oracle = time.perf_counter()
    expected = oracle_answers(names, ORACLES)
    oracle_s = time.perf_counter() - t_oracle
    log("oracle answers computed")

    from apache_flink_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench_{args.workload}",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    try:
        runner = Runner(spark, QUERIES)
        orders = pass_orders(args.workload, args.seed)
        log("spark started")
        # The untimed warm pass also starts the Python worker pool and the
        # streaming machinery (state-store provider, checkpoint IO).
        for name in next(orders):
            runner.execute(name)
        log("warm pass done")
        setup_s = host.seconds_since_start() - oracle_s
        probe = None
        if trace:
            probe = tracing.SparkProbe(spark, recorder)
            runner.recorder, runner.probe = recorder, probe

        # Timed passes. With tracing, even passes are traced and odd ones
        # are not, so the run measures its own tracing overhead.
        pass_times: dict[bool, list[float]] = {False: [], True: []}
        query_times: list[float] = []
        traced_passes = []
        min_passes = 2 if trace else 1
        qid = 0
        t_start = time.perf_counter()
        n_pass = 0
        while n_pass < min_passes or time.perf_counter() - t_start < args.seconds:
            traced = trace and n_pass % 2 == 0
            order = next(orders)
            t0 = time.perf_counter()
            times = []
            if traced:
                probe.attach()
                recorder.active = True
                overhead = 0.0
                with recorder.span("pass", qid=None, index=n_pass, order=order) as p:
                    for name in order:
                        qid += 1
                        dt, probe_s = runner.execute_traced(name, qid)
                        times.append(dt)
                        overhead += probe_s
                recorder.active = False
                probe.detach()
                pass_times[True].append(p["end"] - p["start"] - overhead)
                traced_passes.append(p)
            else:
                for name in order:
                    times.append(runner.execute(name))
                query_times += times
                pass_times[False].append(time.perf_counter() - t0)
            log(f"pass {n_pass}{' traced' if traced else ''} {pass_times[traced][-1]:.3f}s: "
                + ", ".join(f"{n} {t:.3f}" for n, t in zip(order, times)))
            n_pass += 1

        log(f"{n_pass} timed passes done")
        for name in names:
            runner.verify(name, expected[name])
        log("verify done")

        peak_rss_mb = host.vm_hwm_mb(os.getpid()) + sum(
            host.vm_hwm_mb(pid) for pid in host.descendants()
        )
    finally:
        stop_spark(spark)
        log("spark stopped")

    stamp = host_stamp()
    steal = host.steal_pct(cpu0, host.cpu_jiffies())
    load1 = os.getloadavg()[0]
    if trace:
        layers = [tracing.pass_layers(recorder, p) for p in traced_passes]
        metrics = {k: statistics.median(layer[k] for layer in layers) for k in layers[0]}
        metrics["mem.peak_rss_mb"] = peak_rss_mb
        metrics["host.steal_pct"] = steal
        metrics["host.loadavg1"] = load1
        metrics["trace.overhead_pct"] = 100.0 * (
            statistics.median(pass_times[True]) / statistics.median(pass_times[False]) - 1
        )
        units = tracing.LAYER_METRICS
        out_path = OUT_DIR / f"trace-{args.workload}-seed{args.seed}.json"
        with open(out_path, "w") as f:
            json.dump({
                "workload": args.workload, "seed": args.seed, "host": stamp,
                "layers": metrics, "units": units, "passes": layers,
                "spans": recorder.spans,
            }, f)
        notes = {"trace.overhead_pct": f"{len(pass_times[True])} traced vs "
                 f"{len(pass_times[False])} untraced passes; spans in {out_path}"}
    else:
        beyond = len(query_times) - math.ceil(TAIL_PCT / 100 * len(query_times))
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(pass_times[False]),
            "query_p50_s": percentile(query_times, 50),
            "query_tail_s": percentile(query_times, TAIL_PCT),
            "error_rate": runner.failed / runner.attempted,
            "peak_rss_mb": peak_rss_mb,
        }
        units = END_TO_END_UNITS
        notes = {
            "pass_s": f"median of {len(pass_times[False])} passes",
            "query_p50_s": f"n={len(query_times)}",
            "query_tail_s": f"p{TAIL_PCT} of n={len(query_times)} ({beyond} beyond)",
            "error_rate": f"{runner.failed} of {runner.attempted} executions",
            "peak_rss_mb": "VmHWM: this process + JVM + Python workers",
        }

    sys.stderr.flush()
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} queries={len(names)}", file=report)
    print(" ".join(f"{k}={v}" for k, v in stamp.items())
          + f" host.steal_pct={steal:.2f} host.loadavg1={load1:.2f}", file=report)
    for k, v in metrics.items():
        print(f"  {k:<26} {v:>14.6g} {units[k]:<6} {notes.get(k, '')}", file=report)
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in metrics.items() if k not in TABLE_ONLY
        },
    }), file=report)
    report.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
