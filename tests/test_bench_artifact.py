"""r11 (VERDICT r10 what's-wrong #1): the bench artifact contract as code.

The driver captures a merged stdout+stderr TAIL and parses the last line as
JSON. BENCH_r10.json was lost because Spark's state-store maintenance thread
raced SparkContext teardown at process exit and logged AFTER bench.py wrote
its line. bench.py now quiesces the state store, stops Spark, settles, and
only then emits — this test runs a real 2-query bench (one streaming query,
so the state-store machinery is live) in a subprocess and asserts the LAST
line of the merged stream parses as the bench JSON.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_last_merged_line_is_bench_json(tmp_path):
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
            # One batch + one STREAMING query: the streaming one arms the
            # state-store maintenance thread whose shutdown noise broke r10.
            "SPARK_GRAFT_BENCH_QUERIES": "q1_pricing_summary,stream_tumble_agg",
            "SPARK_GRAFT_BENCH_RUNS": "1",
            # never clobber the repo's driver-consumed BENCH_DETAIL.json
            # (baseline-freeze evidence) from a test run
            "SPARK_GRAFT_BENCH_DETAIL": str(tmp_path / "BENCH_DETAIL.json"),
            # cwd is tmp_path, so the engine package must come via PYTHONPATH
            # (executor Python workers inherit it too).
            "PYTHONPATH": REPO + os.pathsep + os.environ.get("PYTHONPATH", ""),
        }
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        cwd=str(tmp_path),
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,  # the driver's merged-stream view
        timeout=420,
    )
    assert out.returncode == 0
    merged = out.stdout.decode("utf-8", errors="replace")
    lines = [ln for ln in merged.splitlines() if ln.strip()]
    assert lines, "bench produced no output"
    parsed = json.loads(lines[-1])  # must parse — this IS the driver gate
    assert parsed["metric"] == "headline_queries_total"
    assert parsed["unit"] == "sec"
    assert set(parsed["queries"]) == {"q1_pricing_summary", "stream_tumble_agg"}
    assert parsed["value"] > 0
    # Contention is machine-readable now (r10 what's-wrong #1).
    assert len(parsed["loadavg"]) == 3
    # And the tail-window property specifically: the JSON line survives a
    # 2000-char tail of the MERGED stream (the driver's actual capture).
    tail = merged[-2000:]
    assert lines[-1] in tail


def _bench_module():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_steal_share_excludes_guest_and_checks_field_count():
    steal = _bench_module()._steal_pct_of_busy
    before = [0] * 10
    # user 100 (of which guest 40), system 20, idle 500, iowait 30, steal 20
    after = [100, 0, 20, 500, 30, 0, 0, 20, 40, 0]
    # busy = user 100 + system 20 + steal 20 = 140; summing every field
    # would count the 40 guest jiffies a second time (180)
    assert steal(before, after) == round(20 / 140 * 100, 1)
    assert steal([0] * 7, [1] * 7) is None  # no steal field: no reading
    assert steal([], []) is None  # /proc/stat unreadable
    assert steal([0] * 8, [0, 0, 0, 9, 0, 0, 0, 0]) is None  # nothing busy


def test_sidecar_round_counts_only_committed_artifacts(tmp_path):
    committed_round = _bench_module()._committed_round
    assert committed_round(str(tmp_path)) is None  # not a git checkout

    def git(*args):
        subprocess.run(
            ["git", "-c", "user.name=t", "-c", "user.email=t@t", *args],
            cwd=tmp_path, check=True, capture_output=True,
        )

    git("init", "-q")
    assert committed_round(str(tmp_path)) == 0
    for name in ("BENCH_r03.json", "BENCH_r13_c8.json"):
        (tmp_path / name).write_text("{}")
    git("add", ".")
    git("commit", "-q", "-m", "artifacts")
    (tmp_path / "BENCH_r09.json").write_text("{}")  # uncommitted
    assert committed_round(str(tmp_path)) == 3
