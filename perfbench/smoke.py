#!/usr/bin/env python3
"""Self-test of the benchmark: a short untraced and a short traced run of
every workload.

    python3 perfbench/smoke.py

It checks that

- every metric named in BENCHMARK.json is printed with its unit;
- error_rate is 0: no execution raised and every query matched its DuckDB
  answer;
- every traced query has its ``build`` and ``execute`` spans, and on a
  workload with streaming queries the ``drain`` and ``trigger`` spans exist
  (they stay empty if a query module bound a drain before the wrappers
  were installed);
- two seeds give two different query orders.

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import json
import subprocess
import sys
from itertools import islice
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from workloads import WORKLOADS, pass_orders  # noqa: E402


def run(workload: str, seed: int, trace: int) -> tuple[list[str], dict]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited with {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def check_metrics(result: dict, table: list[str], declared: list[dict], what: str) -> list[str]:
    errors = []
    for m in declared:
        got = result["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            errors.append(f"{what}: metric {m['name']} [{m['unit']}] missing, got {got}")
        elif not any(line.split()[:1] == [m["name"]] and m["unit"] in line.split() for line in table):
            errors.append(f"{what}: {m['name']} not printed with its unit")
    return errors


def check_spans(workload: str, seed: int) -> list[str]:
    with open(ROOT / ".perfbench" / f"trace-{workload}-seed{seed}.json") as f:
        spans = json.load(f)["spans"]
    errors = []
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)

    def named(span, name):
        return [c for c in kids.get(span["id"], []) if c["name"] == name]

    queries = [s for s in spans if s["name"] == "query"]
    if not queries:
        errors.append(f"{workload}: no query spans")
    for q in queries:
        if len(named(q, "build")) != 1 or len(named(q, "execute")) != 1:
            errors.append(f"{workload}: query {q['attrs']['query']} lacks build/execute spans")
    counts = {n: sum(s["name"] == n for s in spans) for n in ("build", "drain", "trigger")}
    if workload == "stream" and not all(counts.values()):
        errors.append(f"{workload}: span counts {counts}")
    return errors


def main() -> int:
    with open(ROOT / "BENCHMARK.json") as f:
        bench = json.load(f)
    errors = []
    for w in WORKLOADS:
        orders = [list(islice(pass_orders(w, s), 5)) for s in (1, 2)]
        if orders[0] == orders[1]:
            errors.append(f"{w}: seeds 1 and 2 give the same query orders")
        table, result = run(w, 1, 0)
        errors += check_metrics(result, table, bench["end_to_end"], f"{w} trace 0")
        rate = [line for line in table if line.split()[:1] == ["error_rate"]]
        if not rate or float(rate[0].split()[1]) != 0 or result["failed"] or not result["correct"]:
            errors.append(f"{w}: error_rate not 0: {rate} {result['failed']} failed")
        table, result = run(w, 2, 1)
        errors += check_metrics(result, table, bench["per_layer"], f"{w} trace 1")
        if result["failed"] or not result["correct"]:
            errors.append(f"{w} trace 1: {result['failed']} of {result['attempted']} failed")
        errors += check_spans(w, 2)
        print(f"{w}: checked", flush=True)
    for e in errors:
        print("FAIL", e)
    print("smoke: ok" if not errors else f"smoke: {len(errors)} failure(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
