#!/usr/bin/env python3
"""Per-workload, per-layer diff of two sets of traced runs.

    python3 perfbench/layer_diff.py A B

A and B are trace files written by ``run.py --trace 1``
(``.perfbench/trace-<workload>-seed<seed>.json``) or directories holding
them. Runs of one workload on one side are combined by each metric's
median. For every workload present on both sides it prints one row per
per-layer metric: the name, its unit, the value on A, the value on B, and
B/A, the ratio with A as its base.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path


def load(path: Path) -> tuple[dict[str, dict[str, float]], dict[str, str], dict[str, int]]:
    """-> ({workload: {metric: median}}, {metric: unit}, {workload: runs})"""
    files = sorted(path.glob("trace-*.json")) if path.is_dir() else [path]
    if not files:
        raise SystemExit(f"no trace files in {path}")
    values: dict[str, dict[str, list[float]]] = {}
    units: dict[str, str] = {}
    for f in files:
        with open(f) as fh:
            d = json.load(fh)
        units.update(d["units"])
        per = values.setdefault(d["workload"], {})
        for k, v in d["layers"].items():
            per.setdefault(k, []).append(v)
    medians = {w: {k: statistics.median(v) for k, v in m.items()} for w, m in values.items()}
    runs = {w: max(len(v) for v in m.values()) for w, m in values.items()}
    return medians, units, runs


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("a", type=Path, help="base: trace file or directory")
    p.add_argument("b", type=Path, help="trace file or directory")
    args = p.parse_args(argv)
    a, units, runs_a = load(args.a)
    b, units_b, runs_b = load(args.b)
    units.update(units_b)
    shared = sorted(set(a) & set(b))
    if not shared:
        print("no workload in common", file=sys.stderr)
        return 1
    for w in shared:
        print(f"workload {w}: A={runs_a[w]} run(s), B={runs_b[w]} run(s)")
        print(f"  {'metric':<26} {'unit':<6} {'A':>12} {'B':>12} {'B/A':>8}")
        layer = None
        for k in sorted(set(a[w]) | set(b[w])):
            if k.split(".")[0] != layer:
                layer = k.split(".")[0]
                print(f"  [{layer}]")
            va, vb = a[w].get(k), b[w].get(k)
            ratio = f"{vb / va:8.3f}" if va and vb is not None else f"{'-':>8}"
            fa = f"{va:12.4g}" if va is not None else f"{'-':>12}"
            fb = f"{vb:12.4g}" if vb is not None else f"{'-':>12}"
            print(f"  {k:<26} {units.get(k, ''):<6} {fa} {fb} {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
