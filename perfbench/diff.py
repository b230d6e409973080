#!/usr/bin/env python3
"""Print per-metric deltas between two benchmark outputs.

    python3 perfbench/diff.py BEFORE AFTER

Each argument is either a trace file written by a ``--trace 1`` run
(``.perfbench/trace-<workload>-seed<n>.json``: its per-layer metrics and
the end-to-end values measured during the traced run) or a file holding
the standard output of a run (its last line is the result object). Only
metrics present in both are compared, so

* two trace files give the per-layer deltas between two commits or seeds;
* a trace file against an untraced run's output of the same workload and
  seed gives the tracing overhead on each end-to-end metric.
"""

from __future__ import annotations

import json
import pathlib
import sys


def load(path: str) -> dict[str, float]:
    lines = [ln for ln in pathlib.Path(path).read_text().splitlines() if ln.strip()]
    if not lines:
        raise SystemExit(f"{path}: empty")
    doc = json.loads(lines[-1])
    if "layers" in doc:
        return {**doc["layers"], **doc["end_to_end"]}
    if "metrics" in doc:
        return {k: v["value"] for k, v in doc["metrics"].items()}
    raise SystemExit(f"{path}: neither a trace file nor a run's output")


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = load(argv[0]), load(argv[1])
    common = sorted(set(a) & set(b))
    if not common:
        print("no metric in common", file=sys.stderr)
        return 1
    width = max(len(k) for k in common)
    print(f"{'metric':{width}}  {'before':>14}  {'after':>14}  {'delta':>14}  {'change':>8}")
    for k in common:
        d = b[k] - a[k]
        pct = f"{100 * d / a[k]:+7.1f}%" if a[k] else ("    new" if b[k] else "      -")
        print(f"{k:{width}}  {a[k]:14.3f}  {b[k]:14.3f}  {d:+14.3f}  {pct:>8}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
