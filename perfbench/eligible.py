#!/usr/bin/env python3
"""Derive an analytics-mix query list from the registered analytics.

    python3 perfbench/eligible.py --sf-dir DIR

A query is eligible when it is oracle-backed, comes from one of the
analytics modules below, its DuckDB oracle finishes within
``MAX_ORACLE_S`` on the tables under ``DIR``, and Spark's result agrees
with the oracle exactly under ``tests/oracle.compare`` (the repository's
oracle gate). Every excluded query is printed on standard error with its reason;
the last line of standard output is a JSON object with the eligible
queries and a mix of ``SIZE`` of them drawn in proportion from each
module (every k-th eligible name of a module, so the draw is repeatable).

Oracles are interrupted after ``TIMEOUT_S``. Spark runs on
``local[nproc]`` with a 6 GB heap, since the larger scale factors need it,
and with the same run-private scratch directory as run.py, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

import run as bench
import spans

MODULES = tuple(f"exact_spark.{m}" for m in (
    "operators.relational", "operators.timeseries", "operators.metrics",
    "operators.similarity", "operators.text", "operators.dedup", "operators.dq",
    "operators.multimodal", "streaming"))
SIZE = 40  # queries in the drawn mix
MAX_ORACLE_S = 1.0  # an eligible query's oracle finishes within this
TIMEOUT_S = 15.0  # an oracle still running after this is interrupted


def timed_oracle(con, sql: str, timeout_s: float):
    """(DataFrame or None when interrupted, seconds)."""
    import duckdb

    timer = threading.Timer(timeout_s, con.interrupt)
    t = time.perf_counter()
    timer.start()
    try:
        return con.execute(sql).fetchdf(), time.perf_counter() - t
    except duckdb.InterruptException:
        return None, time.perf_counter() - t
    finally:
        timer.cancel()


def draw(eligible: dict[str, list[str]], size: int) -> list[str]:
    total = sum(len(v) for v in eligible.values())
    mix = []
    for module, names in sorted(eligible.items()):
        k = max(1, round(size * len(names) / total)) if total else 0
        step = len(names) / k
        mix += [names[int(i * step)] for i in range(min(k, len(names)))]
    return mix


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--sf-dir", required=True)
    args = p.parse_args(argv)
    sf_dir = os.path.abspath(args.sf_dir)

    scratch = bench.ROOT / ".perfbench" / f"eligible-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    bench.isolate(scratch)
    from exact_spark.registry import REGISTRY, _load_all
    from tests.oracle import compare, duck_con

    spark = None
    eligible: dict[str, list[str]] = {}
    excluded = 0
    try:
        spark, _ = bench.start_session(scratch, spans.NullTracer(), memory="6g")
        _load_all()
        con = duck_con(sf_dir)
        for name in sorted(REGISTRY):
            spec = REGISTRY[name]
            if spec.sql is None or spec.fn.__module__ not in MODULES:
                continue
            odf, secs = timed_oracle(con, spec.sql, TIMEOUT_S)
            reason = None
            if odf is None:
                reason = f"oracle did not finish in {TIMEOUT_S:g}s"
            elif secs > MAX_ORACLE_S:
                reason = f"oracle took {secs:.2f}s > {MAX_ORACLE_S:g}s"
            else:
                try:
                    errs = compare(spec.fn(spark, sf_dir), odf, name)
                except Exception as e:  # a broken query is an exclusion, not a crash
                    errs = [f"spark raised {type(e).__name__}: {str(e)[:200]}"]
                if errs:
                    reason = "disagrees with the oracle: " + "; ".join(errs)[:400]
            if reason:
                excluded += 1
                print(f"# exclude {name}: {reason}", file=sys.stderr, flush=True)
            else:
                eligible.setdefault(spec.fn.__module__, []).append(name)
                print(f"# eligible {name} (oracle {secs:.2f}s)", file=sys.stderr, flush=True)
    finally:
        try:
            if spark is not None:
                bench.stop_session(spark)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps({"sf_dir": sf_dir, "excluded": excluded,
                      "eligible": {m.removeprefix("exact_spark."): v
                                   for m, v in sorted(eligible.items())},
                      "mix": draw(eligible, SIZE)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
