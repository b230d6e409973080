#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload exact_jobs --seed 1 --seconds 20 --trace 0

Run from anywhere: the repository root is located from this file. The last
line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end metrics of BENCHMARK.json, measured with no
instrumentation in place; with ``--trace 1`` they are its per-layer
metrics, taken from spans recorded around the engine's public functions
(see spans.py), and the spans are also written to
``.perfbench/trace-<workload>-seed<seed>.json`` for ``diff.py``.

Every file a run writes (artifacts, job warehouse, stream checkpoints, job
outputs, Spark local dirs, the JVM temp dir) goes under one run-private
directory, ``.perfbench/run-<pid>``, which is removed at exit, also when
the run fails. Progress and diagnostics go to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import resource
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("exact_jobs", "corpus_release")


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measure whole rounds until this many seconds have passed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def metric_specs() -> tuple[dict, dict]:
    """(end_to_end, per_layer) name -> unit, from BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def isolate(scratch: pathlib.Path) -> None:
    """Point every temp/scratch location the engine, Spark and the JVM use
    at the run-private directory, and put the repository root on the path
    of this process and of Spark's Python workers. Must run before pyspark
    or exact_spark is imported."""
    tmp = scratch / "tmp"
    for d in (tmp, scratch / "spark-local", scratch / "ckpt"):
        d.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "spark-local")
    os.environ["SPARK_GRAFT_CKPT_DIR"] = str(scratch / "ckpt")
    # Spark's Python workers import exact_spark (model scoring closures,
    # supervised and sequence models) and inherit PYTHONPATH from the JVM.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, str(ROOT))


def start_session(scratch: pathlib.Path, tracer, memory: str = "2g"):
    from exact_spark.session import STATIC_CONF, get_spark

    cpus = len(os.sched_getaffinity(0))
    java_opts = " ".join([
        STATIC_CONF["spark.driver.extraJavaOptions"],
        f"-Djava.io.tmpdir={scratch / 'tmp'}",
        "-XX:-UsePerfData",  # no hsperfdata file under /tmp
    ])
    conf = {
        "spark.driver.extraJavaOptions": java_opts,
        # the machine is shared: cap the heap well below its memory
        "spark.driver.memory": memory,
        "spark.sql.warehouse.dir": str(scratch / "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the status store backs the traced run's per-span Spark counts;
        # the same retention is set untraced so both runs share one config
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    with tracer.span("session.get_spark"):
        spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                          shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("OFF")
    with tracer.span("session.first_action"):
        spark.range(1).count()
    return spark, cpus


def _jvm():
    """The JVM process pyspark launched (spark-submit execs into java)."""
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def peak_rss_mb() -> float:
    """Peak resident set of this Python process plus its JVM, in MB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    for line in pathlib.Path(f"/proc/{_jvm().pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def _children(pid: int) -> list[int]:
    out = []
    for task in pathlib.Path(f"/proc/{pid}/task").glob("*"):
        try:
            out += [int(c) for c in (task / "children").read_text().split()]
        except OSError:
            pass
    return out


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and its Python workers and wait for
    every one of them."""
    from pyspark import SparkContext

    proc = _jvm()
    workers = _children(proc.pid) if proc is not None else []  # the worker daemon
    workers += [g for w in workers for g in _children(w)]
    try:
        spark.stop()
    finally:
        if proc is not None:
            SparkContext._gateway.shutdown()
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 15
        for pid in workers:
            while pathlib.Path(f"/proc/{pid}").exists() and time.time() < deadline:
                time.sleep(0.05)
            if pathlib.Path(f"/proc/{pid}").exists():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "exact_spark").is_dir():
        log(f"no exact_spark package next to {HERE.name}/; run from a full checkout")
        return 2
    e2e_units, layer_units = metric_specs()

    scratch = ROOT / ".perfbench" / f"run-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    isolate(scratch)
    # a SIGTERM must still run the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    import spans

    tracer = spans.Tracer() if args.trace else spans.NullTracer()
    spark = None
    try:
        t0 = time.perf_counter()
        spark, cpus = start_session(scratch, tracer)
        session_s = time.perf_counter() - t0
        log(f"session up in {session_s:.2f}s on local[{cpus}]")
        if args.trace:
            tracer.install()
        if args.workload == "exact_jobs":
            import exact_jobs as workload
        else:
            import corpus_release as workload
        res = workload.run(spark, scratch, args.seed, args.seconds, tracer, log)
        for e in res.errors:
            log(f"WRONG OUTPUT: {e}")
        res.metrics["setup_s"] = session_s + res.metrics.pop("warmup_s")
        res.metrics["peak_rss_mb"] = peak_rss_mb()
        if args.trace:
            layers = tracer.layer_metrics(spark)
            out = ROOT / ".perfbench" / f"trace-{args.workload}-seed{args.seed}.json"
            tracer.write(out, workload=args.workload, seed=args.seed, cpus=cpus,
                         loadavg=os.getloadavg(), end_to_end=res.metrics, layers=layers)
            log(f"spans written to {out}")
            metrics, units = layers, layer_units
        else:
            metrics, units = res.metrics, e2e_units
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    missing = sorted(set(units) - set(metrics))
    if missing:
        log(f"metrics not measured: {missing}")
        return 3
    result = {
        "correct": res.correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
