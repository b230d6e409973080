"""exact_jobs: EXACT's own query, end to end, through EngineAPI.

Set-up writes one generated series and warms the session with the same
operations a round makes, untimed: one ``run_batch`` with the threshold
detector, one ``get_data`` page and one time window. The first
``run_batch`` of a session costs about three warm ones (JIT, class
loading, first plans), and how much it costs varies widely from run to
run, so it is kept out of the measured rounds.

A round is a fixed list of operations on that series:

* ``run_batch`` with the threshold detector: ingest, injection, job-table
  create, train, score, flag writeback, evaluation;
* two ``get_data`` pages of the job's table, by offset;
* two ``get_data`` one-day time windows of that table.

Every output is checked against the generator's own arrays (NumPy), or
against the job table read back with pyarrow rather than Spark.
"""

from __future__ import annotations

import datetime as dt
import pathlib
import statistics
import time

import numpy as np
import pyarrow.dataset as pads

from common import Result, dir_bytes, rounds

N_ROWS = 20_000
CADENCE_S = 15  # 20k rows span 3.5 days: 4 date partitions, 4 windows
T0 = 1704067200  # 2024-01-01T00:00:00Z
FEATURES = ("V1", "V2", "V3")
MAGNITUDE = 3.0  # custom injection: V1 * 3 inside a span
PAGE_ROWS = 4000
PAGE_OFFSETS = (0, N_ROWS // 2)  # the first page and one from the middle
WINDOW_DAYS = (1, 2)  # two whole days of the 3.5 the series spans
TRAIN_CUT = int(0.85 * N_ROWS)  # plans.batch's positional split


class Series:
    """A generated CSV series plus the arrays its checks are computed from."""

    def __init__(self, path: pathlib.Path, seed: int, spans, n: int = N_ROWS):
        rng = np.random.default_rng(seed)
        i = np.arange(n)
        self.path, self.spans, self.n = path, tuple(spans), n
        self.ts = T0 + i * CADENCE_S
        day = 2 * np.pi * i / (86400 / CADENCE_S)
        self.raw = np.stack([
            10 + 2 * np.sin(day) + rng.normal(0, 0.5, n),
            5 + np.cos(day / 7) + rng.normal(0, 0.3, n),
            rng.normal(0, 1, n),
        ], axis=1)
        self.injected = np.zeros(n, dtype=bool)
        for start, length in self.spans:
            self.injected[start:start + length] = True
        self.v1 = np.where(self.injected, self.raw[:, 0] * MAGNITUDE, self.raw[:, 0])
        with open(path, "w") as f:
            f.write("timestamp," + ",".join(FEATURES) + ",label\n")
            for t, row in zip(self.ts, self.raw):
                f.write(f"{t}," + ",".join(repr(float(x)) for x in row) + ",0\n")

    def settings(self):
        from exact_spark.operators.inject import AnomalySetting

        return [AnomalySetting("custom", timestamp=float(s * CADENCE_S),
                               duration=float(n * CADENCE_S), magnitude=MAGNITUDE,
                               columns=["V1"]) for s, n in self.spans]

    def job(self, name: str, model: str):
        from exact_spark.plans.batch import BatchJob

        return BatchJob(job_name=name, filepath=str(self.path), anomaly_settings=self.settings(),
                        model=model)


def seeded_spans(rng) -> list[tuple[int, int]]:
    """One span inside the training split, so it moves the threshold, and
    one past the cut, scored against it."""
    a = int(rng.integers(int(0.15 * N_ROWS), int(0.6 * N_ROWS)))
    b = int(rng.integers(TRAIN_CUT + 80, N_ROWS - 100))
    return [(a, int(rng.integers(40, 80))), (b, int(rng.integers(40, 80)))]


def confusion(label: np.ndarray, pred: np.ndarray) -> dict:
    return {"tp": int(np.sum(pred & label)), "tn": int(np.sum(~pred & ~label)),
            "fp": int(np.sum(pred & ~label)), "fn": int(np.sum(~pred & label))}


def counts(m: dict) -> dict:
    return {k: int(m[k]) for k in ("tp", "tn", "fp", "fn")}


def window_bounds():
    for d in WINDOW_DAYS:
        lo = T0 + d * 86400
        yield lo, lo + 86400


def run(spark, scratch: pathlib.Path, seed: int, seconds: float, tracer, log) -> Result:
    from exact_spark.plans.api import EngineAPI

    t = time.perf_counter()
    res = Result()
    data = scratch / "data"
    data.mkdir()
    warehouse = scratch / "warehouse"
    api = EngineAPI(spark, str(warehouse), str(scratch / "out"))
    series = Series(data / "series.csv", seed, seeded_spans(np.random.default_rng(seed)))

    # what the threshold job must report, computed outside the program
    thr = np.percentile(series.v1[:TRAIN_CUT], 95)
    want_threshold = confusion(series.injected, series.v1 > thr)

    def table_dir(job_name: str) -> pathlib.Path:
        return warehouse / api.catalog.table_name(job_name)

    def check_job(name: str, out: dict) -> None:
        m = counts(out["metrics_all"])
        res.check(out["rows"] == series.n, f"{name}: rows {out['rows']} != {series.n}")
        res.check(m["tp"] + m["fn"] == int(series.injected.sum()),
                  f"{name}: tp+fn {m['tp'] + m['fn']} != injected {int(series.injected.sum())}")
        res.check(sum(m.values()) == series.n, f"{name}: confusion sums to {sum(m.values())}")
        res.check(m == want_threshold, f"{name}: {m} != NumPy {want_threshold}")
        flags = pads.dataset(table_dir(name), format="parquet", partitioning="hive",
                             ignore_prefixes=[".", "_SUCCESS"]).to_table(columns=["is_anomaly"])
        n_flag = int(np.sum(flags.column("is_anomaly").to_numpy(zero_copy_only=False)))
        res.check(n_flag == m["tp"] + m["fp"] + m["fn"],
                  f"{name}: persisted is_anomaly {n_flag} != tp+fp+fn")

    def check_page(off: int, p: dict) -> None:
        ci = {c: i for i, c in enumerate(p["columns"])}
        ids = [int(r[ci["id"]]) for r in p["data"]]
        ts = [float(r[ci["timestamp"]]) for r in p["data"]]
        res.check(ids == list(range(off + 1, off + PAGE_ROWS + 1)),
                  f"page {off}: ids are not {off + 1}..{off + PAGE_ROWS} in order")
        res.check(ts == [float(x) for x in series.ts[off:off + PAGE_ROWS]],
                  f"page {off}: timestamps differ")

    def check_window(lo: int, hi: int, p: dict) -> None:
        ci = {c: i for i, c in enumerate(p["columns"])}
        got = [int(r[ci["id"]]) for r in p["data"]]
        want = [int(i) + 1 for i in np.nonzero((series.ts >= lo) & (series.ts <= hi))[0]]
        res.check(got == want, f"window {lo}..{hi}: {len(got)} rows, want {len(want)}")

    def utc(t: int):
        return dt.datetime.fromtimestamp(t, dt.timezone.utc)

    def round_ops(name: str, reads=None):
        """One round's operations; yields (seconds, output) of each."""
        out, secs = res.attempt(log, f"run_batch {name}", lambda: api.run_batch(
            series.job(name, "threshold")))
        yield "job", secs, out
        if out is not None:
            check_job(name, out)
        for off in PAGE_OFFSETS[:reads]:
            p, secs = res.attempt(log, f"get_data page {off}", lambda: api.get_data(
                name, limit=PAGE_ROWS, offset=off))
            yield "read", secs, p
            if p is not None:
                check_page(off, p)
        for lo, hi in list(window_bounds())[:reads]:
            p, secs = res.attempt(log, f"get_data window {lo}", lambda: api.get_data(
                name, from_time=utc(lo), to_time=utc(hi)))
            yield "read", secs, p
            if p is not None:
                check_window(lo, hi, p)

    # warm-up: the same operations once, outside the measured rounds and
    # outside attempted/failed
    warm = [secs for _, secs, _ in round_ops("warmup", reads=1)]
    log(f"warm-up operations {[round(x, 2) for x in warm]}")
    res.check(res.failed == 0, "warm-up: an operation failed")
    res.attempted = res.failed = 0
    res.metrics["warmup_s"] = time.perf_counter() - t

    tracer.begin_measure()
    job_s, round_s = [], []
    table_bytes, table_rows = 0, 0
    for k in rounds(seconds):
        t_round = time.perf_counter()
        times = []  # every operation's seconds, for the progress log
        with tracer.span("round"):
            for kind, secs, out in round_ops(f"r{k}"):
                times.append(secs)
                if kind == "job" and out is not None:
                    job_s.append(secs)
                    table_bytes += dir_bytes(table_dir(f"r{k}"))
                    table_rows += out["rows"]
        round_s.append(time.perf_counter() - t_round)
        log(f"round {k}: {round_s[-1]:.2f}s, operations {[round(x, 2) for x in times]}")

    res.metrics.update(
        job_s=statistics.median(job_s),
        round_s=statistics.median(round_s),
        bytes_per_row=table_bytes / table_rows,
    )
    return res
