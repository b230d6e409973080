"""Spans around the engine's public functions, for the traced run.

The tracer wraps, from outside the program, the functions a workload
reaches: the names ``exact_spark.plans.batch`` imports, the ``EngineAPI``
and ``JobCatalog`` methods, the threshold detector,
the artifact ``*_path`` builders, ``artifacts.materialize`` and the
registered query functions that ``EngineAPI.run_query`` calls. Each span
records its name, start, end and parent; spans stay in memory and are
written out once, at the end of the run.

Spark work is attributed to spans afterwards, from Spark's status
store (which Spark keeps with the UI disabled): a job or stage belongs to
every span whose interval contains its submission time. The workloads are
a single closed-loop client, so the only concurrent work inside a span is
its own.

A per-layer metric is the median span duration (``.ms``) or the mean count
per span (jobs, tasks, CPU time, bytes) over the measured rounds; a layer
the workload does not reach reads 0.
"""

from __future__ import annotations

import bisect
import contextlib
import functools
import json
import math
import pathlib
import statistics
import time


_PAIR_METHODS = ("minhash_lsh", "simhash", "ngram_jaccard", "fuzzy_edit")
#: modules whose registered queries are bucketed into per-module layers
_QUERY_MODULES = ("operators.dedup",)
_CHAIN_BUILDERS = ("substring_span_path", "contam_span_path", "components_path",
                   "curation_manifest_path", "release_manifest_path",
                   "release_dataset_path")


class NullTracer:
    """Untraced runs: the same calls, no instrumentation."""

    def span(self, name, **attrs):
        return contextlib.nullcontext({})

    def begin_measure(self) -> None:
        pass


class Tracer(NullTracer):
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []  # ids of the open spans; one client thread
        self._measure_from = math.inf
        self._patches: list[tuple] = []

    # -- recording -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        st = self._stack
        rec = {"id": len(self.spans), "name": name, "parent": st[-1] if st else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        st.append(rec["id"])
        try:
            yield rec
        except BaseException:
            rec["error"] = True
            raise
        finally:
            rec["end"] = time.time()
            st.pop()

    def begin_measure(self) -> None:
        """Spans opened from now on feed the layer metrics (warm-up does not)."""
        self._measure_from = time.time()

    # -- instrumentation -----------------------------------------------------
    def _patch(self, owner, attr: str, make):
        orig = getattr(owner, attr)
        wrapper = functools.wraps(orig)(make(orig))
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def wrap(self, owner, attr: str, name=None, name_fn=None):
        def make(orig):
            def wrapper(*a, **kw):
                with self.span(name_fn(*a, **kw) if name_fn else name):
                    return orig(*a, **kw)
            return wrapper
        self._patch(owner, attr, make)

    def install(self) -> None:
        from exact_spark import artifacts
        from exact_spark.ml import models
        from exact_spark.operators import dedup, text
        from exact_spark.plans import api, batch
        from exact_spark.registry import REGISTRY, _load_all
        from exact_spark.sources.catalog import JobCatalog

        self.wrap(batch, "read_file", "sources.ingest.read_file")
        self.wrap(batch, "canonicalize", "sources.ingest.canonicalize")
        self.wrap(batch, "evaluate_classification", "plans.batch.evaluate_classification")
        self.wrap(batch, "inject_anomalies", "operators.inject.inject_anomalies")
        self.wrap(api, "run_batch", "plans.batch.run_batch")
        for m in ("create_table", "read_data", "update_anomalies"):
            self.wrap(JobCatalog, m, f"sources.catalog.{m}")
        self.wrap(api.EngineAPI, "get_data", name_fn=lambda self_, job, from_time=None,
                  to_time=None, *a, **kw: "plans.api.get_data."
                  + ("page" if from_time is None and to_time is None else "window"))
        self.wrap(api.EngineAPI, "run_query", "plans.api.run_query")
        for m in ("run", "detect"):
            self.wrap(models.ThresholdDetector, m, f"ml.models.threshold.{m}")
        self.wrap(dedup, "pair_table_path", name_fn=lambda spark, sf_dir, method:
                  f"operators.dedup.pair_table_path.{method}")
        for b in _CHAIN_BUILDERS:
            self.wrap(dedup, b, f"operators.dedup.{b}")
        self.wrap(text, "profile_table_path", "operators.text.profile_table_path")
        self._install_materialize(artifacts)
        _load_all()
        for name, spec in list(REGISTRY.items()):
            self._install_query(REGISTRY, name, spec)

    def _install_materialize(self, artifacts) -> None:
        def make(orig):
            def wrapper(source, tag, build):
                with self.span("artifacts.materialize", built=False) as rec:
                    def counted(staging):
                        rec["built"] = True
                        return build(staging)
                    return orig(source, tag, counted)
            return wrapper
        self._patch(artifacts, "materialize", make)

    def _install_query(self, registry, name, spec) -> None:
        import dataclasses

        fn = spec.fn

        @functools.wraps(fn)
        def built(spark, sf_dir):
            with self.span("registry.build", query=name, module=fn.__module__):
                return fn(spark, sf_dir)
        registry[name] = dataclasses.replace(spec, fn=built)
        self._patches.append((registry, name, spec))

    # -- Spark counts --------------------------------------------------------
    def _attribute_spark(self, spark) -> None:
        jvm = spark._jvm
        store = spark.sparkContext._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(getattr(jvm.com.fasterxml.jackson.module.scala,
                                "DefaultScalaModule$"), "MODULE$")
        mapper.registerModule(scala)
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        stages = json.loads(mapper.writeValueAsString(
            store.stageList(None, False, False, no_quantiles, None)))

        job_t = sorted(j["submissionTime"] for j in jobs if j.get("submissionTime"))
        st = sorted((s["submissionTime"], s) for s in stages
                    if s.get("submissionTime") and s.get("status") != "SKIPPED")
        st_t = [t for t, _ in st]
        for rec in self.spans:
            lo, hi = math.floor(rec["start"] * 1000), math.ceil(rec["end"] * 1000)
            j0, j1 = bisect.bisect_left(job_t, lo), bisect.bisect_right(job_t, hi)
            s0, s1 = bisect.bisect_left(st_t, lo), bisect.bisect_right(st_t, hi)
            sel = [s for _, s in st[s0:s1]]
            rec.update(
                jobs=j1 - j0,
                tasks=sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in sel),
                cpu_ms=sum(s["executorCpuTime"] for s in sel) / 1e6,
                input_bytes=sum(s["inputBytes"] for s in sel),
                bytes_written=sum(s["outputBytes"] for s in sel),
                shuffle_bytes=sum(s["shuffleWriteBytes"] for s in sel),
                spill_bytes=sum(s["diskBytesSpilled"] for s in sel),
            )

    # -- per-layer metrics ---------------------------------------------------
    def layer_metrics(self, spark) -> dict[str, float]:
        for owner, attr, orig in reversed(self._patches):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._patches.clear()
        self._attribute_spark(spark)

        measured = [r for r in self.spans if r["end"] is not None and (
            r["start"] >= self._measure_from or r["name"].startswith("session."))]
        by_name: dict[str, list[dict]] = {}
        for r in measured:
            by_name.setdefault(r["name"], []).append(r)
        children: dict[int, list[dict]] = {}
        for r in measured:
            if r["parent"] is not None:
                children.setdefault(r["parent"], []).append(r)

        def ms(rs):
            return _med([(r["end"] - r["start"]) * 1000 for r in rs])

        def mean(rs, key):
            return sum(r[key] for r in rs) / len(rs) if rs else 0.0

        out: dict[str, float] = {}

        def layer(name, keys=("ms",)):
            rs = by_name.get(name, [])
            for k in keys:
                out[f"{name}.{k}"] = ms(rs) if k == "ms" else mean(rs, k)

        for n in ("sources.ingest.read_file", "sources.ingest.canonicalize",
                  "operators.inject.inject_anomalies", "sources.catalog.read_data",
                  "plans.batch.evaluate_classification", "session.get_spark",
                  "session.first_action"):
            layer(n)
        layer("sources.catalog.create_table", keys=("ms", "tasks", "cpu_ms", "bytes_written"))
        layer("sources.catalog.update_anomalies", keys=("ms", "bytes_written"))
        for m in ("run", "detect"):
            layer(f"ml.models.threshold.{m}")
        for kind in ("page", "window"):
            layer(f"plans.api.get_data.{kind}", keys=("ms", "tasks", "input_bytes"))
        # a builder's own build is its call straight from the chain walk;
        # the calls builders and served queries make to each other are hits
        build_ids = {r["id"] for r in by_name.get("artifacts.build", [])}
        chain = {}
        for r in measured:
            if r["parent"] in build_ids:
                chain.setdefault(r["name"], []).append(r)
        for name in [f"operators.dedup.pair_table_path.{m}" for m in _PAIR_METHODS] + [
                f"operators.dedup.{b}" for b in _CHAIN_BUILDERS] + [
                "operators.text.profile_table_path"]:
            out[f"{name}.ms"] = ms(chain.get(name, []))

        runs = by_name.get("plans.batch.run_batch", [])
        out["plans.batch.run_batch.self_ms"] = statistics.median(
            _self_ms(r, children.get(r["id"], [])) for r in runs) if runs else 0.0
        for k in ("jobs", "tasks", "cpu_ms", "shuffle_bytes", "spill_bytes"):
            out[f"plans.batch.run_batch.{k}"] = mean(runs, k)

        builds = by_name.get("artifacts.build", [])
        for k in ("tasks", "cpu_ms", "shuffle_bytes", "spill_bytes", "bytes_written"):
            out[f"artifacts.build.{k}"] = mean(builds, k)
        mats = by_name.get("artifacts.materialize", [])
        rounds = max(len(builds), 1)
        out["artifacts.materialize.builds"] = sum(r["built"] for r in mats) / rounds
        out["artifacts.materialize.hits"] = sum(not r["built"] for r in mats) / rounds

        # run_query = registry build (return the DataFrame) + execution
        queries = by_name.get("plans.api.run_query", [])
        per_module: dict[str, list[tuple]] = {}
        release: list[tuple] = []
        for q in queries:
            built = [c for c in children.get(q["id"], []) if c["name"] == "registry.build"]
            if not built:
                continue
            b = built[0]
            row = ((b["end"] - b["start"]) * 1000,
                   (q["end"] - q["start"] - (b["end"] - b["start"])) * 1000, q)
            per_module.setdefault(b["module"], []).append(row)
            if b["query"].startswith("corpus_release_"):
                release.append(row)
        out["plans.api.run_query.release.build_ms"] = _med([r[0] for r in release])
        out["plans.api.run_query.release.exec_ms"] = _med([r[1] for r in release])
        for key in _QUERY_MODULES:
            rows = per_module.get(f"exact_spark.{key}", [])
            out[f"{key}.build_ms"] = _med([r[0] for r in rows])
            out[f"{key}.exec_ms"] = _med([r[1] for r in rows])
            for k in ("jobs", "tasks", "cpu_ms"):
                out[f"{key}.{k}"] = mean([r[2] for r in rows], k)
        return out

    def write(self, path: pathlib.Path, **meta) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({**meta, "measure_from": self._measure_from,
                                    "spans": self.spans}, default=str) + "\n")


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _self_ms(rec: dict, kids: list[dict]) -> float:
    """Span duration minus the part of it that child spans cover."""
    covered, cur_s, cur_e = 0.0, None, None
    for k in sorted(kids, key=lambda r: r["start"]):
        s, e = max(k["start"], rec["start"]), min(k["end"], rec["end"])
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (rec["end"] - rec["start"] - covered) * 1000
