"""corpus_release: the corpus path, cold, then release serving.

A round copies the corpus (``data/documents.parquet``) to a fresh path.
Artifacts key on their source path, so every artifact of the release chain
then builds cold, each through its public ``*_path`` builder, in dependency
order: the four near-duplicate pair tables, duplicated spans,
contamination spans, the document profile, duplicate-group components, the
curation manifest, the release manifest and the release dataset. Then
``EngineAPI.run_query`` serves ``corpus_release_manifest`` and
``corpus_release_dataset`` from the new artifacts, in an order drawn from
the seed, each with a ``limit`` above its result size.

Set-up warms the session, untimed, by building the first two pair tables
over a copy of its own. These are the session's first Spark work and
carry most of its first-use cost: cold, they take 4-6 times as long as
warm, and vary widely from run to run, while the later builders take
about 1.4 times as long. So the measured rounds are cold for the
artifacts, not for the JVM, as for a release job in a long-running
engine.

Checks (pyarrow reads of the corpus and of the artifacts, not Spark): the
manifest holds one row per ``doc_id`` of the corpus and equals the manifest
of an earlier cold build, committed as ``data/release_manifest.parquet``;
the shipped dataset's ids are the manifest's ship set; and the manifest and
dataset that ``corpus_release_manifest`` and ``corpus_release_dataset``
build afresh when served equal them. No two shipped documents may have the
same ``final_text``: the release dataset breaks this on this corpus
(README.md, known fault 2), so its build is counted as a failed operation.

Run as a script, it builds the release manifest cold once and writes it as
the reference:

    python3 perfbench/corpus_release.py
"""

from __future__ import annotations

import pathlib
import shutil
import statistics
import tempfile
import time

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from common import Result, dir_bytes, rounds

DATA = pathlib.Path(__file__).resolve().parent / "data"
CORPUS = DATA / "documents.parquet"
REFERENCE = DATA / "release_manifest.parquet"  # the manifest of a cold build
PAIR_METHODS = ("minhash_lsh", "simhash", "ngram_jaccard", "fuzzy_edit")
CHAIN = ("substring_span_path", "contam_span_path", "profile_table_path",
         "components_path", "curation_manifest_path", "release_manifest_path",
         "release_dataset_path")
# the release manifest and the shipped dataset, each checked against its
# artifact
RELEASE = ("corpus_release_manifest", "corpus_release_dataset")
LIMIT = 100_000  # above every served result at this corpus size


def read_artifact(path: str):
    return pads.dataset(path, format="parquet", ignore_prefixes=[".", "_"]).to_table()


def by_doc_id(table) -> list[dict]:
    return table.sort_by("doc_id").to_pylist()


def rows_by_id(columns: list[str], data) -> list[tuple]:
    i = columns.index("doc_id")
    return sorted((tuple(r) for r in data), key=lambda r: r[i])


def run(spark, scratch: pathlib.Path, seed: int, seconds: float, tracer, log) -> Result:
    from exact_spark.operators import dedup, text
    from exact_spark.plans.api import EngineAPI

    t = time.perf_counter()
    res = Result()
    api = EngineAPI(spark, str(scratch / "warehouse"), str(scratch / "out"))
    tmp = pathlib.Path(tempfile.gettempdir())
    doc_ids = sorted(pq.read_table(CORPUS, columns=["doc_id"]).column("doc_id").to_pylist())
    reference = pq.read_table(REFERENCE)
    order = [RELEASE[i] for i in np.random.default_rng(seed).permutation(len(RELEASE))]

    def cold_build(corpus: pathlib.Path):
        """Build every artifact over ``corpus``: (paths, seconds, bytes)."""
        builders = [(f"pair_table_path {m}",
                     lambda m=m: dedup.pair_table_path(spark, str(corpus), m))
                    for m in PAIR_METHODS]
        builders += [(b, lambda b=b: getattr(text if b == "profile_table_path" else dedup, b)(
            spark, str(corpus))) for b in CHAIN]
        before = set(tmp.iterdir())
        build_s, times, paths = 0.0, [], {}
        with tracer.span("artifacts.build"):
            for what, build in builders:
                paths[what], secs = res.attempt(log, what, build)
                build_s += secs
                times.append(round(secs, 2))
        log(f"cold build {build_s:.2f}s: {times}")
        built = [p for p in set(tmp.iterdir()) - before if p.name.startswith("exact_spark_")]
        return paths, build_s, sum(dir_bytes(p) for p in built)

    def check_release(paths: dict) -> dict:
        """Check the release artifacts; return them by the query serving each."""
        if not (paths["release_manifest_path"] and paths["release_dataset_path"]):
            res.check(False, "release chain did not build")
            return {}
        man = read_artifact(paths["release_manifest_path"])
        data = read_artifact(paths["release_dataset_path"])
        ids = man.column("doc_id").to_pylist()
        res.check(sorted(ids) == doc_ids, "manifest: not one row per corpus doc_id")
        res.check(by_doc_id(man) == by_doc_id(reference),
                  f"manifest differs from the earlier cold build in {REFERENCE.name}")
        ship = {i for i, s in zip(ids, man.column("ship").to_pylist()) if s}
        shipped = data.column("doc_id").to_pylist()
        res.check(sorted(shipped) == sorted(ship), "dataset ids != manifest ship set")
        texts = data.column("final_text").to_pylist()
        if len(set(texts)) < len(texts):
            res.fail(log, "release_dataset_path", f"{len(texts) - len(set(texts))} shipped "
                     "documents repeat another's final_text (known fault 2)")
        return {"corpus_release_manifest": reference, "corpus_release_dataset": data}

    def one_round(corpus: pathlib.Path, log_prefix: str):
        """Copy the corpus, build the chain cold and serve the release
        queries; return (build seconds, build bytes)."""
        corpus.mkdir(parents=True)
        shutil.copyfile(CORPUS, corpus / "documents.parquet")
        paths, build_s, nbytes = cold_build(corpus)
        artifacts = check_release(paths)
        serve_ms = []
        for q in order:
            out, secs = res.attempt(log, q, lambda: api.run_query(
                q, sf_dir=str(corpus), limit=LIMIT))
            serve_ms.append(round(secs * 1000))
            if out is None:
                continue
            res.check(0 < len(out["data"]) < LIMIT, f"{q}: {len(out['data'])} rows")
            want = artifacts.get(q)
            if want is not None:
                cols = want.select(out["columns"]).to_pydict()
                ref = rows_by_id(out["columns"], zip(*cols.values()))
                res.check(rows_by_id(out["columns"], out["data"]) == ref,
                          f"{q}: served rows differ from the cold-built artifact")
        log(f"{log_prefix}: serves {dict(zip(order, serve_ms))}")
        return build_s, nbytes

    warm = scratch / "corpus" / "warmup"
    warm.mkdir(parents=True)
    shutil.copyfile(CORPUS, warm / "documents.parquet")
    for m in PAIR_METHODS[:2]:
        dedup.pair_table_path(spark, str(warm), m)
    res.metrics["warmup_s"] = time.perf_counter() - t

    tracer.begin_measure()
    build_s, build_bytes, round_s = [], [], []
    for k in rounds(seconds):
        t_round = time.perf_counter()
        with tracer.span("round"):
            secs, nbytes = one_round(scratch / "corpus" / f"c{k}", f"round {k}")
        build_s.append(secs)
        build_bytes.append(nbytes)
        round_s.append(time.perf_counter() - t_round)
        log(f"round {k}: {round_s[-1]:.2f}s")

    res.metrics.update(
        job_s=statistics.median(build_s),
        round_s=statistics.median(round_s),
        bytes_per_row=statistics.median(build_bytes) / len(doc_ids),
    )
    return res


def write_reference() -> None:
    """Build the release manifest cold over a fresh copy of the corpus and
    write it, sorted by doc_id, to REFERENCE."""
    import os

    import pyarrow as pa

    import run as bench
    import spans

    scratch = bench.ROOT / ".perfbench" / f"reference-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    bench.isolate(scratch)
    spark = None
    try:
        spark, _ = bench.start_session(scratch, spans.NullTracer())
        from exact_spark.operators import dedup

        corpus = scratch / "corpus"
        corpus.mkdir()
        shutil.copyfile(CORPUS, corpus / "documents.parquet")
        man = read_artifact(dedup.release_manifest_path(spark, str(corpus)))
        pq.write_table(pa.Table.from_pylist(by_doc_id(man), schema=man.schema), REFERENCE)
        print(f"{REFERENCE}: {man.num_rows} rows")
    finally:
        try:
            if spark is not None:
                bench.stop_session(spark)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    write_reference()
