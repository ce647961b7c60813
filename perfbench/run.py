#!/usr/bin/env python3
"""quality_filter benchmark: end-to-end metrics and per-layer self times.

Run from the repo root:

    python3 perfbench/run.py --workload crawl_resume --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload registry_frozen --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --scaling --seed 1 --seconds 10      # report only

One driver process runs one closed-loop job at a time at ``local[nproc]``
and checks every job's output against the repo's oracles.  The only
added thread is the /proc peak-RSS reader.

Workloads:

* ``crawl_resume`` — CRAWL_ROWS ``corpus.generate_pages`` rows (default
  class mix, 8 ``warc_dt`` day splits) written with
  ``io.pages.write_pages_partitioned``; the job is
  ``io.checkpoint.run_with_resume`` into a fresh output dir and manifest,
  the ``scripts/run_job.py`` production path.  Checked on a fixed URL
  sample against ``oracle.run_oracle``: keep/drop F1 and byte-identical
  extracted text.
* ``registry_frozen`` — the frozen list in ``twins.py``, each query run
  from ``__spark_entry__.queries()`` over ``perfbench/data`` (a copy of
  the sf0.01 ``documents`` test table, fixed data) and forced by
  collecting its result; each result must match its DuckDB
  ``oracle_sql()`` twin's digest.

Inputs come from ``--seed`` and are cached under ``.bench_cache`` per
(seed, size).  crawl_resume's rows are generated in GEN_CHUNKS seeded
chunks by the session's own Python workers, so the input does not depend
on the core count; generation is reported as ``gen_s`` and is outside
both ``setup_s`` and every timed window.  ``HOLDOUT_SEED`` is kept out
of development runs so a later claim can be confirmed on an unseen input.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs three
jobs (or passes).  The first, in the place of the job an untraced run
times, records spans around the calls into each layer and gives the
per-layer metrics; ``trace.overhead_ratio`` is the second job, traced
again, over the third, untraced.  The third runs a little warmer, so the
ratio errs high.  For crawl_resume the traced run then forces the prefix
plans of the scoring layers to the ``noop`` sink (a layer's self time is
the marginal between consecutive plans) and times the two UDFs' own
function bodies driver-side on a sample of the job's documents, checking
their results against the job's output.  A layer a workload does not run
reports 0.  The spans are written to ``.bench_cache/traces/<run id>.jsonl``.

Set-up (``setup_s``, from process start) is the session start, the
driver-side artifact load and a warm-up pass that spawns every Python
worker and loads the artifacts in each.  crawl_resume warms up with
``run_with_resume`` over a tiny one-split input, so the timed job runs
with every per-split code path compiled once; registry_frozen warms up
with the smallest ``tiered_scored`` pass.

Output: one ``report`` line (provenance and every metric with its unit,
zero-valued correctness counters included), then the result line
``{"correct", "attempted", "failed", "metrics"}``.  Exit code 1 when any
operation failed or mismatched its oracle, 2 when the repo is missing.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_cache")
sys.path.insert(0, HERE)

from procfs import RssReader, cpu_steal_s, wait_for_descendants  # noqa: E402
from spans import Tracer  # noqa: E402
import twins  # noqa: E402

WORKLOADS = ("crawl_resume", "registry_frozen")
HOLDOUT_SEED = 7919
# 10k rows per day split, as in a 100k-row crawl: at 8k rows per-split
# overhead was about nine tenths of the job, at 80k the scoring plan's
# noop pass is about a third of it
CRAWL_ROWS = 80000
GEN_CHUNKS = 16      # generate_pages calls per input, one Spark task each
SAMPLE_URLS = 400
KERNEL_BATCH = 2048  # the session's arrow.maxRecordsPerBatch
KERNEL_DOCS = 4 * KERNEL_BATCH  # documents per driver-side kernel
MIN_F1 = 0.99        # the mission floor for keep/drop F1

END_TO_END = {
    "setup_s": "s", "job_s": "s", "docs_per_s": "docs/s",
    "worker_rss_peak_mb": "MB", "oracle_keep_f1": "ratio",
}
# reported on the report line only: they read 0 on correct code
COUNTERS = {"fail_ratio": "ratio", "oracle_text_mismatches": "count",
            "oracle_query_mismatches": "count"}
PER_LAYER = {
    "session.start_s": "s", "models.load_s": "s", "session.warmup_s": "s",
    "pages.scan_s": "s", "pages.rows_in": "count", "pages.input_mb": "MB",
    "pages.files": "count",
    "extract.self_s": "s", "extract.rows": "count", "extract.kernel_us_per_doc": "us",
    "rules.features_self_s": "s", "rules.native_dropped": "count",
    "rules.quarantined": "count", "rules.scrub_self_s": "s",
    "score.self_s": "s", "score.rows_scored": "count", "score.spared_ratio": "ratio",
    "models.char_codes_us_per_doc": "us", "models.langid_us_per_doc": "us",
    "models.lm_us_per_doc": "us", "score.batch_ms_p50": "ms", "score.batch_ms_p90": "ms",
    "pipeline.noop_s": "s", "layers.residual_s": "s",
    "sink.self_s": "s", "sink.output_mb": "MB", "sink.write_filtered_s": "s",
    "checkpoint.splits": "count", "checkpoint.split_s_p50": "s",
    "checkpoint.split_s_max": "s", "checkpoint.orchestration_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "jvm_rss_peak_mb": "MB", "trace.overhead_ratio": "ratio",
}
for _q in twins.FROZEN_QUERIES:
    PER_LAYER[f"q.{_q}.s"] = "s"
    PER_LAYER[f"q.{_q}.jobs"] = "count"


# --------------------------------------------------------------------------
# run state
# --------------------------------------------------------------------------

class Run:
    """One benchmark process: session, artifacts, RSS reader, metrics."""

    def __init__(self, args) -> None:
        self.args = args
        self.cores = args.cores
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
        self.dir = os.path.join(CACHE, "runs", self.run_id)
        self.tracer = Tracer(self.run_id)
        self.metrics: dict[str, float] = {}
        self.provenance: dict = {}
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.rss = None

    # -- lifecycle ---------------------------------------------------------
    def setup(self, warmup) -> None:
        """Session up, artifacts loaded, warm-up pass done: ``setup_s``
        counts from process start to the end of this call."""
        from quality_filter.config import DEFAULT_ARTIFACT_DIR, load_config
        from quality_filter.models.langid import LangIdModel
        from quality_filter.models.lm import CharLM
        from quality_filter.session import get_spark

        tr = self.tracer
        with tr.span("session.start"):
            self.spark = get_spark(
                cpus=self.cores, app_name="perfbench",
                extra_conf={
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
                    "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
                },
            )
        self.rss = RssReader()
        self.rss.start()
        with tr.span("models.load"):
            self.artifact_dir = DEFAULT_ARTIFACT_DIR
            self.cfg = load_config(DEFAULT_ARTIFACT_DIR)
            self.lid = LangIdModel.load(os.path.join(DEFAULT_ARTIFACT_DIR, "langid.npz"))
            self.lm = CharLM.load(os.path.join(DEFAULT_ARTIFACT_DIR, "lm.npz"))
        with tr.span("session.warmup"):
            warmup(self)
        self.metrics["setup_s"] = time.perf_counter() - T_PROCESS
        for name in ("session.start", "models.load", "session.warmup"):
            self.metrics[f"{name}_s"] = tr.durations(name)[0]

    def close(self) -> None:
        """Stop the session, the JVM and the RSS reader; wait for every
        child process to end."""
        if self.rss is not None:
            self.rss.stop()
            self.metrics["worker_rss_peak_mb"] = self.rss.peak_mb["worker"]
            self.metrics["jvm_rss_peak_mb"] = self.rss.peak_mb["jvm"]
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
        left = wait_for_descendants(timeout=30)
        if left:
            print(f"perfbench: child processes still alive: {left}", file=sys.stderr)
        shutil.rmtree(self.dir, ignore_errors=True)

    # -- operations ----------------------------------------------------------
    def operation(self, what: str, fn):
        """Run one counted operation; an exception marks it failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            print(f"perfbench: {what} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None

    def spark_counts(self, group: str) -> dict[str, int]:
        """Jobs, stages, tasks and failed tasks of one job group."""
        st = self.spark.sparkContext.statusTracker()
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        stages = [st.getStageInfo(s) for j in jobs if j for s in j.stageIds]
        stages = [s for s in stages if s]
        return {"spark.jobs": len(jobs), "spark.stages": len(stages),
                "spark.tasks": sum(s.numTasks for s in stages),
                "spark.tasks_failed": sum(s.numFailedTasks for s in stages)}

    def timed_group(self, group: str, fn):
        """(seconds, result, spark counts) of ``fn`` run under a job group."""
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return dt, out, self.spark_counts(group)


def warmup_pages(run: Run):
    """16 generated rows per core, all of one day: one small task per core."""
    from quality_filter.corpus import generate_pages, pages_spark_schema

    pdf = generate_pages(16 * run.cores, seed=0, days=1).drop(columns=["cls"])
    return run.spark.createDataFrame(pdf, schema=pages_spark_schema()).repartition(run.cores)


def pipeline_warmup(run: Run) -> None:
    """The smallest tiered_scored pass that crosses both Arrow UDFs in one
    task per core: spawns every python worker and loads the artifacts in
    each."""
    from quality_filter.pipeline import tiered_scored

    force(tiered_scored(warmup_pages(run), run.cfg, run.artifact_dir))


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def closed_loop(seconds: float, job) -> list[float]:
    """Run ``job(i)`` back to back until ``seconds`` have passed (at least
    once); returns the wall time of each job that completed."""
    times = []
    deadline = time.perf_counter() + seconds
    i = 0
    while True:
        dt = job(i)
        if dt is not None:
            times.append(dt)
        i += 1
        if time.perf_counter() >= deadline:
            return times


def dir_stats(path: str) -> tuple[float, int]:
    """(MB, parquet file count) under ``path``."""
    size, files = 0, 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return size / 2**20, files


def pctl(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


# --------------------------------------------------------------------------
# crawl_resume
# --------------------------------------------------------------------------

def chunk_generator(seed: int, rows: int):
    """mapInPandas body: for each chunk id ``k``, the rows of
    ``generate_pages`` seeded by (seed, k), with the last 8 URL digits
    renumbered to the row's index in the whole input."""
    per_chunk = -(-rows // GEN_CHUNKS)

    def generate(batches):
        from quality_filter.corpus import generate_pages

        for batch in batches:
            for k in batch["id"]:
                first = int(k) * per_chunk
                n = min(per_chunk, rows - first)
                if n <= 0:
                    continue
                pdf = generate_pages(n, seed=seed * GEN_CHUNKS + int(k)).drop(columns=["cls"])
                index = pdf.index.to_series(index=pdf.index) + first
                pdf["url"] = pdf["url"].str[:-8] + index.map("{:08d}".format)
                yield pdf

    return generate


def crawl_input(run: Run, rows: int) -> str:
    """Day-partitioned pages table for (seed, rows), generated once."""
    from quality_filter.corpus import pages_spark_schema
    from quality_filter.io.pages import write_pages_partitioned

    path = os.path.join(CACHE, "inputs", f"crawl_s{run.args.seed}_n{rows}")
    t0 = time.perf_counter()
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = f"{path}.tmp-{run.run_id}"
        sdf = run.spark.range(GEN_CHUNKS, numPartitions=GEN_CHUNKS).mapInPandas(
            chunk_generator(run.args.seed, rows), schema=pages_spark_schema())
        write_pages_partitioned(sdf, tmp)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
        run.provenance["input_cached"] = False
    else:
        run.provenance["input_cached"] = True
    run.provenance["gen_s"] = time.perf_counter() - t0
    mb, files = dir_stats(path)
    splits = sum(d.startswith("warc_dt=") for d in os.listdir(path))
    run.provenance["input"] = {"rows": rows, "mb": mb, "files": files,
                               "splits": splits, "path": os.path.relpath(path, ROOT)}
    return path


def read_dataset(path: str, columns: list[str], filt=None):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns, filter=filt).to_pandas()


class CrawlOracle:
    """Oracle labels and text for a fixed URL sample of the input."""

    def __init__(self, run: Run, input_path: str, rows: int) -> None:
        import pyarrow.dataset as ds

        from quality_filter.oracle import run_oracle

        step = max(1, rows // SAMPLE_URLS)
        pages = read_dataset(input_path, ["url", "html", "text"])
        pages = pages[pages["url"].str[-8:].astype(int) % step == 0]
        self.urls = pages["url"].tolist()
        res = run_oracle(pages, run.cfg, models=(run.lid, run.lm))
        self.keep = dict(zip(res["url"], res["keep"]))
        self.text = dict(zip(res["url"], res["extracted_text"]))
        self.filter = ds.field("url").isin(self.urls)

    def compare(self, output_path: str) -> tuple[float, int]:
        """(keep F1, text mismatches) of one job's output on the sample."""
        out = read_dataset(output_path, ["url", "keep", "extracted_text"], self.filter)
        got_keep = dict(zip(out["url"], out["keep"]))
        got_text = dict(zip(out["url"], out["extracted_text"]))
        tp = sum(1 for u in self.urls if self.keep[u] and got_keep.get(u) is True)
        fp = sum(1 for u in self.urls if not self.keep[u] and got_keep.get(u) is True)
        fn = sum(1 for u in self.urls if self.keep[u] and got_keep.get(u) is not True)
        f1 = 2 * tp / (2 * tp + fp + fn) if tp + fp + fn else 1.0
        mism = sum(
            1 for u in self.urls
            if u not in got_text or not _same_text(got_text[u], self.text[u])
        )
        return f1, mism


def _same_text(a, b) -> bool:
    missing_a = a is None or a != a  # NULL arrives as None or NaN
    missing_b = b is None or b != b
    return missing_a == missing_b and (missing_a or a == b)


def crawl_warmup(run: Run) -> None:
    """run_with_resume over a tiny one-split input: starts every python
    worker, loads the artifacts in each and runs each per-split code path
    once.  A warm-up over all 8 splits took 10 s longer and saved only
    about 1.5 s of the first timed job."""
    from quality_filter.io.checkpoint import run_with_resume
    from quality_filter.io.pages import write_pages_partitioned

    warm = os.path.join(run.dir, "warmup")
    write_pages_partitioned(warmup_pages(run), os.path.join(warm, "in"))
    run_with_resume(run.spark, os.path.join(warm, "in"), os.path.join(warm, "out"),
                    os.path.join(warm, "manifest.jsonl"), run.cfg, run.artifact_dir)


def crawl_job(run: Run, input_path: str, i: int) -> tuple[float, dict, str, str]:
    """One run_with_resume job into a fresh output dir and manifest."""
    from quality_filter.io.checkpoint import run_with_resume

    out = os.path.join(run.dir, f"out{i}")
    manifest = os.path.join(run.dir, f"manifest{i}.jsonl")
    dt, summary, counts = run.timed_group(
        f"crawl{i}", lambda: run_with_resume(run.spark, input_path, out, manifest,
                                             run.cfg, run.artifact_dir))
    if len(summary["splits_processed"]) != summary["splits_total"]:
        raise RuntimeError(f"splits not all processed: {summary}")
    if counts["spark.tasks_failed"]:
        raise RuntimeError(f"{counts['spark.tasks_failed']} failed Spark tasks")
    return dt, counts, out, manifest


def read_manifest(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def check_crawl_output(run: Run, oracle: CrawlOracle, out: str, manifest: str,
                       rows: int) -> None:
    rows_out = sum(r["rows_out"] for r in read_manifest(manifest))
    f1, mism = oracle.compare(out)
    run.metrics["oracle_keep_f1"] = min(run.metrics.get("oracle_keep_f1", 1.0), f1)
    run.metrics["oracle_text_mismatches"] = run.metrics.get("oracle_text_mismatches", 0) + mism
    if rows_out != rows or f1 < MIN_F1 or mism:
        raise RuntimeError(f"oracle mismatch: rows_out={rows_out}/{rows} "
                           f"keep_f1={f1:.4f} text_mismatches={mism}")


def workload_crawl_resume(run: Run) -> None:
    rows = run.args.rows
    input_path = crawl_input(run, rows)
    oracle = CrawlOracle(run, input_path, rows)
    jobs: list[tuple[float, dict, str, str]] = []

    def one_job(i: int) -> float | None:
        def job():
            res = crawl_job(run, input_path, i)
            jobs.append(res)
            check_crawl_output(run, oracle, res[2], res[3], rows)
            return res[0]
        dt = run.operation(f"crawl_resume job {i}", job)
        if len(jobs) > 1:  # keep the first output, for the traced run
            shutil.rmtree(jobs[-1][2], ignore_errors=True)
        return dt

    if run.args.trace:
        crawl_traced(run, input_path, one_job, jobs)
        return
    times = closed_loop(run.args.seconds, one_job)
    run.provenance["job_s_samples"] = times
    if times:
        job_s = statistics.median(times)
        run.metrics.update(job_s=job_s, docs_per_s=rows / job_s)


def crawl_traced(run: Run, input_path: str, one_job, jobs) -> None:
    """The traced run: three jobs, then the prefix plans and the kernels.
    The first job, like the one an untraced run times, runs with spans
    around the calls run_with_resume makes and gives the per-layer
    metrics.  The second, traced again, over the third, untraced, is the
    tracing overhead; the third runs a little warmer, so the ratio errs
    high."""
    from quality_filter.io import checkpoint

    def traced_job(tracer: Tracer, i: int):
        restore = [
            tracer.wrap(checkpoint, "run_with_resume", "checkpoint.run_with_resume"),
            tracer.wrap(checkpoint, "list_splits", "checkpoint.list_splits"),
            tracer.wrap(checkpoint, "read_pages", "pages.read_pages"),
            tracer.wrap(checkpoint, "tiered_scored", "pipeline.tiered_scored"),
            tracer.wrap(checkpoint.Manifest, "mark_done", "checkpoint.mark_done"),
        ]
        try:
            return one_job(i)
        finally:
            for r in restore:
                r()

    tr, m = run.tracer, run.metrics
    job_s = traced_job(tr, 0)
    retraced_s = traced_job(Tracer(run.run_id), 1)
    untraced_s = one_job(2)
    if None in (job_s, untraced_s, retraced_s):
        return
    _, counts, out, manifest = jobs[0]
    m.update(counts)
    m["trace.overhead_ratio"] = retraced_s / untraced_s
    split_s = [r["wall_sec"] for r in read_manifest(manifest)]
    job_span = tr.durations("checkpoint.run_with_resume")[0]
    m.update({
        "checkpoint.splits": len(split_s),
        "checkpoint.split_s_p50": statistics.median(split_s),
        "checkpoint.split_s_max": max(split_s),
        # driver-side work between the split writes: listing, plan
        # building and manifest commits
        "checkpoint.orchestration_s": job_span - tr.self_time("checkpoint.run_with_resume"),
        "sink.output_mb": dir_stats(out)[0],
    })
    run.operation("per-layer analysis", lambda: crawl_layers(run, input_path, out, job_s))


def crawl_layers(run: Run, input_path: str, out: str, job_s: float) -> None:
    """Prefix-plan marginals, the single-pass sink, row counts and the
    kernels of the traced job, whose output is ``out``."""
    from quality_filter.pipeline import write_filtered

    tr, m = run.tracer, run.metrics
    best = {}
    for name, df in prefix_plans(run, input_path):
        with tr.span(f"plan.{name}"):
            force(df)
        best[name] = tr.durations(f"plan.{name}")[0]
    m.update({
        "pages.scan_s": best["scan"],
        "extract.self_s": best["extract"] - best["scan"],
        "rules.features_self_s": best["rules"] - best["extract"],
        "score.self_s": best["score"] - best["rules"],
        "rules.scrub_self_s": best["scrub"] - best["score"],
        "pipeline.noop_s": best["full"],
        "layers.residual_s": best["full"] - best["scrub"],
        "sink.self_s": job_s - best["full"],
    })
    with tr.span("sink.write_filtered"):
        write_filtered(run.spark.read.parquet(input_path), os.path.join(run.dir, "wf"),
                       run.cfg, run.artifact_dir)
    m["sink.write_filtered_s"] = tr.durations("sink.write_filtered")[0]

    pages = read_dataset(input_path, ["url", "html", "text"])
    scored = read_dataset(out, ["url", "status", "lang_pred", "ppl", "extracted_text"])
    n_scored = int(scored["lang_pred"].notna().sum())
    quarantined = int((scored["status"] == "quarantine").sum())
    html_rows = pages[pages["text"].isna() & pages["html"].notna()]
    mb, files = dir_stats(input_path)
    m.update({
        "pages.rows_in": len(pages), "pages.input_mb": mb, "pages.files": files,
        "extract.rows": len(html_rows), "rules.quarantined": quarantined,
        "rules.native_dropped": len(scored) - quarantined - n_scored,
        "score.rows_scored": n_scored, "score.spared_ratio": 1 - n_scored / len(pages),
    })
    kernels(run, html_rows, scored)


def prefix_plans(run: Run, input_path: str):
    """The scoring plan cut after each layer.  The cuts are DataFrames
    that ``pipeline.tiered_scored`` itself builds: every DataFrame its
    ``withColumn``, ``withColumns`` and ``select`` calls return is
    recorded, and a cut is the first one that carries the layer's output
    column.  A plan that no longer builds one of them fails the run."""
    from quality_filter.io.pages import read_pages
    from quality_filter.pipeline import tiered_scored

    pages = read_pages(run.spark, input_path)
    cls = type(pages)
    built = []
    originals = {n: getattr(cls, n) for n in ("withColumn", "withColumns", "select")}

    def recording(orig):
        def method(self, *args, **kwargs):
            df = orig(self, *args, **kwargs)
            built.append(df)
            return df
        return method

    for n, orig in originals.items():
        setattr(cls, n, recording(orig))
    try:
        full = tiered_scored(pages, run.cfg, run.artifact_dir)
    finally:
        for n, orig in originals.items():
            setattr(cls, n, orig)

    def first_with(column: str):
        for df in built:
            if column in df.columns:
                return df
        raise RuntimeError(f"tiered_scored no longer builds a {column!r} column: "
                           "the prefix-plan cuts need updating")

    score = first_with("_score")
    # the scrub column is added with the other output columns; keeping
    # only it lets Catalyst prune the rest
    scrub = first_with("scrubbed_text").select(*score.columns, "scrubbed_text")
    return [("scan", pages), ("extract", first_with("extracted_text")),
            ("rules", first_with("_hard_reasons")), ("score", score),
            ("scrub", scrub), ("full", full)]


def kernels(run: Run, html_rows, scored) -> None:
    """Driver-side, single-threaded timings of the two UDFs' own function
    bodies on KERNEL_BATCH-row batches of up to KERNEL_DOCS of the job's
    documents.  Their results must equal the job's output for the same
    URLs, so the timed code is the code the job ran."""
    import numpy as np
    import pandas as pd

    from quality_filter.models.langid import LangIdModel
    from quality_filter.models.lm import CharLM
    from quality_filter.operators.extract import extract_text_udf
    from quality_filter.operators.score import make_score_udf

    tr, m = run.tracer, run.metrics
    by_url = scored.set_index("url")

    def sample(df):
        order = df["url"].str[-8:].astype(int).sort_values().index
        return df.loc[order[:KERNEL_DOCS]]

    def batches(df):
        return [df.iloc[i:i + KERNEL_BATCH] for i in range(0, len(df), KERNEL_BATCH)]

    docs = sample(html_rows)
    got = []
    for b in batches(docs):
        with tr.span("kernel.extract"):
            got.append(extract_text_udf.func(b["html"].reset_index(drop=True)))
    got = pd.concat(got, ignore_index=True) if got else pd.Series([], dtype=object)
    # quarantined rows (empty or undecodable) carry NULL text in the output
    want = by_url.loc[docs["url"], "extracted_text"].tolist()
    bad = sum(not _same_text(g or None, w) for g, w in zip(got, want))

    score_fn = make_score_udf(run.artifact_dir, run.cfg.profile).func
    alive = sample(scored[scored["lang_pred"].notna()].reset_index(drop=True))
    next(score_fn(iter([alive["extracted_text"].head(16)])))  # loads the models
    restore = [tr.wrap(LangIdModel, "predict_batch_codes", "kernel.langid"),
               tr.wrap(CharLM, "perplexity_batch_codes", "kernel.lm")]
    per_batch, frames = [], []
    try:
        for b in batches(alive):
            with tr.span("kernel.score_batch"):
                frames.extend(score_fn(iter([b["extracted_text"].reset_index(drop=True)])))
            per_batch.append(tr.durations("kernel.score_batch")[-1])
    finally:
        for r in restore:
            r()
    res = pd.concat(frames, ignore_index=True)
    bad += int((res["lang_pred"].to_numpy() != alive["lang_pred"].to_numpy()).sum())
    bad += int((~np.isclose(res["ppl"].to_numpy(), alive["ppl"].to_numpy(),
                            rtol=1e-9, atol=0.0, equal_nan=True)).sum())
    if bad:
        raise RuntimeError(f"{bad} driver-side kernel results differ from the job's output")

    def us_per_doc(total_s: float, n: int) -> float:
        return 1e6 * total_s / max(1, n)

    m.update({
        "extract.kernel_us_per_doc": us_per_doc(sum(tr.durations("kernel.extract")), len(docs)),
        # the UDF body outside both models: lowering, char codes, output frame
        "models.char_codes_us_per_doc": us_per_doc(tr.self_time("kernel.score_batch"), len(alive)),
        "models.langid_us_per_doc": us_per_doc(sum(tr.durations("kernel.langid")), len(alive)),
        "models.lm_us_per_doc": us_per_doc(sum(tr.durations("kernel.lm")), len(alive)),
        "score.batch_ms_p50": 1e3 * pctl(per_batch, 0.5),
        "score.batch_ms_p90": 1e3 * pctl(per_batch, 0.9),
    })


# --------------------------------------------------------------------------
# registry_frozen
# --------------------------------------------------------------------------

def workload_registry_frozen(run: Run) -> None:
    import pyarrow.parquet as pq

    import __spark_entry__ as E

    queries = E.queries()
    expected = twins.expected(E.oracle_sql())
    doc_rows = pq.read_metadata(twins.DOCS_PATH).num_rows
    _, files = dir_stats(twins.DOCS_DIR)
    run.provenance["input"] = {
        "rows": doc_rows, "mb": os.path.getsize(twins.DOCS_PATH) / 2**20, "files": files,
        "path": os.path.relpath(twins.DOCS_DIR, ROOT),
        "frozen_version": twins.FROZEN_VERSION,
    }
    mismatches = checked = 0

    def one_pass(i: int, tracer: Tracer | None, names=twins.FROZEN_QUERIES):
        nonlocal mismatches, checked
        total, per_query, counts = 0.0, {}, {}
        for name in names:
            def query():
                df = queries[name](run.spark, twins.DOCS_DIR)
                return df.columns, [tuple(r) for r in df.collect()]

            def op():
                if tracer:
                    with tracer.span(f"q.{name}"):
                        return run.timed_group(f"p{i}.{name}", query)
                return run.timed_group(f"p{i}.{name}", query)

            res = run.operation(f"query {name}", op)
            if res is None:
                continue
            dt, (cols, rows), c = res
            want = expected[name]
            checked += 1
            failed = c["spark.tasks_failed"] > 0
            if want is None or twins.digest(cols, rows) != {
                    k: want[k] for k in ("cols", "rows", "sha256")}:
                mismatches += 1
                failed = True
                why = "its twin digest is stale" if want is None else "differs from its twin"
                print(f"perfbench: {name}: {why}", file=sys.stderr)
            run.failed += failed
            total += dt
            per_query[name] = (dt, c)
            for k, v in c.items():
                counts[k] = counts.get(k, 0) + v
        return total, per_query, counts

    if not run.args.trace:
        passes = []

        def timed_pass(i: int) -> float:
            passes.append(one_pass(i, None))
            return passes[-1][0]

        totals = closed_loop(run.args.seconds, timed_pass)
        job_s = statistics.median(totals)
        run.provenance["job_s_samples"] = totals
        run.provenance["query_s"] = [{q: v[0] for q, v in p[1].items()} for p in passes]
    else:
        # as for crawl_resume: per-layer metrics from the first pass, the
        # overhead from the second, traced, over the third, untraced.  Those
        # two leave out the longest query, so the traced run ends within
        # 180 s; every query is traced alike, by one span.
        job_s, per_query, counts = one_pass(0, run.tracer)
        pair = [q for q in twins.FROZEN_QUERIES if q != "corpus_curation_v3"]
        retraced_s = one_pass(1, Tracer(run.run_id), pair)[0]
        untraced_s = one_pass(2, None, pair)[0]
        run.metrics.update(counts)
        run.metrics["trace.overhead_ratio"] = retraced_s / untraced_s if untraced_s else 0.0
        for name, (_, c) in per_query.items():
            run.metrics[f"q.{name}.s"] = run.tracer.self_time(f"q.{name}")
            run.metrics[f"q.{name}.jobs"] = c["spark.jobs"]
    if job_s:
        # documents read per second over the list: job_s rescaled
        run.metrics.update(job_s=job_s,
                           docs_per_s=doc_rows * len(twins.FROZEN_QUERIES) / job_s)
    run.metrics.update(
        # for this workload: the share of query results matching their twin
        oracle_keep_f1=1 - mismatches / max(1, checked),
        oracle_query_mismatches=mismatches,
    )


# --------------------------------------------------------------------------
# provenance, scaling, entry point
# --------------------------------------------------------------------------

def provenance(run: Run) -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = "unknown (not a git checkout)"
    art = os.path.join(ROOT, "artifacts")
    shas = {}
    for n in sorted(os.listdir(art)):
        with open(os.path.join(art, n), "rb") as f:
            shas[n] = hashlib.sha256(f.read()).hexdigest()
    return {
        "workload": run.args.workload, "seed": run.args.seed, "holdout_seed": HOLDOUT_SEED,
        "trace": run.args.trace, "seconds": run.args.seconds, "run_id": run.run_id,
        "nproc": len(os.sched_getaffinity(0)), "master": f"local[{run.cores}]",
        "versions": {"python": sys.version.split()[0], "spark": pyspark.__version__,
                     "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
                     "pandas": pandas.__version__, "duckdb": duckdb.__version__},
        "git_commit": commit, "artifacts_sha256": shas,
    }


def scaling(args) -> int:
    """Report only: crawl_resume docs/s at local[1] and local[nproc] on
    the same input; scaling_eff is their ratio over nproc."""
    n = len(os.sched_getaffinity(0))
    dps = {}
    for cores in (1, n):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", "crawl_resume",
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
               "--cores", str(cores), "--rows", str(args.rows)]
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=1800)
        sys.stderr.write(p.stderr[-2000:])
        if p.returncode != 0:
            print(f"perfbench: scaling run at local[{cores}] failed", file=sys.stderr)
            return 1
        dps[cores] = json.loads(p.stdout.strip().splitlines()[-1])["metrics"]["docs_per_s"]["value"]
    eff = dps[n] / dps[1] / n
    print(json.dumps({"correct": True, "attempted": 2, "failed": 0, "metrics": {
        "docs_per_s_local1": {"value": dps[1], "unit": "docs/s"},
        f"docs_per_s_local{n}": {"value": dps[n], "unit": "docs/s"},
        "scaling_eff": {"value": eff, "unit": "ratio"}}}))
    return 0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="local[N] cores (default: nproc)")
    ap.add_argument("--rows", type=int, default=CRAWL_ROWS,
                    help=f"crawl_resume input rows (default {CRAWL_ROWS})")
    ap.add_argument("--scaling", action="store_true",
                    help="report crawl_resume scaling from local[1] to local[nproc]")
    args = ap.parse_args(argv)
    if not args.scaling and args.workload is None:
        ap.error("--workload is required")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in ("quality_filter", "__spark_entry__.py", "artifacts", "scripts")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a quality_filter checkout, missing {missing}", file=sys.stderr)
        return 2
    if args.scaling:
        return scaling(args)

    # workers import quality_filter from the checkout; every scratch file
    # Spark, the JVM and Python write stays under .bench_cache
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    for var, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "spark-local")):
        os.environ[var] = os.path.join(CACHE, sub)
        os.makedirs(os.environ[var], exist_ok=True)

    run = Run(args)
    os.makedirs(run.dir, exist_ok=True)
    steal0 = cpu_steal_s()
    try:
        warmup, workload = {
            "crawl_resume": (crawl_warmup, workload_crawl_resume),
            "registry_frozen": (pipeline_warmup, workload_registry_frozen),
        }[args.workload]
        run.operation("set-up", lambda: run.setup(warmup))
        if run.spark is not None:
            workload(run)
    finally:
        run.close()
    run.provenance.update(provenance(run))
    # time the host took away from this VM: explains a slow run
    run.provenance["cpu_steal_s"] = cpu_steal_s() - steal0
    run.provenance["wall_s"] = time.perf_counter() - T_PROCESS

    m = run.metrics
    m["fail_ratio"] = run.failed / max(1, run.attempted)
    m.setdefault("oracle_text_mismatches", 0)
    m.setdefault("oracle_query_mismatches", 0)
    wanted = PER_LAYER if args.trace else END_TO_END
    for k in wanted:
        m.setdefault(k, 0.0)  # a layer this workload does not run, or a failed job
    units = {**END_TO_END, **COUNTERS, **PER_LAYER}
    report = {k: {"value": v, "unit": units[k]} for k, v in sorted(m.items()) if k in units}
    if args.trace:
        os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
        trace_path = os.path.join(CACHE, "traces", f"{run.run_id}.jsonl")
        run.tracer.write(trace_path)
        run.provenance["trace_file"] = os.path.relpath(trace_path, ROOT)
    print(json.dumps({"report": {"provenance": run.provenance, "metrics": report}}))
    ok = run.failed == 0 and run.attempted > 1
    print(json.dumps({
        "correct": ok, "attempted": run.attempted, "failed": run.failed,
        "metrics": {k: {"value": m[k], "unit": units[k]} for k in wanted},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
