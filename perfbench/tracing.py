"""The traced pass: per-layer metrics, measured from outside the program.

Two sources, both recorded as in-memory spans ``(name, start, end,
parent, id)`` and written out once at the end:

* **algo pass**: the public functions of ``algo.*`` called one by one on
  a fixed, stratified sample of the seed's base pages in this process
  (no Spark), one span per call with the page url as id;
* **Spark steps**: the workload rebuilt as a chain of prefix actions
  (scan -> latest crawl -> extraction -> scoring -> report), each run
  under its own job group. Each action's stages, with submission and
  completion times and executor metrics from the driver's REST API, are
  child spans of the action's span. A layer's Spark cost is its action
  minus its prefix action.

Untraced and traced repetitions of the full workload alternate, which
gives the tracing overhead and the untraced ``docs_per_s`` that
``spark.tax_frac`` compares with the single-process kernel rate.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import urllib.request
from collections.abc import Callable
from contextlib import contextmanager
from datetime import datetime, timezone

from stats import median, self_time

SAMPLE_PER_RESIDUE = 10  # algo pass: 10 pages per doc_id % 80 class
TRACED_REPS = 2  # untraced/traced repetition pairs for the overhead
OUT_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".out")

PER_LAYER_UNITS = {
    "algo.encoding.sniff_decode.us_per_doc": "us",
    "algo.htmlseg.segment.us_per_doc": "us",
    "algo.htmlseg.segment.paragraphs_per_doc": "count",
    "algo.justext.classify.us_per_doc": "us",
    "algo.justext.extract_bytes.us_per_doc": "us",
    "algo.textdensity.extract_bytes_density.us_per_doc": "us",
    "algo.bte.extract_bytes_bte.us_per_doc": "us",
    "algo.tokenize.tokens.us_per_doc": "us",
    "algo.metrics.score_texts.us_per_doc": "us",
    "algo.metrics.score_texts.fast_path_frac": "ratio",
    "algo.metrics.lcs_matched.us_per_call": "us",
    "algo.metrics.bow_matched.us_per_call": "us",
    "algo.kernel.us_per_doc": "us",
    "sources.readers.scan_s": "s",
    "operators.extract.latest_crawl.stage_s": "s",
    "operators.extract.latest_crawl.shuffle_write_mb": "MB",
    "operators.extract.kernel.executor_run_s": "s",
    "operators.extract.kernel.task_max_over_p50": "ratio",
    "operators.score.kernel.executor_run_s": "s",
    "operators.score.broadcast_mb": "MB",
    "operators.report.stage_s": "s",
    "plans.jobs.run_extraction_job.s": "s",
    "plans.jobs.run_score_job.s": "s",
    "sources.catalog.commits": "count",
    "sources.catalog.bytes_written_mb": "MB",
    "spark.jvm_gc_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.tasks": "count",
    "spark.driver_self_s": "s",
    "spark.tax_frac": "ratio",
    "setup.session_s": "s",
    "setup.inputs_s": "s",
    "setup.warmup_s": "s",
    "trace.overhead_frac": "ratio",
}


class Tracer:
    """In-memory spans on the epoch clock (the REST API's stage times are
    epoch times); written out once by ``dump``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._epoch_offset = time.time() - time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: str | None, ident: str | None) -> None:
        self.spans.append(
            {"name": name, "start": start, "end": end, "parent": parent, "id": ident}
        )

    @contextmanager
    def span(self, name: str, ident: str):
        """A top-level span around the ``with`` body."""
        t0 = time.time()
        try:
            yield
        finally:
            self.add(name, t0, time.time(), None, ident)

    def timed_call(self, name: str, ident: str, fn: Callable, *args):
        """``fn(*args)`` as a child span of the algo pass; returns
        (result, microseconds)."""
        t0 = time.perf_counter()
        out = fn(*args)
        t1 = time.perf_counter()
        self.add(name, t0 + self._epoch_offset, t1 + self._epoch_offset, "algo", ident)
        return out, (t1 - t0) * 1e6


# -- algo pass -----------------------------------------------------------------


def sample_pages(base):
    """Latest-crawl base pages, SAMPLE_PER_RESIDUE per doc_id % 80 class,
    with their gold text."""
    from inputs import RESIDUES
    from oracle.run_oracle import oracle_latest_crawl, oracle_pages

    docs = base[base["doc_id"] // RESIDUES < SAMPLE_PER_RESIDUE]
    latest = oracle_latest_crawl(oracle_pages(docs))
    gold = dict(zip(latest["url"], latest["text"], strict=True))
    return [
        (url, raw, lang, gold[url])
        for url, raw, lang in zip(latest["url"], latest["html"], latest["lang"], strict=True)
    ]


def algo_pass(tracer: Tracer, pages, workload: str) -> dict[str, float]:
    from text_extraction_evaluation_spark.algo.bte import extract_bytes_bte
    from text_extraction_evaluation_spark.algo.encoding import sniff_decode
    from text_extraction_evaluation_spark.algo.htmlseg import segment
    from text_extraction_evaluation_spark.algo.justext import classify, extract_bytes
    from text_extraction_evaluation_spark.algo.metrics import (
        bow_matched,
        lcs_matched,
        score_texts,
    )
    from text_extraction_evaluation_spark.algo.textdensity import extract_bytes_density
    from text_extraction_evaluation_spark.algo.tokenize import tokens

    extractors = {
        "justext_spark": ("algo.justext.extract_bytes", lambda raw, lang: extract_bytes(raw, lang)),
        "textdensity": ("algo.textdensity.extract_bytes_density", lambda raw, _l: extract_bytes_density(raw)),
        "bte": ("algo.bte.extract_bytes_bte", lambda raw, _l: extract_bytes_bte(raw)),
    }
    us: dict[str, list[float]] = {}
    score_us = {ex: [] for ex in extractors}
    extract_us = {ex: [] for ex in extractors}
    n_paragraphs, fast = [], 0

    def call(name, ident, fn, *args):
        out, t = tracer.timed_call(name, ident, fn, *args)
        us.setdefault(name, []).append(t)
        return out

    with tracer.span("algo", workload):
        for url, raw, lang, gold in pages:
            text, _codec = call("algo.encoding.sniff_decode", url, sniff_decode, raw)
            paragraphs = call("algo.htmlseg.segment", url, segment, text)
            n_paragraphs.append(len(paragraphs))
            call("algo.justext.classify", url, classify, paragraphs, lang)
            for ex, (name, fn) in extractors.items():
                res = call(name, url, fn, raw, lang)
                extract_us[ex].append(us[name][-1])
                rt = call("algo.tokenize.tokens", url, tokens, res.text)
                gt = call("algo.tokenize.tokens", url, tokens, gold)
                call("algo.metrics.score_texts", url, score_texts, res.text, gold)
                score_us[ex].append(us["algo.metrics.score_texts"][-1])
                if rt == gt:
                    fast += 1
                else:
                    call("algo.metrics.lcs_matched", url, lcs_matched, rt, gt)
                    call("algo.metrics.bow_matched", url, bow_matched, rt, gt)

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    n_scores = len(us["algo.metrics.score_texts"])
    out = {
        f"{name}.us_per_doc": mean(us[name])
        for name in (
            "algo.encoding.sniff_decode", "algo.htmlseg.segment",
            "algo.justext.classify", "algo.justext.extract_bytes",
            "algo.textdensity.extract_bytes_density", "algo.bte.extract_bytes_bte",
            "algo.metrics.score_texts",
        )
    }
    # one document's tokenization: its extracted text and its gold text
    out["algo.tokenize.tokens.us_per_doc"] = 2 * mean(us["algo.tokenize.tokens"])
    out["algo.htmlseg.segment.paragraphs_per_doc"] = mean(n_paragraphs)
    out["algo.metrics.score_texts.fast_path_frac"] = fast / n_scores
    out["algo.metrics.lcs_matched.us_per_call"] = mean(us.get("algo.metrics.lcs_matched", []))
    out["algo.metrics.bow_matched.us_per_call"] = mean(us.get("algo.metrics.bow_matched", []))
    per_ex = {ex: mean(extract_us[ex]) + mean(score_us[ex]) for ex in extractors}
    # the kernel path one document takes through the workload
    out["algo.kernel.us_per_doc"] = (
        sum(per_ex.values()) if workload == "ranking" else per_ex["justext_spark"]
    )
    return out


# -- Spark stage metrics ---------------------------------------------------------


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=timezone.utc).timestamp()


class StageReader:
    """Stage metrics of one job group, from ``statusTracker()`` (which
    jobs and stages, and when they are done) and the driver's REST API
    (times and executor metrics)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.sc = sc
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.api = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.api}/{path}", timeout=30) as r:
            return json.load(r)

    @contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def stages(self, group: str, timeout: float = 30.0) -> list[dict]:
        """Completed stage attempts of ``group``'s jobs, once the status
        store has recorded every job's end."""
        tracker = self.sc.statusTracker()
        deadline = time.time() + timeout
        while True:
            job_ids = tracker.getJobIdsForGroup(group)
            infos = [tracker.getJobInfo(j) for j in job_ids]
            if all(i is not None and i.status != "RUNNING" for i in infos):
                break
            if time.time() > deadline:
                raise TimeoutError(f"jobs of {group} still running")
            time.sleep(0.05)
        stage_ids = sorted({s for i in infos for s in i.stageIds})
        out = []
        for sid in stage_ids:
            for st in self._get(f"stages/{sid}"):
                if st["status"] != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                tasks = self._get(
                    f"stages/{sid}/{st['attemptId']}/taskList?length=1000000"
                )
                out.append(
                    {
                        "stage": f"{sid}.{st['attemptId']}",
                        "start": _epoch(st["submissionTime"]),
                        "end": _epoch(st["completionTime"]),
                        "tasks": st["numCompleteTasks"],
                        "executor_run_s": st["executorRunTime"] / 1e3,
                        "executor_cpu_s": st["executorCpuTime"] / 1e9,
                        "jvm_gc_s": st["jvmGcTime"] / 1e3,
                        "input_mb": st["inputBytes"] / 1e6,
                        "shuffle_read_mb": st["shuffleReadBytes"] / 1e6,
                        "shuffle_write_mb": st["shuffleWriteBytes"] / 1e6,
                        "result_mb": st.get("resultSize", 0) / 1e6,
                        "scheduler_delay_s": sum(t.get("schedulerDelay", 0) for t in tasks) / 1e3,
                        "task_run_s": [t["taskMetrics"]["executorRunTime"] / 1e3 for t in tasks if "taskMetrics" in t],
                    }
                )
        return out


def _sum(stages: list[dict], key: str) -> float:
    return sum(s[key] for s in stages)


def _stage_s(stages: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in stages)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def spark_steps(bench, reader: StageReader, tracer: Tracer) -> tuple[dict, dict]:
    """Run the workload's prefix actions; returns (metrics, stages per step)."""
    from workloads import EXTRACT_OPS, fresh_root, ranking_scores, union

    from text_extraction_evaluation_spark.operators.extract import latest_crawl
    from text_extraction_evaluation_spark.operators.report import ranked_report
    from text_extraction_evaluation_spark.operators.score import score_extracted
    from text_extraction_evaluation_spark.plans.jobs import read_extracted, run_extraction_job, run_score_job
    from text_extraction_evaluation_spark.sources.catalog import LocalCatalog

    spark, inputs, name = bench.spark, bench.inputs, bench.wl.name
    stages: dict[str, list[dict]] = {}
    walls: dict[str, float] = {}

    def step(layer: str, action: Callable[[], object]) -> None:
        with reader.group(layer):
            t0 = time.time()
            action()
            t1 = time.time()
        tracer.add(layer, t0, t1, "spark-steps", name)
        stages[layer] = reader.stages(layer)
        walls[layer] = t1 - t0
        for s in stages[layer]:
            tracer.add(f"stage {s['stage']}", s["start"], s["end"], layer, name)

    def pages():
        return spark.read.parquet(inputs.pages)

    def latest():
        return latest_crawl(pages())

    def gold():
        return spark.read.parquet(inputs.gold)

    root = fresh_root(inputs)
    chain: list[tuple[str, str | None, Callable[[], object]]] = [
        ("sources.readers", None, lambda: noop(pages())),
        ("operators.extract.latest_crawl", "sources.readers", lambda: noop(latest())),
    ]
    if name == "ranking":
        chain += [
            ("operators.extract.kernel", "operators.extract.latest_crawl",
             lambda: noop(union([op(latest()) for op in EXTRACT_OPS.values()]))),
            ("operators.score.kernel", "operators.extract.kernel",
             lambda: noop(ranking_scores(spark, inputs))),
            ("operators.report", "operators.score.kernel",
             lambda: ranked_report(ranking_scores(spark, inputs)).collect()),
        ]
    else:
        chain += [
            ("operators.extract.kernel", "operators.extract.latest_crawl",
             lambda: noop(EXTRACT_OPS["justext_spark"](latest()))),
            ("plans.jobs.run_extraction_job", None,
             lambda: run_extraction_job(spark, latest(), root, max_concurrent_chunks=1)),
            ("sources.catalog", None, lambda: noop(read_extracted(spark, root))),
            ("operators.score.kernel", "sources.catalog",
             lambda: noop(score_extracted(read_extracted(spark, root), gold()))),
            ("plans.jobs.run_score_job", None, lambda: run_score_job(spark, root, gold())),
        ]
    prefix = {}
    try:
        for layer, pre, action in chain:
            step(layer, action)
            prefix[layer] = pre
        commits = bytes_written = 0
        if name == "extract-commit":
            cat = LocalCatalog(root)
            for table in ("extracted", "run_metrics", "scores", "report"):
                commits += len(cat.committed_chunks(table))
            for dirpath, _dirs, files in os.walk(root):
                bytes_written += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    def delta(layer: str, fn: Callable[[list[dict]], float]) -> float:
        if layer not in stages:
            return 0.0
        pre = prefix[layer]
        return fn(stages[layer]) - (fn(stages[pre]) if pre else 0.0)

    def run_s(st):
        return _sum(st, "executor_run_s")

    kernel_tasks = []
    if "operators.extract.kernel" in stages:
        kernel_stage = max(stages["operators.extract.kernel"], key=lambda s: s["executor_run_s"])
        kernel_tasks = kernel_stage["task_run_s"]
    metrics = {
        "sources.readers.scan_s": _stage_s(stages["sources.readers"]),
        "operators.extract.latest_crawl.stage_s": delta("operators.extract.latest_crawl", _stage_s),
        "operators.extract.latest_crawl.shuffle_write_mb": _sum(
            stages.get("operators.extract.latest_crawl", []), "shuffle_write_mb"),
        "operators.extract.kernel.executor_run_s": delta("operators.extract.kernel", run_s),
        "operators.extract.kernel.task_max_over_p50": (
            max(kernel_tasks) / median(kernel_tasks) if kernel_tasks else 0.0),
        "operators.score.kernel.executor_run_s": delta("operators.score.kernel", run_s),
        "operators.score.broadcast_mb": delta(
            "operators.score.kernel", lambda st: _sum(st, "result_mb")),
        "operators.report.stage_s": delta("operators.report", _stage_s),
        "plans.jobs.run_extraction_job.s": walls.get("plans.jobs.run_extraction_job", 0.0),
        "plans.jobs.run_score_job.s": walls.get("plans.jobs.run_score_job", 0.0),
        "sources.catalog.commits": float(commits),
        "sources.catalog.bytes_written_mb": bytes_written / 1e6,
    }
    return metrics, stages


# -- the traced invocation -------------------------------------------------------


def traced_run(bench) -> dict:
    from inputs import base_documents

    tracer = Tracer()
    reader = StageReader(bench.spark)
    untraced, traced, ok, attempted = [], [], 0, 0
    rep_stages: list[dict] = []
    for i in range(TRACED_REPS):
        wall, rows = bench.rep()
        untraced.append(wall)
        ok += rows is not None
        group = f"rep-{i}"
        t0 = time.perf_counter()
        with tracer.span(group, bench.wl.name), reader.group(group):
            _wall, rows = bench.rep()
        rep_stages = reader.stages(group)
        traced.append(time.perf_counter() - t0)
        ok += rows is not None
        attempted += 2
        for s in rep_stages:
            tracer.add(f"stage {s['stage']}", s["start"], s["end"], group, bench.wl.name)

    with tracer.span("spark-steps", bench.wl.name):
        steps, step_stages = spark_steps(bench, reader, tracer)
    algo = algo_pass(tracer, sample_pages(base_documents()), bench.wl.name)

    docs_per_s = bench.docs / median(untraced)
    rep_span = next(s for s in tracer.spans if s["name"] == f"rep-{TRACED_REPS - 1}")
    metrics = {**algo, **steps}
    metrics.update(
        {
            "spark.jvm_gc_s": _sum(rep_stages, "jvm_gc_s"),
            "spark.scheduler_delay_s": _sum(rep_stages, "scheduler_delay_s"),
            "spark.tasks": float(_sum(rep_stages, "tasks")),
            "spark.driver_self_s": self_time(
                rep_span["start"], rep_span["end"], [(s["start"], s["end"]) for s in rep_stages]),
            "spark.tax_frac": 1 - docs_per_s / (bench.cores * 1e6 / algo["algo.kernel.us_per_doc"]),
            "setup.session_s": bench.setup["session_s"],
            "setup.inputs_s": bench.setup["inputs_s"],
            "setup.warmup_s": bench.setup["warmup_s"],
            "trace.overhead_frac": median(traced) / median(untraced) - 1,
        }
    )
    dump(bench, tracer, step_stages, rep_stages, metrics, untraced, traced)
    return {
        "correct": ok == attempted,
        "attempted": attempted,
        "failed": attempted - ok,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER_UNITS.items()},
    }


def layer_self_times(tracer: Tracer) -> dict[str, float]:
    """Self time of every span that has children (children name their
    parent span): its duration minus the part its children cover."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["name"]: self_time(s["start"], s["end"], kids[s["name"]])
        for s in tracer.spans
        if s["name"] in kids
    }


def dump(bench, tracer, step_stages, rep_stages, metrics, untraced, traced) -> str:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"trace-{bench.wl.name}-{bench.args.seed}.json")
    with open(path, "w") as f:
        json.dump(
            {
                "workload": bench.wl.name,
                "seed": bench.args.seed,
                "docs_per_rep": bench.docs,
                "untraced_rep_s": untraced,
                "traced_rep_s": traced,
                "metrics": metrics,
                "self_s": layer_self_times(tracer),
                "step_stages": step_stages,
                "rep_stages": rep_stages,
                "spans": tracer.spans,
            },
            f,
        )
    print(f"trace written to {path}", flush=True)
    return path
