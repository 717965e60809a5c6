"""Benchmark driver for the extraction-evaluation pipeline.

    python3 perfbench/run.py --workload ranking --seed 1 --seconds 20 --trace 0

Run from the repository root. One process, one client, a closed loop of
repetitions on ``local[N]`` with N = the usable core count. Setup starts
the Spark session, generates the seed's inputs (parquet under
``perfbench/.work``), derives the expected report from the pure-Python
oracle and runs warm-up repetitions at full size. The timed loop then
repeats the workload until ``--seconds`` have passed, checking every
repetition's ranked report against the oracle.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
traced pass instead (see ``trace.py``) and prints the per-layer metrics.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
CORES = len(os.sched_getaffinity(0))
DRIVER_MEM = "1g"
WARMUP_REPS = 3
INPUT_TRIALS = 3  # setup_s takes the median input-generation time


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate_env(run_dir: str) -> None:
    """Keep Spark's and Python's scratch files inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={run_dir}/warehouse "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def java_options(run_dir: str) -> str:
    # The heap is committed and touched at start, so the JVM's share of
    # peak_rss_mb does not depend on how many repetitions ran.
    return (
        f"-Djava.io.tmpdir={run_dir}/tmp -Dderby.system.home={run_dir} "
        f"-XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
    )


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def emit(result: dict) -> None:
    for name, m in result["metrics"].items():
        print(f"{name:<52} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps(result), flush=True)


class Bench:
    """One invocation: session, inputs, expected report, repetitions."""

    def __init__(self, args: argparse.Namespace, t_process: float) -> None:
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        self.args = args
        self.t_process = t_process
        self.wl = WORKLOADS[args.workload]
        self.cores = CORES
        self.run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.setup: dict[str, float] = {}
        self.spark = None

    # -- setup ---------------------------------------------------------------
    def start(self) -> None:
        from text_extraction_evaluation_spark.sources.readers import get_spark

        isolate_env(self.run_dir)
        self.spark = get_spark(
            f"perfbench-{self.wl.name}", cores=CORES,
            extra_java_options=java_options(self.run_dir),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup["session_s"] = time.time() - self.t_process

    def prepare(self) -> None:
        """Oracle (outside the setup clock), then inputs (median of trials)."""
        from expected import base_scores, expected_report
        from inputs import base_documents, write_inputs
        from stats import median

        base = base_documents()
        t = time.perf_counter()
        scores = base_scores(base, self.wl.extractors)
        self.oracle_s = time.perf_counter() - t
        trials = []
        for i in range(INPUT_TRIALS):
            root = os.path.join(self.run_dir, f"inputs-{i}")
            t = time.perf_counter()
            inputs = write_inputs(root, self.args.seed, base, self.wl.n_urls)
            trials.append(time.perf_counter() - t)
            if i + 1 < INPUT_TRIALS:
                shutil.rmtree(root)
        self.inputs = inputs
        self.setup["inputs_s"] = median(trials)
        self.expected = expected_report(scores, inputs.counts)
        self.docs = inputs.n_urls

    def rep(self) -> tuple[float, list[dict] | None]:
        """Run one checked repetition: (wall s, report rows or None on failure)."""
        from expected import report_diff
        from workloads import run_rep

        t = time.perf_counter()
        try:
            rows = run_rep(self.wl.name, self.spark, self.inputs)
        except Exception:  # a failed repetition is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            return time.perf_counter() - t, None
        wall = time.perf_counter() - t
        diffs = report_diff(rows, self.expected)
        for d in diffs:
            print(f"report mismatch: {d}", file=sys.stderr)
        return wall, (None if diffs else rows)

    def warm_up(self) -> None:
        t = time.perf_counter()
        self.warmup_walls = [self.rep()[0] for _ in range(WARMUP_REPS)]
        self.setup["warmup_s"] = time.perf_counter() - t
        self.setup["setup_s"] = (
            self.setup["session_s"] + self.setup["inputs_s"] + self.setup["warmup_s"]
        )

    # -- measurement ---------------------------------------------------------
    def timed(self) -> dict:
        import proctree
        from stats import empty_frac, macro_f1, macro_f1_all, median, summarize

        pid = os.getpid()
        walls, ok, last_rows = [], 0, None
        cpu0 = proctree.cpu_seconds(pid)
        t0 = time.perf_counter()
        # stop before a repetition that would end past --seconds
        while not walls or time.perf_counter() - t0 + median(walls) <= self.args.seconds:
            wall, rows = self.rep()
            walls.append(wall)
            if rows is not None:
                ok += 1
                last_rows = rows
        cpu = proctree.cpu_seconds(pid) - cpu0
        rss = proctree.peak_rss_mb(pid)
        print(f"setup: {self.setup} oracle_s: {self.oracle_s:.2f} warmup: {self.warmup_walls}", file=sys.stderr)
        print(f"rep wall s: {summarize(walls)} {walls} docs/rep: {self.docs}", file=sys.stderr)
        quality = last_rows or [{"avg_f1": 0.0, "n_ok": 0, "n_empty": 0, "n_fail": 1}]
        metrics = {
            "docs_per_s": metric(self.docs / median(walls), "1/s"),
            "setup_s": metric(self.setup["setup_s"], "s"),
            "cpu_s_per_kdoc": metric(cpu / (self.docs * len(walls) / 1000), "s"),
            "peak_rss_mb": metric(rss, "MB"),
            "macro_f1": metric(macro_f1(quality), "ratio"),
            "macro_f1_all": metric(macro_f1_all(quality), "ratio"),
            "empty_frac": metric(empty_frac(quality), "ratio"),
            "ok_frac": metric(ok / len(walls), "ratio"),
        }
        return {"correct": ok == len(walls), "attempted": len(walls),
                "failed": len(walls) - ok, "metrics": metrics}

    def close(self) -> None:
        import proctree

        if self.spark is not None:
            from pyspark import SparkContext

            me = os.getpid()
            children = [p.pid for p in proctree.tree(me) if p.pid != me]
            self.spark.stop()
            # The JVM exits when its stdin closes. Then wait for every
            # process it started (the Python daemon and workers) too.
            proc = getattr(SparkContext._gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            left = proctree.wait_gone(children, timeout=30)
            if left:
                print(f"killed leftover processes {left}", file=sys.stderr)
        shutil.rmtree(self.run_dir, ignore_errors=True)


def main(argv: list[str]) -> int:
    from proctree import process_start_epoch

    t_process = process_start_epoch()
    args = parse_args(argv)
    sys.path.insert(0, REPO)
    try:
        import oracle.run_oracle  # noqa: F401
        import text_extraction_evaluation_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program from {REPO}: {exc}", file=sys.stderr)
        return 2
    bench = Bench(args, t_process)
    try:
        bench.start()
        bench.prepare()
        bench.warm_up()
        if args.trace:
            from tracing import traced_run

            result = traced_run(bench)
        else:
            result = bench.timed()
    finally:
        bench.close()
    emit(result)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
