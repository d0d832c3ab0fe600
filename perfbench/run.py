#!/usr/bin/env python3
"""Repository benchmark.

    python3 perfbench/run.py --workload pit_hot --seed 1 --seconds 10 --trace 0

One run starts one Spark driver (``local[<cores>]``, shuffle partitions =
cores), generates the workload's inputs from ``--seed`` (several times, the
median counts), computes the expected output in DuckDB, then times the
first iteration in the fresh JVM (``first_job_s``), which is what a
spark-submit user pays on every run.  Warm iterations follow until
``--seconds`` have passed since the first one started; they go to the run
record, not to the end-to-end metrics.  Every iteration's output is checked;
a failed check or exception counts in ``failed``.

``--trace 1`` adds the traced run after at least one warm iteration: the
Spark context is restarted with an event log, one traced iteration and the
workload's per-layer steps run under job groups named after their spans,
and the per-layer metrics come from the spans and the parsed event log.

Every file the run writes stays under ``.bench_work/`` in the repository
root.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  The exit code is 0 only
when every output checked.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("pit_hot", "corpus")
DRIVER_MEMORY = "2g"
SETUP_REPEATS = 3
PIT_ROWS = 20_000
#: a run must end within 180 s; traced layer steps that would start later
#: than this after start-up are skipped (and counted in trace.failed_steps)
TRACE_STEPS_UNTIL_S = 140

END_TO_END = {"setup_s": "s", "first_job_s": "s", "first_rows_per_s": "rows/s"}
PER_LAYER = {
    "session.start_s": "s", "datagen.write_s": "s", "job.warm_s": "s",
    "scan.s": "s", "scan.bytes_read": "bytes",
    "checkpoint.s": "s", "checkpoint.mark_done_s": "s",
    "pit.hot_detect_s": "s", "pit.hot_rows": "rows",
    "asof.s": "s", "asof.shuffle_write_bytes": "bytes",
    "windows.s": "s",
    "skew.s": "s", "skew.shuffle_write_bytes": "bytes", "skew.task_max_over_median": "ratio",
    "write.s": "s", "write.bytes": "bytes", "lineage.s": "s",
    "exchange.shuffle_read_bytes": "bytes", "exchange.fetch_wait_s": "s",
    "spill.bytes": "bytes", "jvm.gc_s": "s", "task.max_over_median": "ratio",
    "dedup.s": "s", "dedup.python_s": "s", "dedup.candidate_pairs": "pairs",
    "dedup.verified_pairs": "pairs", "dedup.verify_yield": "ratio",
    "similarity.s": "s", "similarity.python_s": "s", "similarity.candidates_scored": "pairs",
    "text.s": "s", "arrow.bytes_to_python": "bytes",
    "streaming.triggers": "count", "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.commit_s": "s", "streaming.state_rows": "rows",
    "streaming.state_mem_bytes": "bytes", "streaming.verify_s": "s",
    "driver.plan_s": "s", "driver.peak_rss_mb": "MB", "other.s": "s",
    "trace.overhead_frac": "ratio", "trace.failed_steps": "count",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="iterations run until this long after the first one "
                         "started (a traced run does at least one warm one)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=PIT_ROWS,
                    help="pit_hot sequence rows (the benchmark uses the default)")
    return ap.parse_args(argv)


def configure_environment(work: str) -> dict:
    """Point every temporary and scratch location into ``work`` (before
    pyspark is imported) and return the Spark settings for this box."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the env var wins over spark.local.dir, so it must point here too
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    # every JVM spark-submit starts (its launcher too): temp files here, and
    # no hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # get_spark's defaults, for code under test that calls it without
    # arguments (jobs/northrule_job.py's main): this box's cores and heap
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(conf: dict, cores: int):
    from feathr_online_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def jvm_process():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def stop_jvm() -> None:
    """Stop the driver JVM this process launched and wait until it exits."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway, proc = SparkContext._gateway, jvm_process()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()   # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def pit_layer_files() -> dict:
    """Source file of each PIT layer -> the metric its call time goes to."""
    from feathr_online_spark.operators import asof, pit, skew, windows

    return {asof.__file__: "asof.s", windows.__file__: "windows.s",
            skew.__file__: "skew.s", pit.__file__: "pit.hot_detect_s"}


def make_workload(args):
    if args.workload == "pit_hot":
        from perfbench.pit import PitHot

        return PitHot(args.seed, args.rows)
    from perfbench.corpus import Corpus

    return Corpus(args.seed, os.path.join(WORK_ROOT, "cache"))


class Runner:
    """One benchmark run: setup, checked iterations, optional traced run."""

    def __init__(self, args, work: str, conf: dict):
        from perfbench.recorder import Recorder

        self.args = args
        self.work = work
        self.conf = conf
        self.cores = os.cpu_count() or 1
        self.run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
        self.rec = Recorder(self.run_id)
        self.wl = make_workload(args)
        self.attempted = 0
        self.failed = 0
        self.n_iter = 0

    def iteration(self, spark, inputs: str):
        """One timed, checked iteration; returns (seconds, output)."""
        it_dir = os.path.join(self.work, f"it{self.n_iter}")
        self.n_iter += 1
        t0 = time.perf_counter()
        out = None
        try:
            out = self.wl.iterate(spark, inputs, it_dir, self.rec)
            bad = self.wl.mismatches(out)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            bad = -1
        dt = time.perf_counter() - t0
        shutil.rmtree(it_dir, ignore_errors=True)
        self.attempted += 1
        if bad:
            self.failed += 1
            print(f"# iteration {self.n_iter - 1}: output check failed ({bad})",
                  file=sys.stderr)
        return dt, out

    def run(self) -> tuple[dict, dict]:
        args, wl = self.args, self.wl
        spark, session_s = start_session(self.conf, self.cores)
        gen = []
        for i in range(SETUP_REPEATS):
            dest = os.path.join(self.work, f"inputs{i}")
            t0 = time.perf_counter()
            wl.generate(dest)
            gen.append(time.perf_counter() - t0)
            if i:
                shutil.rmtree(dest)
        inputs = os.path.join(self.work, "inputs0")
        t0 = time.perf_counter()
        wl.prepare(spark, inputs)
        prepare_s = time.perf_counter() - t0

        t_first = time.perf_counter()
        first_s, out0 = self.iteration(spark, inputs)
        # the check must notice one corrupted row (outside the timed window)
        self_test = out0 is not None and wl.mismatches(wl.perturbed(out0)) > 0
        if not self_test:
            print("# self-test: a perturbed output passed the check", file=sys.stderr)
        warm = []
        while ((args.trace and not warm)
               or time.perf_counter() - t_first < args.seconds):
            warm.append(self.iteration(spark, inputs)[0])

        metrics = {"setup_s": session_s + statistics.median(gen),
                   "first_job_s": first_s,
                   "first_rows_per_s": wl.input_rows / first_s}
        info = {"warm_iterations": len(warm), "warm_s": warm,
                "session_start_s": session_s, "generate_s": gen, "prepare_s": prepare_s,
                "self_test": self_test,
                "java": spark._jvm.System.getProperty("java.version"),
                "spark": spark.version}
        if args.trace:
            metrics = self.traced(spark, inputs, statistics.median(warm), session_s, gen)
        else:
            stop_jvm()
        return metrics, info

    def traced(self, spark, inputs, warm_s, session_s, gen) -> dict:
        from perfbench.recorder import (EVENT_LOG_CONF, CodeClock, Recorder, event_log_file,
                                     jobs_within, parse_event_log, peak_rss_mb, totals)

        log_dir = os.path.join(self.work, "eventlog")
        os.makedirs(log_dir)
        spark.stop()   # same JVM, new context with the event log on
        spark, _ = start_session({**self.conf, **EVENT_LOG_CONF,
                                  "spark.eventLog.dir": log_dir}, self.cores)
        self.rec = Recorder(self.run_id, spark)
        with CodeClock(pit_layer_files()) as pit_calls:
            traced_s, out = self.iteration(spark, inputs)
        raw = (self.wl.trace_steps(spark, self.rec, inputs, self.work, out,
                                   deadline=T_START + TRACE_STEPS_UNTIL_S) if out else {})
        attempted, failed = raw.get("checks", (0, 0))
        self.attempted += attempted
        self.failed += failed
        rss = peak_rss_mb(jvm_process().pid if jvm_process() else None)
        stop_jvm()

        jobs = parse_event_log(event_log_file(log_dir))
        whole = totals(jobs_within(jobs, self.rec, "job"))
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        # measured on every workload; pit_hot's layer steps then replace the
        # PIT-layer times, and corpus's gate spans the kernel Python times
        metrics.update(pit_calls.seconds)
        metrics.update({
            "dedup.python_s": whole["python_s"],
            "similarity.python_s": whole["python_s"],
            "session.start_s": session_s,
            "datagen.write_s": statistics.median(gen),
            "job.warm_s": warm_s,
            "exchange.shuffle_read_bytes": whole["shuffle_read_bytes"],
            "exchange.fetch_wait_s": whole["fetch_wait_s"],
            "spill.bytes": whole["spill_bytes"],
            "jvm.gc_s": whole["gc_s"],
            "task.max_over_median": whole["task_max_over_median"],
            "driver.plan_s": self.rec.seconds("job") - whole["jobs_busy_s"],
            "driver.peak_rss_mb": rss,
            "trace.overhead_frac": traced_s / warm_s - 1.0,
        })
        if raw:
            metrics.update(self.wl.layer_metrics(self.rec, jobs, raw))
        self.rec.write(os.path.join(WORK_ROOT, "traces", f"{self.run_id}.spans.jsonl"))
        return metrics


def settings(args, conf: dict, wl, info: dict) -> dict:
    import duckdb
    import pyarrow

    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": os.cpu_count(),
        "master": f"local[{os.cpu_count()}]", "shuffle_partitions": os.cpu_count(),
        "driver_memory": conf["spark.driver.memory"],
        "spark.local.dir": conf["spark.local.dir"],
        "console_progress": conf["spark.ui.showConsoleProgress"],
        "spark": info.get("spark"), "java": info.get("java"),
        "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__,
        "python": sys.version.split()[0], "input_sizes": wl.sizes(),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(WORK_ROOT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    conf = configure_environment(work)
    sys.path[0] = ROOT   # the repository root, not this directory
    try:
        import feathr_online_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    runner = None
    try:
        runner = Runner(args, work, conf)
        metrics, info = runner.run()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 3
    finally:
        try:
            stop_jvm()
        except Exception:
            traceback.print_exc(file=sys.stderr)
        if runner is not None:
            runner.wl.close()
        shutil.rmtree(work, ignore_errors=True)

    correct = runner.failed == 0 and info["self_test"]
    info["failed_frac"] = runner.failed / runner.attempted
    units = {**END_TO_END, **PER_LAYER}
    record = {"settings": settings(args, conf, runner.wl, info), "info": info,
              "metrics": metrics}
    os.makedirs(os.path.join(WORK_ROOT, "records"), exist_ok=True)
    with open(os.path.join(WORK_ROOT, "records", f"{runner.run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print("# settings " + json.dumps(record["settings"]))
    for name, value in metrics.items():
        print(f"# {name:32s} {value:>16.6g} {units[name]}")
    print(f"# {'failed_frac':32s} {info['failed_frac']:>16.6g} ratio "
          f"({runner.failed} of {runner.attempted} iterations)")
    print(json.dumps({
        "correct": correct, "attempted": runner.attempted, "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
