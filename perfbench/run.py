#!/usr/bin/env python3
"""Benchmark of the extraction pipeline, one seeded workload per run.

    python3 perfbench/run.py --workload chat-turns --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads (see ``gen.py``):
``chat-turns`` and ``web-pages``; both time
``plans.pipeline.run_extraction`` with its default ``PipelineConfig``:
scan -> kernel -> bucket shuffle -> partitioned write -> control rows.

Load is a closed loop: one job at a time from this one process, repeated
until ``--seconds`` of job time is measured (at least ``MIN_JOBS``
jobs).  Spark runs with the settings ``jobs/extract_job.py`` gets by
default, except master ``local[<cores>]`` (``<cores>`` = CPUs this
process may use), the web UI and console progress bar switched off, and
scratch and temp files kept in ``.perfbench_work/`` inside the checkout.

``--trace 0`` reports the end-to-end metrics:

* ``turns_per_s`` -- turns per second of job wall clock, median over the
  measured jobs.  The loop's first job runs with a cold JIT (about twice
  as slow); its wall is printed in the info line but not measured;
* ``setup_s`` -- SparkSession start (JVM launch included), then the first
  batch through every Python worker (fork, import, selector compile).
  One sample per run: a sample costs a fresh JVM (10-20 s on 4 cores);
* ``worker_peak_rss_mb`` -- peak summed RSS of the Python workers while
  the loop runs, sampled from ``/proc``.

``--trace 1`` runs the layer ladder of ``layers.py`` and reports the
per-layer metrics; its spans go to ``.perfbench_work/traces/``.  It
also re-submits the finished run with the same ``run_id``
(``plans.resume_s``; every bucket must be skipped and the row count must
stay, or the run fails), and runs the SQL functions
(``register_sql_functions``) over the tool turns with a per-row selector,
checking their values on ``web-pages``.

Every job's output is checked against the generator's expected values;
``failed_turn_ratio`` (wrong turns / turns checked) is printed with the
other metrics, and any wrong turn makes the exit code 1.  The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.

Before it exits, on every path out, the run waits until every process it
started has ended (the JVM, the Python workers, the generator's pool);
it is their subreaper, so orphaned workers are waited for too.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass
from typing import Dict, List, Optional

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

MIN_JOBS = 4                         # measured jobs, after the warm-up job
KERNEL_SAMPLE_BYTES = 4_000_000      # fixed in-process kernel sample, by input size
RSS_PERIOD_S = 0.05
REAP_GRACE_S = 30.0                  # then what is left of the children is killed
PR_SET_CHILD_SUBREAPER = 36
INPUT_FILES_PER_CORE = 4

END_TO_END = {
    "turns_per_s": "1/s",
    "setup_s": "s",
    "worker_peak_rss_mb": "MB",
}

WARM_PAGE = ("<html><head><title>w</title></head><body><nav><a href='/'>home</a></nav>"
             "<main><p class='lead'>warm <a href='/x'>up</a> page</p></main></body></html>")


def cores() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Paths:
    run: str
    input_dir: str
    out_dir: str
    ctl_dir: str
    scratch_out: str
    events: str


def prepare_env(run_dir: str) -> None:
    """Environment the Spark JVM and its Python workers inherit."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # every JVM (the launcher's too) keeps its temp files in the run dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")


def make_spark(run_dir: str, events: Optional[str] = None):
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master(f"local[{cores()}]").appName("perfbench")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse")))
    if events:
        os.makedirs(events, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + events)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm(spark) -> None:
    """First batch through every Python worker."""
    from pyspark.sql import functions as F

    from html_parser_spark.operators.html_ops import extract_struct_udf

    n = cores()
    df = spark.range(n, numPartitions=n).select(F.lit(WARM_PAGE).alias("text"))
    df.select(extract_struct_udf()(F.col("text"))).write.format("noop").mode("overwrite").save()


def start(run_dir: str, events: Optional[str] = None):
    """Start Spark and warm the workers; returns (spark, setup seconds)."""
    t = time.perf_counter()
    spark = make_spark(run_dir, events)
    try:
        warm(spark)
    except BaseException:
        stop(spark)
        raise
    return spark, time.perf_counter() - t


def stop(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def proc_parents() -> Dict[int, int]:
    """pid -> parent pid of every process in ``/proc``."""
    parent: Dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    return parent


def descendants() -> List[int]:
    parent, me = proc_parents(), os.getpid()
    out = []
    for pid in parent:
        p, hops = parent.get(pid), 0
        while p and p != me and hops < 16:
            p, hops = parent.get(p), hops + 1
        if p == me:
            out.append(pid)
    return out


def become_subreaper() -> None:
    """Processes orphaned below this one (the Python workers of a JVM
    that has exited) are re-parented here, so ``reap_children`` sees them."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def reap_children() -> None:
    """Wait until every process started below this one has ended: reap
    the exited ones and kill what outlives ``REAP_GRACE_S``."""
    deadline = time.monotonic() + REAP_GRACE_S
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            print(f"perfbench: killing {len(left)} processes left after {REAP_GRACE_S:.0f} s",
                  file=sys.stderr)
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


class RssSampler:
    """Peak summed RSS of this process's Python-worker descendants."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        total = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
                if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                    continue
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(RSS_PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ----------------------------------------------------------------- inputs

def write_input(w, path: str) -> None:
    """The transcript table as parquet, in conversation order, in files
    of equal text bytes: the scan tasks get equal work, because skewed
    input is not what these workloads measure."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    c = w.columns
    table = pa.table({
        "conv_id": pa.array(c["conv_id"], pa.string()),
        "turn_idx": pa.array(c["turn_idx"], pa.int32()),
        "role": pa.array(c["role"], pa.string()),
        "text": pa.array(c["text"], pa.string()),
        "tool": pa.array(c["tool"], pa.string()),
        "ts": pa.array([s * 1_000_000 + 1_767_225_600_000_000 for s in c["ts_s"]],
                       pa.timestamp("us", tz="UTC")),
    })
    os.makedirs(path, exist_ok=True)
    n_files = INPUT_FILES_PER_CORE * cores()
    total = sum(len(t) for t in c["text"])
    start = done = 0
    for i in range(n_files):
        end = start
        while end < table.num_rows and (done < total * (i + 1) / n_files or end == start):
            done += len(c["text"][end])
            end += 1
        if i == n_files - 1:
            end = table.num_rows
        pq.write_table(table.slice(start, end - start), os.path.join(path, f"part-{i:03d}.parquet"))
        start = end


def read_output(path: str, columns: List[str]):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


# ---------------------------------------------------------- timed (trace 0)

def timed_pipeline(spark, w, paths: Paths, seconds: float, expected: dict) -> dict:
    """The closed loop.  A first job warms the JIT (its wall goes to the
    info line only); then jobs run until ``seconds`` of job time and
    ``MIN_JOBS`` jobs are measured.  Every job's output is checked,
    untimed."""
    from html_parser_spark.plans.pipeline import PipelineConfig, run_extraction
    from html_parser_spark.sources.catalog import read_transcripts
    from check import main_text_failures

    cfg = PipelineConfig()
    transcripts = read_transcripts(spark, paths.input_dir)
    walls: List[float] = []
    failed = attempted = 0
    with RssSampler() as rss:
        while sum(walls[1:]) < seconds or len(walls) <= MIN_JOBS:
            i = len(walls)
            out, ctl = f"{paths.out_dir}-{i}", f"{paths.ctl_dir}-{i}"
            t = time.perf_counter()
            run_extraction(spark, transcripts, out, ctl, f"run-{i}", cfg)
            walls.append(time.perf_counter() - t)
            failed += main_text_failures(expected, read_output(out, ["conv_id", "turn_idx", "main_text"]))
            attempted += len(expected)
            shutil.rmtree(out)
            shutil.rmtree(ctl)
    return {"warmup_wall": walls[0], "walls": walls[1:], "turns": w.n_turns,
            "rss": rss.peak, "failed": failed, "attempted": attempted}


# --------------------------------------------------------------- reporting

def stamp(spark_version: str) -> dict:
    import pyarrow

    cpu = platform.processor() or "unknown"
    try:
        with open("/proc/cpuinfo") as f:
            cpu = next((ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")), cpu)
    except OSError:
        pass
    return {"nproc": cores(), "cpu": cpu, "python": platform.python_version(),
            "spark": spark_version, "pyarrow": pyarrow.__version__}


def result_line(correct: bool, attempted: int, failed: int, metrics: Dict[str, float], units: Dict[str, str]) -> str:
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}})


def main(argv=None) -> int:
    from gen import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import html_parser_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout ({e})", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    become_subreaper()
    signal.signal(signal.SIGTERM, on_sigterm)
    try:
        return run(args, run_dir)
    finally:
        reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, run_dir: str) -> int:
    from gen import generate

    paths = Paths(run_dir, os.path.join(run_dir, "input"), os.path.join(run_dir, "out"),
                  os.path.join(run_dir, "ctl"), os.path.join(run_dir, "scratch-out"),
                  os.path.join(run_dir, "events"))
    prepare_env(run_dir)
    t = time.perf_counter()
    w = generate(args.workload, args.seed, workers=cores(), with_sql=bool(args.trace))
    write_input(w, paths.input_dir)
    gen_s = time.perf_counter() - t
    expected = dict(zip(zip(w.columns["conv_id"], w.columns["turn_idx"]), w.expected_main))

    if args.trace:
        return traced_run(args, w, paths, expected, gen_s)

    spark, setup = start(run_dir)
    version = spark.version
    try:
        r = timed_pipeline(spark, w, paths, args.seconds, expected)
    finally:
        stop(spark)
    metrics = {
        "turns_per_s": statistics.median(r["turns"] / x for x in r["walls"]),
        "setup_s": setup,
        "worker_peak_rss_mb": r["rss"] / 2**20,
    }
    info = {"workload": args.workload, "seed": args.seed, "turns": r["turns"],
            "input_mb": sum(len(x) for x in w.columns["text"]) / 1e6,
            "warmup_job_s": r["warmup_wall"], "job_walls_s": r["walls"],
            "generate_s": gen_s,
            "failed_turn_ratio": r["failed"] / r["attempted"], **w.stats, **stamp(version)}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}.json"), "w") as f:
        json.dump({"metrics": metrics, "info": info}, f)
    report(metrics, END_TO_END, info)
    correct = r["failed"] == 0
    print(result_line(correct, r["attempted"], r["failed"], metrics, END_TO_END))
    return 0 if correct else 1


def report(metrics: Dict[str, float], units: Dict[str, str], info: dict,
           moves: Optional[Dict[str, str]] = None) -> None:
    for k, v in metrics.items():
        print(f"perfbench: {k} = {v:.6g} {units[k]}" + (f"  (moves {moves[k]})" if moves else ""))
    print(f"perfbench: failed_turn_ratio = {info['failed_turn_ratio']:.6g} ratio")
    print("perfbench: info " + json.dumps(info))


# ------------------------------------------------------------ traced (trace 1)

def traced_run(args, w, paths: Paths, expected: dict, gen_s: float) -> int:
    from html_parser_spark.plans.pipeline import PipelineConfig
    from check import main_text_failures, sql_failures
    from gen import selector_index
    from layers import (FULL_JOB_GROUP, PER_LAYER, SQL_VIEW, Tracer, event_log_metrics,
                        kernel_sample, ladder, operators_in_process, sql_query)

    tracer = Tracer(f"{args.workload}-{args.seed}")
    selectors, attrs = w.selectors, w.selector_attrs
    with tracer.span("setup"):
        spark, setup = start(paths.run, events=paths.events)
    version = spark.version
    failed = attempted = 0
    try:
        with tracer.span("ladder"):
            m = ladder(spark, paths, PipelineConfig(), w.n_turns, selectors, attrs, tracer)
        failed += main_text_failures(expected, read_output(paths.out_dir, ["conv_id", "turn_idx", "main_text"]))
        attempted += len(expected)
        if w.expected_sql:
            q = sql_query(SQL_VIEW, selectors, attrs)
            failed += sql_failures(w.expected_sql, spark.sql(q).toArrow())
            attempted += len(w.expected_sql)
    finally:
        stop(spark)

    # fixed in-process sample: rows evenly spaced through the table, up
    # to KERNEL_SAMPLE_BYTES of input
    c = w.columns
    total = sum(len(x) for x in c["text"])
    step = max(1, int(total / KERNEL_SAMPLE_BYTES))
    rows = list(range(0, w.n_turns, step))
    texts = [c["text"][i] for i in rows]
    sel_idx = [selector_index(c["conv_id"][i], c["turn_idx"][i], len(selectors))
               if c["role"][i] == "tool" else None for i in rows]
    k = kernel_sample(texts, selectors, sel_idx, tracer)
    extract_s_per_turn = k.pop("_extract_s_per_turn")
    ops = operators_in_process(texts, tracer)
    ev = event_log_metrics(paths.events, FULL_JOB_GROUP)

    full_s = m.pop("_full_s")
    unaccounted_s = m.pop("_unaccounted_s")
    metrics = {**m, **k, **ops}
    kernel_s = extract_s_per_turn * w.n_turns
    metrics["plans.shuffle_bytes_per_turn"] = ev["shuffle_bytes"] / w.n_turns
    metrics["plans.gc_share"] = ev["gc_ms"] / ev["run_ms"] if ev["run_ms"] else 0.0
    metrics["plans.pipeline_efficiency"] = kernel_s / (cores() * full_s)
    metrics = {name: metrics[name] for name in PER_LAYER}
    units = {name: unit for name, (unit, _, _) in PER_LAYER.items()}
    moves = {name: m for name, (_, _, m) in PER_LAYER.items()}

    untraced = None
    try:
        with open(os.path.join(WORK, "results", f"{args.workload}.json")) as f:
            untraced = json.load(f)
    except (OSError, ValueError):
        pass
    untraced_wall = w.n_turns / untraced["metrics"]["turns_per_s"] if untraced else None
    info = {"workload": args.workload, "seed": args.seed, "rows": w.n_turns, "generate_s": gen_s,
            "setup_s": setup, "full_run_s": full_s, "event_log": ev,
            "ladder_unaccounted_s": unaccounted_s,
            "ladder_unaccounted_share_of_untraced_wall": unaccounted_s / (untraced_wall or full_s),
            "tracing_overhead_share": (full_s / untraced_wall - 1) if untraced_wall else None,
            "failed_turn_ratio": failed / attempted, **w.stats, **stamp(version)}
    trace_path = os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.json")
    tracer.write(trace_path)
    info["spans"] = os.path.relpath(trace_path, ROOT)
    report(metrics, units, info, moves)
    correct = failed == 0
    print(result_line(correct, attempted, failed, metrics, units))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
