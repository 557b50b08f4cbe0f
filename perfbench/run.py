#!/usr/bin/env python3
"""Benchmark of the spark-graft engine: two workloads, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process builds the program's own
SparkSession (no SPARK_GRAFT_* overrides), generates or primes the
workload's inputs, runs its warm-up, then runs whole passes of the
workload's operations back to back, each starting when the previous one
returned, until ``--seconds`` have elapsed. Outputs are checked against
a reference computed apart from the program. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of BENCHMARK.json, or with
``--trace 1`` its per-layer metrics, from a separate traced run).

Everything the run writes stays under ``perfbench/out/``; the run
removes its warehouse and temp directories and waits for the JVM and
Python workers it started to end. A traced run keeps its spans in
``perfbench/out/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "end_to_end_data_engineering_pipeline_spark"
WORKLOADS = ("weather_etl", "analytics")

sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

from harness import (  # noqa: E402
    SparkProbe,
    Tracer,
    descendants,
    median,
    process_start_wall,
    processes_with_env,
    spark_layer_metrics,
    start_ticks,
    tree_peak_rss_mb,
)


class Ctx:
    def __init__(self, spark, seed: int, workdir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.workdir = workdir


class Timer:
    """Runs operations one after another and records each one's wall time.
    A failing operation is counted in ``failed``, reported on stderr and
    skipped; the checks speak of the operations that did not fail."""

    def __init__(self, tracer: Tracer | None, warm: bool) -> None:
        self.tracer = tracer
        self.warm = warm
        self.durations: list[tuple[int, float]] = []  # (pass index, seconds)
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.pass_index = 0
        self._next_id = 0

    def op(self, name: str, fn, *args):
        self.attempted += 1
        op_id = -1 - self._next_id if self.warm else self._next_id
        self._next_id += 1
        span = None
        if self.tracer is not None:
            self.tracer.op_id = op_id
            span = self.tracer.begin("op")
        t0 = time.perf_counter()
        try:
            out = fn(*args)
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            out = None
        dt = time.perf_counter() - t0
        if span is not None:
            self.tracer.end(span)
        self.durations.append((self.pass_index, dt))
        print(f"{'warm-up' if self.warm else 'op'} {name} {dt:.3f} s", file=sys.stderr)
        return out


def make_workload(name: str, ctx: Ctx):
    if name == "weather_etl":
        from weather import WeatherEtl

        return WeatherEtl(ctx)
    from analytics import Analytics

    return Analytics(ctx)


def prime_page_cache() -> None:
    """Read the input tables once so the first timed read finds them in
    the page cache, as every later read does."""
    data = os.path.join(HERE, "data")
    for name in sorted(os.listdir(data)):
        with open(os.path.join(data, name), "rb") as f:
            while f.read(1 << 20):
                pass


def ivf_entries() -> set[str]:
    d = os.path.join(ROOT, ".ivf_index")
    return set(os.listdir(d)) if os.path.isdir(d) else set()


def drop_ivf_index_for_data() -> None:
    """The program persists an IVF quantizer per embeddings file under
    .ivf_index/. Every run starts with none for the benchmark's data, so
    the warm pass trains and persists it and the timed passes reuse it."""
    from analytics import ivf_index_dirs

    for path in ivf_index_dirs():
        shutil.rmtree(path)


def stop_spark(spark) -> None:
    """Stop Spark and the JVM, then wait for every process started under
    this one (the JVM and its pyspark.daemon workers) to end."""
    from pyspark import SparkContext

    # every process started under this one inherits its TMPDIR
    mine = f"TMPDIR={os.environ['TMPDIR']}"
    pids = set(descendants(os.getpid())) | set(processes_with_env(mine))
    started = {p: start_ticks(p) for p in pids}

    def alive() -> list[int]:
        return [p for p, t in started.items() if t is not None and start_ticks(p) == t]

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and (alive() or processes_with_env(mine)):
        time.sleep(0.1)
    started.update({p: start_ticks(p) for p in processes_with_env(mine)})
    for p in alive():
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def confine_to(workdir: str) -> None:
    """Keep temp files, Spark's scratch space and the JVM's perf data
    under ``workdir`` and make it the working directory."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.chdir(workdir)


def load_metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> int:
    t_process = process_start_wall()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE}/ next to perfbench/: run from a checkout of the program", file=sys.stderr)
        return 2
    specs = load_metric_specs()

    # the program runs with its own defaults
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    workdir = os.path.join(HERE, "out", f"run-{os.getpid()}")
    confine_to(workdir)
    drop_ivf_index_for_data()
    ivf_before = ivf_entries()

    spark = None
    try:
        from end_to_end_data_engineering_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark()
        session_s = time.perf_counter() - t0
        ctx = Ctx(spark, args.seed, workdir)
        wl = make_workload(args.workload, ctx)
        prime_page_cache()
        tracer = Tracer(SparkProbe(spark)) if args.trace else None
        if tracer is not None:
            wl.install_trace(tracer)
        warm = Timer(tracer, warm=True)
        wl.warm_up(warm)

        timer = Timer(tracer, warm=False)
        setup_s = time.time() - t_process
        t_run = time.perf_counter()
        while True:
            t_pass = time.perf_counter()
            wl.run_pass(timer)
            print(f"pass {timer.pass_index} {time.perf_counter() - t_pass:.3f} s", file=sys.stderr)
            timer.pass_index += 1
            if time.perf_counter() - t_run >= args.seconds:
                break
        peak_rss = tree_peak_rss_mb()

        t_check = time.perf_counter()
        problems = warm.problems + timer.problems + wl.check()
        print(f"checks {time.perf_counter() - t_check:.1f} s", file=sys.stderr)
        for p in problems:
            print("CHECK FAILED:", p, file=sys.stderr)

        if args.trace:
            ops = [s for s in tracer.spans if s.name == "op" and s.op_id >= 0]
            values = {"session.get_spark_s": session_s, "memory.peak_rss_mb": peak_rss}
            values.update(spark_layer_metrics(ops))
            values.update(wl.layer_metrics(tracer, ops))
            # layers this workload does not call report zero
            metrics = {
                m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in specs["per_layer"]
            }
            traces = os.path.join(HERE, "out", "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{args.workload}-seed{args.seed}-{os.getpid()}.json"), "w") as f:
                json.dump({"metrics": metrics, "spans": tracer.to_json()}, f)
        else:
            per_pass = [
                sum(d for i, d in timer.durations if i == k) for k in range(timer.pass_index)
            ]
            values = {
                "setup_s": setup_s,
                "run_s": median(per_pass),
                "op_p50_s": median(d for _, d in timer.durations),
            }
            values.update(wl.end_to_end())
            metrics = {
                m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs["end_to_end"]
            }
        result = {
            "correct": not problems,
            "attempted": timer.attempted,
            "failed": timer.failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(workdir, ignore_errors=True)
        for entry in ivf_entries() - ivf_before:
            shutil.rmtree(os.path.join(ROOT, ".ivf_index", entry), ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
