"""The repository benchmark: one workload, one seed, one Spark driver.

    python3 perfbench/run.py --workload wordcount_text --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 6   # every workload

Run from the repository root.  One closed-loop client submits one complete
job at a time to a single driver in ``local[N]`` (N = usable cores, at most
4).  Inputs are generated from the seed into ``.perfbench_cache/`` and the
oracle is computed before the session starts; the session is then warmed
up, and jobs are timed for ``--seconds``.  Every output is checked against
the oracle outside the timer, and each iteration's output, checkpoints and
cached blocks are released, also outside the timer.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` alternates untraced jobs with traced ones, reports the
per-layer metrics, and writes the spans to ``.perfbench_cache/traces/``.
Metric lines go to stdout as ``name value unit``; the last line of stdout
is the JSON result.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".perfbench_cache"
MAX_CPUS = 4
# A run times at least this many jobs, so one slow job is not its median
# alone, and a trace run times at least one job of each kind.
MIN_JOBS = 2
HEAP = "2g"


def _isolate() -> dict[str, str]:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout; return the session confs that do so."""
    tmp = CACHE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(CACHE / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    # the JVMs would otherwise write their perf-data files to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return {
        # A fixed, pre-touched heap, as JVM services are usually run: the
        # heap's share of peak_rss_mb is then constant and the metric moves
        # with what the program holds outside it (Python workers, native
        # buffers, metaspace) instead of with when the GC grew the heap.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(CACHE / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    """Runs one workload's iterations, each in a fresh directory."""

    def __init__(self, spark, workload, run_dir: Path):
        self.spark, self.wl, self.run_dir = spark, workload, run_dir
        self.count = 0
        self.cleanup_s: list[float] = []

    def iteration(self, tracer=None) -> float | None:
        """Run one job, check it, release it.  Returns the job's seconds,
        or None if it raised or its output was wrong."""
        self.count += 1
        it_dir = self.run_dir / f"it{self.count:04d}"
        it_dir.mkdir(parents=True)
        self.spark.sparkContext.setCheckpointDir(str(it_dir / "rdd-checkpoint"))
        output, job_s = None, None
        try:
            if tracer is None:
                t0 = time.perf_counter()
                output = self.wl.run(self.spark, it_dir)
                job_s = time.perf_counter() - t0
            else:
                tracer.iteration = self.count
                output = self.wl.traced(self.spark, tracer, it_dir)
                job_s = tracer.seconds(self.wl.job_span, self.count)
            self.wl.check(output)
        except Exception:
            traceback.print_exc()
            job_s = None
        t0 = time.perf_counter()
        if output is not None:
            self.wl.release(self.spark, output)
        del output
        self.spark.catalog.clearCache()
        gc.collect()  # drops py4j handles, so the JVM may free their blocks
        self.spark.sparkContext._jvm.System.gc()
        shutil.rmtree(it_dir, ignore_errors=True)
        self.cleanup_s.append(time.perf_counter() - t0)
        kind = "traced" if tracer is not None else "job"
        print(f"# iteration {self.count} {kind} {job_s}", file=sys.stderr)
        return job_s


def measure(runner: Runner, seconds: float, tracer=None) -> dict:
    """Time jobs back to back for ``seconds``, and at least ``MIN_JOBS``.
    Trace runs alternate untraced and traced jobs, so the tracing overhead
    is taken under the same conditions."""
    untraced: list[float] = []
    traced: list[float] = []
    attempted = failed = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or attempted < MIN_JOBS:
        trace_this = tracer is not None and attempted % 2 == 1
        job_s = runner.iteration(tracer if trace_this else None)
        attempted += 1
        if job_s is None:
            failed += 1
        else:
            (traced if trace_this else untraced).append(job_s)
    return {"untraced": untraced, "traced": traced, "attempted": attempted, "failed": failed}


def layer_metrics(names: list[str], wl, spans: list) -> dict[str, float]:
    """Per-layer metrics from a traced run's spans; 0 for the layers this
    workload does not run through."""
    from perfbench.trace import median, self_times

    by_name = defaultdict(list)
    for (_, name), seconds in self_times(spans).items():
        by_name[f"{name}_s"].append(seconds)
    for s in spans:
        for key, value in s.counters.items():
            if not key.startswith("spark."):
                by_name[key].append(value)
        if s.name == "sources.scan":
            by_name["sources.input_rows"].append(s.counters["spark.input_records"])
        if s.name == wl.job_span:
            for key in names:
                if key.startswith("spark."):
                    by_name[key].append(s.counters[key])
    unknown = set(by_name) - set(names)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = dict.fromkeys(names, 0.0)
    metrics.update({k: median(v) for k, v in by_name.items()})
    metrics["sources.input_bytes"] = wl.input_bytes
    wl.derive(metrics, spans)
    return metrics


def run_all(spec: dict, args) -> int:
    """Run every workload, each in its own process, one after another."""
    failed = 0
    for w in spec["workloads"]:
        cmd = [sys.executable, __file__, "--workload", w["name"], "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False).stdout
        lines = out.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        try:
            failed += not json.loads(lines[-1])["correct"]
        except (IndexError, ValueError):
            failed += 1
    return 1 if failed else 0


def _line(name: str, value: float, unit: str, note: str = "") -> None:
    print(f"{name} {value:.6g} {unit}{'  ' + note if note else ''}")


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not (ROOT / "another_map_reduce_spark" / "__init__.py").is_file():
        print(f"perfbench: no another_map_reduce_spark package in {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload == "all":
        return run_all(spec, args)
    sys.path.insert(0, str(ROOT))
    from perfbench import gen
    from perfbench.trace import PeakRss, Tracer, median
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    inputs, gen_s = gen.ensure_inputs(CACHE, args.workload, args.seed)
    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](inputs / "data")
    oracle_s = time.perf_counter() - t0
    conf = _isolate()

    from another_map_reduce_spark.session import get_spark

    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    run_dir = CACHE / "runs" / f"{args.workload}-seed{args.seed}-pid{os.getpid()}"
    runner = Runner(spark, wl, run_dir)
    tracer = Tracer(spark) if args.trace else None
    try:
        t0 = time.perf_counter()
        warm = [runner.iteration() for _ in range(wl.warmup)]
        warmup_s = time.perf_counter() - t0
        with PeakRss() as rss:
            m = measure(runner, args.seconds, tracer)
    finally:
        _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    untraced, attempted, failed = m["untraced"], m["attempted"], m["failed"]
    # A run whose every timed job failed reports 0 rather than no number;
    # "correct": false marks it.
    job_s = median(untraced)
    units = {x["name"]: x["unit"] for x in spec["end_to_end"] + spec["per_layer"]}
    print(f"# {args.workload} seed={args.seed} local[{cpus}] closed loop, 1 client, "
          f"{attempted} timed jobs ({len(untraced)} untraced, ok) in {args.seconds:g} s")
    if not args.trace:
        metrics = {
            "job_s": job_s,
            "input_mb_per_s": wl.input_bytes / 1e6 / job_s if job_s else 0.0,
            "setup_s": start_s + warmup_s,
            "peak_rss_mb": rss.peak / 1e6,
        }
    else:
        metrics = layer_metrics([x["name"] for x in spec["per_layer"]], wl, tracer.spans)
        metrics.update({
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "harness.gen_s": gen_s,
            "harness.oracle_s": oracle_s,
            "harness.cleanup_s": median(runner.cleanup_s),
            "harness.error_rate": failed / attempted,
            "trace.overhead_s": median(m["traced"]) - job_s if m["traced"] and untraced else 0.0,
        })
        trace_file = CACHE / "traces" / f"{args.workload}-seed{args.seed}.json"
        tracer.dump(trace_file)
        print(f"# spans written to {trace_file}", file=sys.stderr)
    for name, value in metrics.items():
        _line(name, value, units[name])
    if not args.trace:
        # reported for reading, not bounded: see perfbench/README.md
        _line("error_rate", failed / attempted, "ratio", f"({failed}/{attempted})")
        _line("gen_s", gen_s, "s")
        _line("oracle_s", oracle_s, "s")
        _line("cleanup_s", median(runner.cleanup_s), "s")
    result = {
        "correct": failed == 0 and None not in warm,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
