"""pysyslog benchmark: times the library's public entry points from
outside, checks every output, and (with --trace 1) splits a pass into
layers.

    python3 perfbench/run.py --workload pipeline_clean --seed 1 --seconds 10 --trace 0

Run from the root of a checkout: the program under test is the checkout's
`pysyslog/` package, and the Spark session comes from the checkout's own
builder, `bench.make_spark`, sized to the CPUs this process may use.  The
last line of stdout is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1).  Every file it writes stays under `<checkout>/.perfbench/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import threading
import time
from statistics import median

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

SETUP_REPS = 3   # setup_s reports the median set-up of these
# Pass times keep falling for five passes or more after the first while
# the JVM compiles; the warm pass keeps the steepest part of that slope
# out of the timed passes.
WARM_PASSES = 1
# Timed passes run until --seconds have passed, and at least this many.
# BENCHMARK.json's run_seconds is shorter than this many passes, so every
# run times the same passes, at the same point of the slope.
MIN_TIMED = 3
MB = 1024 * 1024

END_TO_END = {
    "lines_per_s": "1/s", "pass_s": "s", "setup_s": "s", "sink_mb": "MB",
}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (driver, JVM, Python workers), sampled from /proc.  Each process
    counts its proportional set size, so pages the forked Python workers
    share are counted once."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._done = threading.Event()

    def sample(self) -> None:
        total = 0
        for pid in procs.tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    total += next(int(l.split()[1]) for l in fh if l.startswith("Pss:")) * 1024
            except (OSError, StopIteration, ValueError):
                continue
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._done.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._done.set()
        self.join()


def prepare_environment(work: str, event_log: str | None) -> None:
    """Everything the JVM and the Python workers inherit: the checkout on
    the workers' path, all scratch files under `work`, no progress bars,
    and for a traced run an event log."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    confs = ["spark.ui.showConsoleProgress=false"]
    if event_log:
        os.makedirs(event_log)
        confs += ["spark.eventLog.enabled=true", "spark.eventLog.compress=false",
                  f"spark.eventLog.dir=file://{event_log}"]
    args = []
    for c in confs:
        args += ["--conf", c]
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args += ["--driver-java-options", java_opts, "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)
    # spark-submit's own launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts


def environment(spark) -> dict:
    import pandas
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    confs = dict(spark.sparkContext.getConf().getAll())
    env = {
        "nproc": cpus(), "ram_gib": round(mem_kb / 1024 / 1024, 2),
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__, "python": sys.version.split()[0],
        "spark_confs": confs, "drift": [],
    }
    driver_mem = confs.get("spark.driver.memory", "")
    if driver_mem.endswith("g") and int(driver_mem[:-1]) * 1024 * 1024 > mem_kb:
        env["drift"].append(
            f"spark.driver.memory={driver_mem} is set on a {env['ram_gib']} GiB machine")
    env["drift"].append(
        "bench.py and bench_extra.py default to 32 CPUs; this run passes "
        f"nproc={cpus()} to bench.make_spark")
    return env


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process this
    one started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    while len(procs.tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in procs.tree()[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def measure(workload, seconds: float) -> dict:
    """Set-up reps, the first pass, warm passes, then timed passes for at
    least `seconds`.  Every pass is checked."""
    setups = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        workload.setup(rep)
        setups.append(time.perf_counter() - t)
    first = workload.run_pass("first")
    warm = [workload.run_pass(f"warm{i}") for i in range(WARM_PASSES)]
    timed = []
    start = time.perf_counter()
    while len(timed) < MIN_TIMED or time.perf_counter() - start < seconds:
        timed.append(workload.run_pass(len(timed)))
    return {"setups": setups, "first": first, "passes": [first, *warm, *timed],
            "timed": [p.seconds for p in timed]}


def end_to_end(workload, session_s: float, m: dict) -> dict:
    # The fastest timed pass: on a shared host, interference from other
    # tenants only ever slows a pass down, so the fastest pass is the least
    # disturbed reading of the program's own time (the same ten runs of
    # pipeline_clean: quartile spread 0.19 against 0.38 for the median).
    fastest = min(m["timed"])
    values = {
        "lines_per_s": workload.rows / fastest,
        "pass_s": fastest,
        "setup_s": session_s + median(m["setups"]),
        "sink_mb": median(p.sink_bytes for p in m["passes"]) / MB,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def run(name: str, seed: int, seconds: float, trace: bool) -> dict:
    """One benchmark run in this process; returns the full record."""
    work = os.path.join(STATE, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    event_log = os.path.join(work, "eventlog") if trace else None
    prepare_environment(work, event_log)
    # the traced run reports the process tree's peak memory; timed runs
    # do not pay for sampling it
    sampler = RssSampler()
    if trace:
        sampler.start()
    try:
        t = time.perf_counter()
        import bench

        spark = bench.make_spark(cpus())
        session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        from workloads import WORKLOADS

        workload = WORKLOADS[name](spark, work, seed)
        record = {"workload": name, "seed": seed, "rows": workload.rows,
                  "env": environment(spark)}
        try:
            m = measure(workload, seconds)
            passes = m["passes"]
            record["pass_s"] = [p.seconds for p in passes]
            record["check_s"] = [p.check_s for p in passes]
            record["cpu_s"] = [p.cpu_s for p in passes]
            record["steal_s"] = [p.steal_s for p in passes]
            record["setup_s"] = [session_s, *m["setups"]]
            if trace:
                from spans import Tracer
                from workloads import PassResult

                tracer = Tracer(spark.sparkContext)
                traced = workload.trace(tracer)
                passes.append(PassResult(tracer.seconds("pipeline"), traced.fails, 0))
        finally:
            stop_spark(spark)
        record["fails"] = [f for p in passes for f in p.fails]
        if trace:
            sampler.stop()
            record["peak_rss_mb"] = sampler.peak / MB
            from layers import layer_metrics
            from spans import read_event_log

            metrics = layer_metrics(tracer, traced.values, *read_event_log(event_log),
                                    m["first"].seconds, min(m["timed"]),
                                    record["peak_rss_mb"])
            os.makedirs(os.path.join(STATE, "spans"), exist_ok=True)
            record["spans_file"] = os.path.join(STATE, "spans", f"{name}-seed{seed}.json")
            tracer.dump(record["spans_file"], {
                "workload": name, "seed": seed,
                "metrics": {k: v["value"] for k, v in metrics.items()}})
        else:
            metrics = end_to_end(workload, session_s, m)
        record["result"] = {
            "correct": not record["fails"],
            "attempted": len(passes),
            "failed": sum(1 for p in passes if p.fails),
            "metrics": metrics,
        }
        return record
    finally:
        if sampler.is_alive():
            sampler.stop()
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["pipeline_clean", "pipeline_dirty"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "pysyslog", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print(f"perfbench: no pysyslog/ package and bench.py under {ROOT}; "
              "run from the root of a pysyslog checkout", file=sys.stderr)
        return 2
    record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    path = os.path.join(STATE, "results",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True, default=str)
    result = record["result"]
    for f in record["fails"][:20]:
        print(f"perfbench: output check failed: {f}", file=sys.stderr)
    print(json.dumps({"env": {k: v for k, v in record["env"].items()
                              if k != "spark_confs"}, "record": path}))
    failed_frac = result["failed"] / result["attempted"]
    print(f"{args.workload}: " + ", ".join(
        f"{k}={v['value']:.4g} {v['unit']}" for k, v in result["metrics"].items())
        + f", failed_frac={failed_frac:g} ({result['failed']}/{result['attempted']})")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
