"""Runs the benchmark over several seeds and prints, per workload and
end-to-end metric, the median and the quartile spread (q3 - q1) / median
across the runs, next to the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --seeds 1-10 [--workload pipeline_clean] [--out FILE]

Each run is `run.py` in its own process, one at a time, with the
BENCHMARK.json `run_seconds`.  A seed range `a-b` includes both ends.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def one_run(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=900, check=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])


def summarize(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"), "values": values}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    names = args.workload or [w["name"] for w in bench["workloads"]]
    report = {}
    for name in names:
        runs = []
        for seed in seeds(args.seeds):
            result = one_run(name, seed, bench["run_seconds"])
            runs.append(result)
            print(f"{name} seed {seed}: correct={result['correct']} "
                  f"failed={result['failed']}/{result['attempted']}", file=sys.stderr)
        metrics = {m: summarize([r["metrics"][m]["value"] for r in runs])
                   for m in runs[0]["metrics"]}
        attempted = sum(r["attempted"] for r in runs)
        failed = sum(r["failed"] for r in runs)
        report[name] = {"runs": len(runs), "attempted": attempted, "failed": failed,
                        "failed_frac": failed / attempted, "metrics": metrics}
        print(f"{name}: {len(runs)} runs, failed_frac={failed / attempted:g} "
              f"({failed}/{attempted})")
        for m, s in metrics.items():
            b = bounds.get(m)
            unit = runs[0]["metrics"][m]["unit"]
            bound = f" bound {b['bound']:g}" if b else ""
            print(f"  {m:24s} median {s['median']:12.4f} {unit:6s} "
                  f"spread {s['spread']:.4f}{bound}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
