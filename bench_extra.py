"""Extra measurement harness for the optimization round (guide §1).

NOT part of the driver contract — bench.py is the frozen measured
artifact; this file exists so optimization work can (a) time each
declared query in isolation with the noop sink, (b) dump
.explain("formatted") plans to plans/<tag>/, and (c) report partition
counts, without touching bench.py.  The pipeline's stage-by-stage
timing is `perfbench/run.py --trace 1`.

Usage:
  python bench_extra.py queries  [--reps 3] [--names a,b,c] [--plans plans/r07 --suffix _before]
  python bench_extra.py parts    # partition counts of key scans
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pysyslog.pipeline import make_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

BENCH_NAMES = [
    "parse_pri", "agg_hourly", "tpch_pricing_summary", "tpch_nation_orders",
    "dedup_exact", "minhash_signatures", "quality_score", "ann_cosine_topk",
    "multiline_reassembly",
]


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def dump_plan(df, path: str):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    with open(path, "w") as fh:
        fh.write(buf.getvalue())


def cmd_queries(args):
    import __spark_entry__ as entry

    spark = make_spark(CPUS)
    q = entry.queries()
    names = args.names.split(",") if args.names else BENCH_NAMES
    # one warmup round first (JIT, python workers), then timed reps
    out: dict[str, list[float]] = {n: [] for n in names}
    for rep in range(args.reps + 1):
        for name in names:
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            df = q[name](spark, SF_DIR)
            _noop(df)
            dt = round(time.time() - t0, 3)
            if rep > 0:
                out[name].append(dt)
            elif args.plans:
                dump_plan(q[name](spark, SF_DIR),
                          os.path.join(args.plans, f"{name}{args.suffix}.txt"))
    med = {n: sorted(ts)[len(ts) // 2] for n, ts in out.items()}
    print(json.dumps({"median": med, "all": out}, indent=1))
    spark.stop()


def cmd_parts(args):
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    spark = make_spark(CPUS)
    for t in ("events", "documents", "embeddings", "lineitem", "orders"):
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            df = spark.read.parquet(p)
            print(t, "partitions:", df.rdd.getNumPartitions())
    spark.stop()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["queries", "parts"])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--names", default=None)
    ap.add_argument("--plans", default=None)
    ap.add_argument("--suffix", default="_before")
    args = ap.parse_args()
    {"queries": cmd_queries, "parts": cmd_parts}[args.cmd](args)


if __name__ == "__main__":
    main()
