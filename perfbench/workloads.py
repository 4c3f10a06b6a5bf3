"""The benchmark's workloads: what one set-up and one timed pass call in
`pysyslog`, and the traced chain that splits a pass into layers."""

from __future__ import annotations

import glob
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from pysyslog import SyslogParser
from pysyslog.aggregate import pipeline_counts, salted_counts
from pysyslog.enrich import enrich
from pysyslog.gen import GEN_NOW_EPOCH
from pysyslog.options import ParserOptions
from pysyslog.parser import parse_syslog_tokens
from pysyslog.pipeline import run_pipeline, transform
from pysyslog.route import route_by_facility_severity
from pysyslog.tokens import detokenize, retokenize

import procs
from check import check_layered, check_pipeline
from corpus import make_corpus

# the options `python -m pysyslog.pipeline` parses with
OPTS = ParserOptions(now_epoch=GEN_NOW_EPOCH, auto_detect_json=True,
                     auto_detect_key_values=True)
MB = 1024 * 1024


@dataclass
class PassResult:
    seconds: float
    fails: list[str]
    sink_bytes: int
    check_s: float = 0.0
    # CPU time of the process tree and steal time of the machine during
    # the pass
    cpu_s: float = 0.0
    steal_s: float = 0.0


@dataclass
class TraceResult:
    """What the traced chain measures directly; the rest of the
    per-layer metrics come from the event log."""

    fails: list[str]
    values: dict = field(default_factory=dict)


def parquet_files(root: str) -> tuple[int, int]:
    """(file count, bytes) of the parquet files under `root`."""
    files = glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


class Pipeline:
    """One timed pass is `run_pipeline` over the token table into a fresh
    output directory."""

    name = "pipeline_clean"
    rows = 20_000
    dirty_share = 0.0
    # run_pipeline defaults to 4 buckets.  Every bucket pays the route's
    # fixed cost of ~190 sink files (~3.5 s on 4 cores at any row count),
    # so a 4-bucket pass cannot be repeated enough times within the
    # benchmark's time budget.
    buckets = 1

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.par = spark.sparkContext.defaultParallelism
        self.parser = SyslogParser(OPTS)

    def setup(self, rep: int) -> None:
        """Materialize the token table the program reads."""
        self.corpus = make_corpus(self.rows, self.seed, self.dirty_share)
        self.path = os.path.join(self.work, f"corpus-{rep}")
        # one file per id range, as gen.write_corpus lays the table out
        self.corpus.write_parquet(self.path, files=max(8, self.par))
        self.tokens = self.spark.read.parquet(self.path)

    def _out(self, tag) -> str:
        out = os.path.join(self.work, f"out-{tag}")
        shutil.rmtree(out, ignore_errors=True)
        return out

    def run_pass(self, k) -> PassResult:
        out = self._out(k)
        cpu, steal = procs.cpu_s(), procs.steal_s()
        t = time.perf_counter()
        try:
            manifest = run_pipeline(self.spark, self.tokens, out, OPTS,
                                    n_buckets=self.buckets)
        except Exception:  # the pass failed; the run goes on and reports it
            return PassResult(time.perf_counter() - t,
                              [f"run_pipeline raised: {traceback.format_exc(limit=1)}"], 0)
        dt = time.perf_counter() - t
        cpu, steal = procs.cpu_s() - cpu, procs.steal_s() - steal
        result = self._finish(out, manifest, dt)
        result.cpu_s, result.steal_s = cpu, steal
        return result

    def _finish(self, out: str, manifest: dict, dt: float) -> PassResult:
        t = time.perf_counter()
        fails = check_pipeline(out, manifest, self.corpus, self.parser, self.seed,
                               self.work)
        _, sink_bytes = parquet_files(out)
        shutil.rmtree(out, ignore_errors=True)
        return PassResult(dt, fails, sink_bytes, time.perf_counter() - t)

    def trace(self, tracer) -> TraceResult:
        """The layered chain, each span materialized at its boundary,
        then one traced `run_pipeline` call."""
        # Spark's input metrics miss the parquet reader's vectored reads,
        # so the scan's input is the size of the files it reads
        values = {"scan_bytes": parquet_files(self.path)[1]}
        span = tracer.span
        with span("scan"):
            scan = self.spark.read.parquet(self.path)
            _noop(scan)
        with span("tokens"):
            rt = retokenize(detokenize(scan), raw_col="raw", out_col="tokens_rt")
            values["roundtrip_violations"] = rt.filter(
                ~(F.col("tokens") == F.col("tokens_rt"))).count()
        with span("parser"):
            parsed = parse_syslog_tokens(scan.repartition(self.par * 2), "tokens", OPTS)
            _noop(parsed)
        with span("enrich"):
            _noop(enrich(parsed))
        with span("cache"):
            cached = transform(scan, OPTS, parse_partitions=self.par * 2).drop(
                "tokens", "message_raw").persist()
            n = cached.count()
        values["cache_mb"] = _cached_mb(self.spark)
        values["null_ts_rows"] = cached.filter(F.col("ts").isNull()).count()
        out = self._out("layers")
        with span("route"):
            route_by_facility_severity(cached, out, rows_hint=n)
        with span("aggregate"):
            with span("aggregate.base"):
                base, hourly, sinks = pipeline_counts(cached)
                base = base.persist()
                hourly_sum = hourly.agg(F.sum("n")).first()[0] or 0
                sink_rows = sinks.select("facility_name", "severity_name", "n").collect()
                base.unpersist()
            with span("aggregate.host"):
                host_sum = salted_counts(cached, "host").agg(F.sum("n")).first()[0]
        cached.unpersist()
        fails = check_layered(out, hourly_sum, sink_rows, host_sum, self.corpus,
                              self.parser, self.seed, self.work)
        values["route_files"], values["route_bytes"] = parquet_files(out)
        shutil.rmtree(out, ignore_errors=True)

        out = self._out("traced")
        with span("pipeline"):
            manifest = run_pipeline(self.spark, scan, out, OPTS, n_buckets=self.buckets)
        values["bucket_s_max"] = max(b["seconds"] for b in manifest["buckets"].values())
        fails += self._finish(out, manifest, tracer.seconds("pipeline")).fails
        return TraceResult(fails, values)


class DirtyPipeline(Pipeline):
    name = "pipeline_dirty"
    dirty_share = 0.5


WORKLOADS = {w.name: w for w in (Pipeline, DirtyPipeline)}
