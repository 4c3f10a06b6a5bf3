"""The output check and the traced run, with a real Spark session.  Each
benchmark run starts its own JVM, so these run in a subprocess."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from layers import PER_LAYER

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CORRUPT_AND_CHECK = """
import glob, json, os, shutil, sys
import run
work = os.path.join(run.STATE, "test-check-%d" % os.getpid())
shutil.rmtree(work, ignore_errors=True)
run.prepare_environment(work, None)
import bench
spark = bench.make_spark(run.cpus())
try:
    from pysyslog.pipeline import run_pipeline
    from workloads import OPTS, WORKLOADS
    from check import check_pipeline
    w = WORKLOADS["pipeline_dirty"](spark, work, 5)
    w.setup(0)
    out = os.path.join(work, "out")
    manifest = run_pipeline(spark, w.tokens, out, OPTS, n_buckets=w.buckets)
    result = {"clean": check_pipeline(out, manifest, w.corpus, w.parser, 5, work)}
    # move the biggest sink's files into another sink's partition
    sinks = glob.glob(os.path.join(out, "bucket=*", "by_facility_severity", "*", "*"))
    hot = max(sinks, key=lambda d: sum(os.path.getsize(f) for f in glob.glob(d + "/*.parquet")))
    other = next(d for d in sinks if d != hot)
    for f in glob.glob(hot + "/*.parquet"):
        shutil.move(f, os.path.join(other, "moved-" + os.path.basename(f)))
    result["moved"] = check_pipeline(out, manifest, w.corpus, w.parser, 5, work)
    for f in glob.glob(other + "/*.parquet"):
        os.remove(f)
    result["deleted"] = check_pipeline(out, manifest, w.corpus, w.parser, 5, work)
finally:
    run.stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
print(json.dumps(result))
"""

TRACED_RUN = """
import json, sys
import run
record = run.run(sys.argv[1], 3, 0, True)
print(json.dumps(record["result"]))
"""


def _python(code: str, *args: str) -> dict:
    proc = subprocess.run([sys.executable, "-c", code, *args], cwd=HERE,
                          stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=600, check=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_check_fails_on_a_corrupted_sink():
    result = _python(CORRUPT_AND_CHECK)
    assert result["clean"] == []
    assert any("sink" in f for f in result["moved"]), result["moved"]
    assert any("doc_ids" in f for f in result["deleted"]), result["deleted"]


@pytest.mark.parametrize("workload", ["pipeline_clean", "pipeline_dirty"])
def test_traced_run_emits_every_per_layer_metric(workload):
    result = _python(TRACED_RUN, workload)
    assert result["correct"] and result["failed"] == 0
    metrics = result["metrics"]
    assert list(metrics) == list(PER_LAYER)
    for name, (unit, _) in PER_LAYER.items():
        assert metrics[name]["unit"] == unit
        assert isinstance(metrics[name]["value"], float)
    assert metrics["tokens.roundtrip_violations"]["value"] == 0
    assert metrics["route.files"]["value"] > 0
    assert metrics["pipeline.s"]["value"] > 0
    assert 0 < metrics["trace.coverage"]["value"]
    if workload == "pipeline_dirty":
        assert metrics["parser.null_ts_rows"]["value"] > 0
