"""End-to-end pipeline: scan → detokenize → parse → enrich → route →
aggregate, with per-partition lineage, metrics, and checkpoint/resume.

⇔ BASELINE.json north_rule.  Designed for 10^12-row Iceberg inputs:

* the input is bucketed into `n_buckets` deterministic ranges of doc_id
  hash; each bucket is an independent, idempotent unit of work
  (sandbox proxy for Iceberg snapshot/partition-level commits);
* a JSON manifest records completed buckets + per-bucket metrics
  (rows in, parse failures, token round-trip violations, rows routed) —
  rerunning skips completed buckets (resume-from-checkpoint);
* explicit `repartition` before the parse stage so the Arrow UDF
  saturates all cores regardless of input file layout;
* AQE left on for shuffle coalescing / skew splitting.

Run via spark-submit:  spark-submit --py-files pysyslog.zip -m pysyslog.pipeline ...
(entry: `main()`), or programmatically via `run_pipeline`.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .aggregate import pipeline_counts
from .enrich import enrich
from .options import ParserOptions
from .parser import parse_syslog_tokens
from .route import route_by_facility_severity
from .tokens import lossy


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_pipeline_manifest.json")


def load_manifest(out_dir: str) -> dict:
    p = _manifest_path(out_dir)
    if os.path.exists(p):
        with open(p) as fh:
            return json.load(fh)
    return {"buckets": {}, "metrics": {}}


def save_manifest(out_dir: str, manifest: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    tmp = _manifest_path(out_dir) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, _manifest_path(out_dir))


def make_spark(cpus: int | None = None) -> SparkSession:
    """The session the pipeline and its benchmarks run in.  With `cpus`
    it runs local[cpus] with a shuffle width that grows with the
    cores; without, the master and shuffle width are spark-submit's."""
    builder = SparkSession.builder.appName("pysyslog-pipeline")
    if cpus:
        builder = (
            builder.master(f"local[{cpus}]")
            # 4 waves of tasks per core: enough granularity that one slow
            # task (skewed sink, GC pause) doesn't gate the whole stage —
            # and the count GROWS with the cluster, as it must at scale
            .config("spark.sql.shuffle.partitions", str(max(cpus * 4, 8)))
        )
    return (
        builder
        # commit renames inside tasks (v2), not serially on the driver:
        # the partitioned route write produces O(sinks × salt) files and
        # a driver-side O(files) commit flattens scaling
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # small corpus files must still fan out across all cores at the
        # SCAN, so parallelism comes from the read instead of a
        # full-corpus repartition shuffle
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        .config("spark.sql.adaptive.enabled", "true")
        # let AQE coalesce the OUTPUT partitioning of cached plans too
        # (off by default): pipeline_counts persists a ~sinks×hours-row
        # aggregate that otherwise keeps all shuffle.partitions
        # partitions, so every downstream agg over the tiny cache
        # schedules cpus*4 near-empty tasks twice — measured 3.9s →
        # 0.65s for the sink-totals rollup at bench scale
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        # run_pipeline persists the enriched frame.  Columnar-cache
        # compression is a bad trade for it: the wide columns are
        # near-unique strings (raw, message, content, sdata_json,
        # rendered datetimes) that barely compress — measured 372 MB
        # compressed vs 454 MB raw at bench scale (1.22x) while the
        # encode/decode cost 30-50% of the cache-build wall (2.2s -> 3.2s
        # steady-state build+count) plus decode on every downstream
        # scan.  That ratio is a property of the enriched schema, not of
        # the scale factor.
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        # First-level vectorized aggregate hash map (off by default in
        # Spark): every aggregate of the enriched frame (hourly/sink
        # counts, salted host counts) measured a consistent 5-10% faster
        # with it across interleaved A/B reps (hourly 2.30->2.14s,
        # salted 1.89->1.55s, 600k rows).  It only changes the in-task
        # partial-agg data structure, not the plan.
        .config("spark.sql.codegen.aggregate.map.vectorized.enable", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def transform(tokens_df: DataFrame, options: ParserOptions,
              parse_partitions: int | None = None) -> DataFrame:
    """The logical plan shared by batch pipeline, bench, and tests:
    (detokenize+parse fused into one Arrow crossing) → enrich.
    Pure — no writes."""
    df = tokens_df
    if parse_partitions:
        df = df.repartition(parse_partitions)
    return enrich(parse_syslog_tokens(df, "tokens", options))


def run_pipeline(
    spark: SparkSession,
    tokens_df: DataFrame,
    out_dir: str,
    options: ParserOptions,
    n_buckets: int = 4,
) -> dict:
    """Bucketed, resumable batch run. Returns the manifest."""
    manifest = load_manifest(out_dir)
    parallelism = spark.sparkContext.defaultParallelism

    bucket_col = F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets))
    for b in range(n_buckets):
        key = str(b)
        if manifest["buckets"].get(key, {}).get("status") == "done":
            continue
        t0 = time.time()
        part = tokens_df.filter(bucket_col == b)
        enriched = transform(part, options, parse_partitions=parallelism * 2)

        m: dict = {"bucket": b}
        # a JVM-only scan of the token column: the parse UDF is the one
        # place the bucket's tokens become lines (and where invalid
        # UTF-8 fails the run)
        m["roundtrip_violations"] = part.filter(lossy()).count()

        # tokens/message_raw are dead weight downstream (raw carries the
        # line for routed-row checks); dropping them halves cache bytes
        enriched = enriched.drop("tokens", "message_raw").persist()
        # one shuffled aggregate feeds the hourly table, the per-sink
        # totals, the manifest's row counts and the route's salt widths,
        # so the wide cache is scanned only here and by the route write
        base, hourly, sinks = pipeline_counts(enriched)
        base = base.persist()
        sink_rows = sinks.collect()  # ≤ facilities × severities rows
        m["rows_in"] = sum(r["n"] for r in sink_rows)
        # ts is null exactly where the hour bucket is
        m["parse_no_ts"] = base.filter(F.col("hour").isNull()).agg(
            F.sum("n")).first()[0] or 0
        route_by_facility_severity(
            enriched, os.path.join(out_dir, f"bucket={b}"), mode="overwrite",
            sink_counts=sink_rows,
        )
        hourly.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"bucket={b}", "agg_hourly")
        )
        sinks.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"bucket={b}", "sink_counts")
        )
        base.unpersist()
        enriched.unpersist()

        m["seconds"] = round(time.time() - t0, 3)
        m["status"] = "done"
        manifest["buckets"][key] = m
        save_manifest(out_dir, manifest)  # commit point per bucket

    manifest["metrics"]["total_rows"] = sum(
        b.get("rows_in", 0) for b in manifest["buckets"].values()
    )
    save_manifest(out_dir, manifest)
    return manifest


def main(argv=None):
    import argparse

    ap = argparse.ArgumentParser(description="pysyslog batch pipeline")
    ap.add_argument("--input", help="parquet dir of token table (default: generated)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf", type=float, default=0.001)
    ap.add_argument("--buckets", type=int, default=4)
    ap.add_argument("--now", type=float, default=None)
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[] threads (default: spark-submit's master)")
    args = ap.parse_args(argv)

    spark = make_spark(args.cpus)
    from .gen import GEN_NOW_EPOCH, gen_tokens_df, rows_for_sf

    if args.input:
        tokens = spark.read.parquet(args.input)
    else:
        tokens = gen_tokens_df(spark, rows_for_sf(args.sf))
    opts = ParserOptions(
        now_epoch=args.now if args.now is not None else GEN_NOW_EPOCH,
        auto_detect_json=True,
        auto_detect_key_values=True,
    )
    manifest = run_pipeline(spark, tokens, args.out, opts, n_buckets=args.buckets)
    print(json.dumps(manifest["metrics"]))


if __name__ == "__main__":
    main()
