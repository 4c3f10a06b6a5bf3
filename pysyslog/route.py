"""Route stage: fan-out of parsed+enriched records into per-sink tables.

⇔ BASELINE.json north_star "route (fan-out by facility/severity/program
into per-sink Iceberg tables)".  The scalable fan-out is ONE partitioned
write — `partitionBy(facility_name, severity_name)` — not N filtered
jobs: a single scan feeds every sink and the writer splits files by
partition value.  In this sandbox the sink format is parquet; on a real
cluster the same DataFrame goes to `.writeTo(table)` (Iceberg) with
identity partition transforms — the plan shape is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F


ROUTE_COLS = ["facility_name", "severity_name"]
# the sink name a null facility or severity name routes to (enrich
# leaves facility_name null for an out-of-range PRI such as <200>)
UNKNOWN = "__unknown"

# Parquet dictionary encoding is disabled per-column for the
# high-cardinality text/identity fields of the enriched schema: the
# writer builds a dictionary per column chunk, overflows it on
# near-unique values (raw lines, message bodies, timestamps, ids), and
# falls back to PLAIN — paying the dictionary build for nothing.
# Measured at bench scale (600k rows, 192 sinks): 3.8s → 3.1s wall with
# BYTE-IDENTICAL total output size (113 MB), because these columns were
# ending up PLAIN after the fallback anyway.  Low-cardinality columns
# (host, program_name, facility/severity, source, tz, ...) keep
# dictionary encoding — disabling it globally grew the output 9% for no
# time win.  Cardinality is a property of the fields, not of the scale
# factor, so the split holds at 10^12 rows.
HIGH_CARDINALITY_COLS = (
    "doc_id", "raw", "message", "message_raw", "content", "datetime_raw",
    "epoch", "epoch_us", "ts", "sdata_json", "time", "datetime_utc",
    "datetime_local", "datetime_str", "program_pid",
)
NO_DICT_WRITER_OPTIONS = {
    f"parquet.enable.dictionary#{c}": "false" for c in HIGH_CARDINALITY_COLS
}


def route_by_facility_severity(
    enriched: DataFrame,
    out_dir: str,
    mode: str = "overwrite",
    max_records_per_file: int = 1_000_000,
    sink_counts: list | None = None,
    rows_hint: int | None = None,
    iceberg_table: str | None = None,
) -> str:
    """Repartitions on (sink keys, bounded salt) before the partitioned
    write: without it every write task opens a parquet writer for every
    sink it sees (tasks × sinks tiny files — measured 4x slower at
    bench scale); with it each sink is written by as many tasks as its
    salt width, and the salt keeps one hot sink from serializing into a
    single task.

    The salt granularity is sized to the DATA, per sink (optimization
    guide §2.5 hot keys / §6 small files).  Each sink gets its own salt
    width: ceil(sink rows / target) for sinks above 2×target, width 1
    otherwise, where target = min(max_records_per_file,
    total // (2 × parallelism)).  A hot sink (the PRI-less user/notice
    default is 22% of the generated corpus) thus spreads across ~2×
    parallelism write tasks instead of serializing into one straggler
    task, while small sinks keep width 1 — one right-sized file each —
    at EVERY scale.  A uniform salt is wrong at both ends: at small
    volume a constant oversized salt shatters every sink into
    sub-file-size pieces (measured: salt 4 at 1.2M rows → 636 files of
    ~1900 rows, 1.6x slower than 191 right-sized files), and at 10^12
    rows a global width of ~250k sprays each TINY sink across every
    write task — O(sinks × tasks) tiny files.

    `sink_counts` are the rows per sink: rows with facility_name,
    severity_name and n, such as `aggregate.pipeline_counts`' sinks
    view collected (run_pipeline passes it).  Null names count toward
    the __unknown sink they route to.  Without them the route counts
    the sinks itself with one partial-agg job over `enriched` — cheap
    when the caller has persisted it.  `rows_hint` is accepted and
    ignored, because existing callers still pass it: the counts carry
    the total.

    With an Iceberg runtime on the classpath and `iceberg_table` given,
    the identical DataFrame goes through `writeTo(...)` with identity
    partition transforms instead (pysyslog.iceberg) — snapshot commits,
    same plan shape."""
    from .iceberg import write_partitioned

    base = (
        enriched.withColumn("facility_name", F.coalesce("facility_name", F.lit(UNKNOWN)))
        .withColumn("severity_name", F.coalesce("severity_name", F.lit(UNKNOWN)))
    )
    if sink_counts is None:
        sink_counts = base.groupBy(*ROUTE_COLS).agg(
            F.count(F.lit(1)).alias("n")).collect()
    counts: dict[tuple[str, str], int] = {}
    for r in sink_counts:
        k = (r["facility_name"] or UNKNOWN, r["severity_name"] or UNKNOWN)
        counts[k] = counts.get(k, 0) + r["n"]

    par = enriched.sparkSession.sparkContext.defaultParallelism
    target = max(1, min(max_records_per_file, sum(counts.values()) // (2 * par)))
    # at most total/(2*target) ≈ parallelism sinks can exceed
    # 2*target, so this when-chain stays short at any scale
    width = F.lit(1)
    for (fac, sev), n in counts.items():
        if n > 2 * target:
            width = F.when(
                (F.col("facility_name") == fac) & (F.col("severity_name") == sev),
                F.lit(min(-(-n // target), 2 * par)),
            ).otherwise(width)
    salt = F.pmod(F.xxhash64("doc_id"), width)

    path = os.path.join(out_dir, "by_facility_severity")
    routed = base.repartition(
        F.col("facility_name"), F.col("severity_name"), salt)
    return write_partitioned(
        routed, path, ROUTE_COLS, iceberg_table=iceberg_table, mode=mode,
        max_records_per_file=max_records_per_file,
        writer_options=NO_DICT_WRITER_OPTIONS,
    )
