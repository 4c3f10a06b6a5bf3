"""Per-sink adaptive salting in route_by_facility_severity (guide §2.5
hot keys / §6 small files): a hot sink splits across multiple write
tasks (several files), small sinks keep one file, the layout is the
same whether the caller passes the sink counts or the route counts
them itself, and every input row lands in its own sink unchanged."""

from __future__ import annotations

import os
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from pysyslog.route import route_by_facility_severity


@pytest.fixture()
def skewed(spark):
    # 2000 rows for the hot sink, 40 each for two small ones
    n_hot, n_small = 2000, 40
    df = spark.range(n_hot + 2 * n_small).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.when(F.col("id") < n_hot, F.lit("user"))
        .when(F.col("id") < n_hot + n_small, F.lit("mail"))
        .otherwise(F.lit("ftp"))
        .alias("facility_name"),
        F.when(F.col("id") < n_hot, F.lit("notice"))
        .otherwise(F.lit("info"))
        .alias("severity_name"),
        F.col("id").alias("payload"),
    )
    return df, n_hot, n_small


def _files(path):
    out = {}
    for root, _dirs, files in os.walk(path):
        pq = [f for f in files if f.endswith(".parquet")]
        if pq:
            rel = os.path.relpath(root, path)
            out[rel] = len(pq)
    return out


@contextmanager
def _no_coalesce(spark):
    # at this toy size AQE's partition coalescing would (correctly)
    # merge the salt pieces back into one task — disable it so the test
    # observes the salt itself, not AQE's size-based task packing
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _sink_counts(df):
    return df.groupBy("facility_name", "severity_name").agg(
        F.count(F.lit(1)).alias("n")).collect()


def test_adaptive_salt_splits_hot_sink_only(spark, skewed, tmp_path):
    df, n_hot, n_small = skewed
    out = str(tmp_path / "counted")
    out2 = str(tmp_path / "self_counted")
    with _no_coalesce(spark):
        route_by_facility_severity(df, out, sink_counts=_sink_counts(df),
                                   max_records_per_file=1_000_000)
        route_by_facility_severity(df, out2)
    files = _files(os.path.join(out, "by_facility_severity"))
    # hot sink: salt width ceil(2000/target) > 1 spreads it over
    # several write tasks; small sinks keep width 1 → exactly one file
    assert files["facility_name=user/severity_name=notice"] > 1
    assert files["facility_name=mail/severity_name=info"] == 1
    assert files["facility_name=ftp/severity_name=info"] == 1
    assert _files(os.path.join(out2, "by_facility_severity")) == files

    # routed-row equality vs the input frame
    want = {
        r["doc_id"]: (r["facility_name"], r["severity_name"], r["payload"])
        for r in df.collect()
    }
    assert len(want) == n_hot + 2 * n_small
    for path in (out, out2):
        got = spark.read.parquet(os.path.join(path, "by_facility_severity"))
        assert {
            r["doc_id"]: (r["facility_name"], r["severity_name"], r["payload"])
            for r in got.collect()
        } == want


def test_null_sink_names_route_to_unknown(spark, tmp_path):
    # a hot sink whose names are null: its counts arrive under None
    # names and must still size the salt of the __unknown sink
    df = spark.range(2001).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.when(F.col("id") == 0, F.lit("user")).alias("facility_name"),
        F.when(F.col("id") == 0, F.lit("info")).alias("severity_name"),
        F.col("id").alias("payload"),
    )
    out = str(tmp_path / "nulls")
    with _no_coalesce(spark):
        route_by_facility_severity(df, out, sink_counts=_sink_counts(df))
    files = _files(os.path.join(out, "by_facility_severity"))
    assert files["facility_name=__unknown/severity_name=__unknown"] > 1
    assert files["facility_name=user/severity_name=info"] == 1
