"""Output checks run after every pass, outside the timed region.

Each check returns a list of failure strings; an empty list means the
pass produced exactly what the corpus labels predict.  Routed parquet is
read back with pyarrow and queried with DuckDB, independently of Spark.
"""

from __future__ import annotations

import glob
import os
from collections import Counter

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from pysyslog import SyslogParser
from pysyslog.parser import FIELD_NAMES, record_to_row

from corpus import UNKNOWN, Corpus

SAMPLE_ROWS = 2000
# parser fields the routed table keeps (run_pipeline drops message_raw;
# parsed_json is only filled on request)
CHECKED_FIELDS = [f for f in FIELD_NAMES if f not in ("message_raw", "parsed_json")]


def _connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def _read(pattern: str) -> pa.Table:
    """Every parquet file under the directories matching `pattern`, with
    hive partition columns."""
    dirs = sorted(glob.glob(pattern))
    if not dirs:
        raise FileNotFoundError(pattern)
    return pa.concat_tables(
        ds.dataset(d, format="parquet", partitioning="hive").to_table() for d in dirs)


def _sinks(rows) -> Counter:
    return Counter({(f or UNKNOWN, s or UNKNOWN): int(n) for f, s, n in rows})


def _norm(v):
    """Maps come back from parquet as (key, value) pairs, and from the
    parser as dicts; empty and missing maps compare equal."""
    if isinstance(v, dict):
        v = v.items()
    if isinstance(v, (list, type({}.items()))):
        return sorted(v) or None
    return v


def check_routed(con, routed_dirs: str, corpus: Corpus, parser: SyslogParser,
                 seed: int) -> tuple[list[str], Counter]:
    """doc_id set, a DuckDB per-sink recount against the labels, and a
    seeded sample compared field by field with `SyslogParser.parse`.
    Returns (failures, routed per-sink counts)."""
    fails: list[str] = []
    try:
        routed = _read(routed_dirs)
    except (OSError, pa.ArrowException) as e:
        return [f"routed output unreadable: {e}"], Counter()
    con.register("routed", routed)
    routed_sinks = _sinks(con.execute(
        "SELECT facility_name, severity_name, count(*) FROM routed GROUP BY ALL"
    ).fetchall())
    if routed_sinks != corpus.expected_sink_counts():
        diff = (routed_sinks - corpus.expected_sink_counts()) + (
            corpus.expected_sink_counts() - routed_sinks)
        fails.append(f"routed sink counts differ from labels on {len(diff)} sinks")
    ids = routed.column("doc_id").to_pylist()
    unique = set(ids)
    if len(ids) != corpus.n or unique != set(corpus.doc_ids):
        fails.append(f"routed doc_ids: {len(ids)} rows, {len(unique)} distinct, "
                     f"{len(unique - set(corpus.doc_ids))} not in the input; "
                     f"want the {corpus.n} input doc_ids once each")

    rng = np.random.default_rng([seed, 0x5A3])
    pick = rng.choice(corpus.n, size=min(SAMPLE_ROWS, corpus.n), replace=False)
    index = {corpus.doc_ids[i]: int(i) for i in pick}
    sample = routed.filter(pc.is_in(routed.column("doc_id"), pa.array(list(index))))
    rows = sample.select(["doc_id", "raw", "facility_name", "severity_name", "ts"]
                         + CHECKED_FIELDS).to_pylist()
    if len(rows) != len(index):
        fails.append(f"sample: {len(rows)} of {len(index)} sampled rows routed")
    bad = 0
    for row in rows:
        i = index[row["doc_id"]]
        line = corpus.lines[i]
        want = dict(zip(FIELD_NAMES, record_to_row(parser.parse(line))))
        ok = (row["raw"] == line
              and (row["facility_name"], row["severity_name"]) == corpus.sinks[i]
              and (row["ts"] is not None) == bool(corpus.has_ts[i])
              and _norm(row["sdata"]) == _norm(want["sdata"])
              and all(row[f] == want[f] for f in CHECKED_FIELDS if f != "sdata"))
        if not ok:
            bad += 1
            if bad == 1:
                fails.append(f"sample row {row['doc_id']} differs from SyslogParser.parse")
    if bad > 1:
        fails.append(f"sample: {bad} rows differ from SyslogParser.parse")
    return fails, routed_sinks


def check_pipeline(out_dir: str, manifest: dict, corpus: Corpus,
                   parser: SyslogParser, seed: int, tmp_dir: str) -> list[str]:
    """Output of one `run_pipeline` call into a fresh `out_dir`."""
    fails: list[str] = []
    buckets = manifest.get("buckets", {}).values()
    if manifest.get("metrics", {}).get("total_rows") != corpus.n:
        fails.append(f"manifest total_rows={manifest.get('metrics')} want {corpus.n}")
    if not buckets or any(b.get("roundtrip_violations") != 0 for b in buckets):
        fails.append("manifest: round-trip violations or no buckets")
    no_ts = sum(b.get("parse_no_ts", 0) for b in buckets)
    if no_ts != corpus.expected_null_ts():
        fails.append(f"manifest parse_no_ts={no_ts} want {corpus.expected_null_ts()}")
    con = _connect(tmp_dir)
    try:
        routed_fails, routed = check_routed(
            con, os.path.join(out_dir, "bucket=*", "by_facility_severity"),
            corpus, parser, seed)
        fails += routed_fails
        con.register("sink_counts", _read(os.path.join(out_dir, "bucket=*", "sink_counts")))
        sinks = _sinks(con.execute(
            "SELECT facility_name, severity_name, sum(n) FROM sink_counts GROUP BY ALL"
        ).fetchall())
        if sinks != routed:
            fails.append("written sink_counts differ from the routed recount")
        con.register("hourly", _read(os.path.join(out_dir, "bucket=*", "agg_hourly")))
        hourly = con.execute("SELECT coalesce(sum(n), 0) FROM hourly").fetchone()[0]
        if hourly != corpus.n - corpus.expected_null_ts():
            fails.append(f"hourly rows sum to {hourly}, want "
                         f"{corpus.n - corpus.expected_null_ts()}")
    except (OSError, pa.ArrowException, duckdb.Error) as e:
        fails.append(f"pipeline output unreadable: {e}")
    finally:
        con.close()
    return fails


def check_layered(out_dir: str, hourly_sum: int, sink_rows, host_sum: int,
                  corpus: Corpus, parser: SyslogParser, seed: int,
                  tmp_dir: str) -> list[str]:
    """Output of the traced run's route + pipeline_counts + salted host
    counts over the persisted enriched frame."""
    con = _connect(tmp_dir)
    try:
        fails, routed = check_routed(
            con, os.path.join(out_dir, "by_facility_severity"), corpus, parser, seed)
    finally:
        con.close()
    if _sinks(sink_rows) != routed:
        fails.append("pipeline_counts sinks differ from the routed recount")
    if hourly_sum != corpus.n - corpus.expected_null_ts():
        fails.append(f"hourly rows sum to {hourly_sum}")
    if host_sum != corpus.n:
        fails.append(f"salted host counts sum to {host_sum}, want {corpus.n}")
    return fails
