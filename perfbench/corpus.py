"""Seeded benchmark inputs: clean `pysyslog.gen` lines, an optional dirty
rewrite of a share of them, and the labels every output check uses.

Every row carries its expected `(facility_name, severity_name, has_ts)`
by construction, never by parsing: a clean line's PRI is the `<n>` the
generator wrote at the line start, a dirty line's PRI is the one its
cohort builder chose.  A line without a valid PRI expects user/notice
(RFC 3164 §4.3.3), and only a line whose header carries a complete
timestamp expects a non-null `ts`.

All lines are valid UTF-8.  Byte arrays that are not are outside the
token table's input contract (`pysyslog.tokens`): the fused parse UDF
decodes strictly and fails the task on them, so no workload makes them.
"""

from __future__ import annotations

import os
import re
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pysyslog import gen
from pysyslog.tables import FACILITY_NAMES, INT_PRIORITY, PRIORITY_NAMES

DEFAULT_FACILITY = "user"
DEFAULT_SEVERITY = "notice"
UNKNOWN = "__unknown"  # route's name for a code the dimension lacks

# Each dirty cohort misses the parser's fast-regex cohort by
# construction, so a pass over them runs the parser_core state machine.
COHORTS = (
    "pri_removed",      # RFC 5424 line without its PRI: the version digit leads
    "pri_truncated",    # "<13Jun ..." or "<Jun ...": no closing '>'
    "no_timestamp",     # valid PRI, then host and program, no date
    "multi_hop_relay",  # RFC 5424 line with two relay hops
    "prog_sub",         # program written prog(sub)[pid]:
    "severity_word",    # program is a severity name ("err:", "warn:")
    "free_text",        # no PRI, no header, multi-byte UTF-8
    "truncated",        # line cut inside the header time
)

_PRI_RE = re.compile(r"<(\d{1,3})>")
_SEVERITY_WORDS = sorted(INT_PRIORITY)
_PROGS = ["postfix", "sudo", "sshd", "named", "ntpd", "haproxy"]
_SUBS = ["smtpd", "pam_unix", "cleanup", "resolver", "worker"]
_FREE = ["café ✓ disk almost full", "überlast → retry später",
         "naïve résumé sent", "温度 warning cleared", "ошибка канала"]
_MONTHS = ["Jun", "Jul", "Aug", "Sep"]


def sink_of(pri: int | None) -> tuple[str, str]:
    """Routed sink a PRI belongs to; None means no valid PRI."""
    if pri is None:
        return DEFAULT_FACILITY, DEFAULT_SEVERITY
    return (FACILITY_NAMES.get(pri & 0x03F8, UNKNOWN),
            PRIORITY_NAMES.get(pri & 0x07, UNKNOWN))


def _dirty_line(cohort: str, v: np.ndarray, host: str) -> tuple[str, int | None, bool]:
    """One dirty line -> (line, PRI or None, has_ts).  `v` holds eight
    seeded non-negative integers for this row."""
    p = int(v[0] % 191)
    mon = _MONTHS[int(v[1] % 4)]
    dom = int(v[1] // 4 % 28) + 1
    hh, mi, ss = int(v[2] % 24), int(v[2] // 24 % 60), int(v[2] // 1440 % 60)
    bsd = f"{mon} {dom:2d} {hh:02d}:{mi:02d}:{ss:02d}"
    iso = f"2018-{6 + int(v[1] % 4):02d}-{dom:02d}T{hh:02d}:{mi:02d}:{ss:02d}"
    prog = _PROGS[int(v[3] % len(_PROGS))]
    pid = 1000 + int(v[4] % 50000)
    msg = f"event {int(v[5] % 100000)} done"
    if cohort == "pri_removed":
        return (f"1 {iso}+00:00 {host} APP-{v[6] % 9} - EVENT_{v[7] % 5} {msg}",
                None, False)
    if cohort == "pri_truncated":
        lead = f"<{p}" if v[6] % 2 else "<"
        return f"{lead}{bsd} {host} {prog}[{pid}]: {msg}", None, False
    if cohort == "no_timestamp":
        return f"<{p}>{host} {prog}[{pid}]: {msg}", p, False
    if cohort == "multi_hop_relay":
        return (f"<{p}>1 {iso}+00:00 {host} 1 {iso}.{v[6] % 1000:03d}Z "
                f"relay{v[6] % 20} 2 {iso}.{v[7] % 1000:03d}Z relay{v[7] % 20} "
                f"APP-{v[5] % 9} - {msg}", p, True)
    if cohort == "prog_sub":
        sub = _SUBS[int(v[6] % len(_SUBS))]
        return f"<{p}>{bsd} {host} {prog}({sub})[{pid}]: {msg}", p, True
    if cohort == "severity_word":
        word = _SEVERITY_WORDS[int(v[6] % len(_SEVERITY_WORDS))]
        return f"<{p}>{bsd} {host} {word}: {msg}", p, True
    if cohort == "free_text":
        return f"free text {v[5] % 1000}: {_FREE[int(v[6] % len(_FREE))]}", None, False
    if cohort == "truncated":
        # keep 1 .. len("Mmm dd HH:MM") characters of the date, so the
        # seconds (and often more) are missing
        keep = 1 + int(v[6] % (len(bsd) - 3))
        return f"<{p}>{bsd[:keep]}", p, False
    raise ValueError(cohort)


@dataclass
class Corpus:
    """Input rows plus their by-construction labels."""

    doc_ids: list[str]
    lines: list[str]
    sources: list[str]
    sinks: list[tuple[str, str]]
    has_ts: np.ndarray

    @property
    def n(self) -> int:
        return len(self.lines)

    def expected_sink_counts(self) -> Counter:
        return Counter(self.sinks)

    def expected_null_ts(self) -> int:
        return int(self.n - self.has_ts.sum())

    def write_parquet(self, out_dir: str, files: int) -> None:
        """Token table in `gen.write_corpus`'s layout: one parquet file
        per contiguous id range, columns (doc_id, tokens, n_tok, source)."""
        os.makedirs(out_dir, exist_ok=True)
        bounds = np.linspace(0, self.n, files + 1).astype(int)
        schema = pa.schema([("doc_id", pa.string()),
                            ("tokens", pa.list_(pa.int32())),
                            ("n_tok", pa.int32()), ("source", pa.string())])
        for k in range(files):
            lo, hi = int(bounds[k]), int(bounds[k + 1])
            raw = [s.encode("utf-8") for s in self.lines[lo:hi]]
            lens = np.fromiter((len(b) for b in raw), np.int32, hi - lo)
            offsets = np.zeros(hi - lo + 1, np.int32)
            np.cumsum(lens, out=offsets[1:])
            values = np.frombuffer(b"".join(raw), np.uint8).astype(np.int32)
            table = pa.table([
                pa.array(self.doc_ids[lo:hi], pa.string()),
                pa.ListArray.from_arrays(pa.array(offsets), pa.array(values)),
                pa.array(lens),
                pa.array(self.sources[lo:hi], pa.string()),
            ], schema=schema)
            pq.write_table(table, os.path.join(out_dir, f"part-{k:05d}.parquet"))


def make_corpus(n: int, seed: int, dirty_share: float = 0.0) -> Corpus:
    """`n` rows of `gen.synth_lines(range(n), seed)`; with `dirty_share`,
    about that share of them rewritten into the dirty cohorts, spread
    evenly over COHORTS."""
    ids = np.arange(n, dtype=np.int64)
    lines, sources = gen.synth_lines(ids, seed)
    sinks = []
    for line in lines:
        m = _PRI_RE.match(line)
        sinks.append(sink_of(int(m.group(1)) if m else None))
    has_ts = np.ones(n, dtype=bool)
    if dirty_share > 0:
        rng = np.random.default_rng([seed, 0xD127])
        pick = np.flatnonzero(rng.random(n) < dirty_share)
        cohort = rng.integers(0, len(COHORTS), len(pick))
        vals = rng.integers(0, 2**31, (len(pick), 8))
        ranks = np.minimum(rng.zipf(1.3, len(pick)) - 1, gen.N_HOSTS - 1)
        for j, i in enumerate(pick):
            name = COHORTS[int(cohort[j])]
            line, pri, ts = _dirty_line(name, vals[j], gen._hostname(int(ranks[j])))
            lines[i], sources[i] = line, f"dirty_{name}"
            sinks[i], has_ts[i] = sink_of(pri), ts
    doc_ids = [f"{src}-{i:012d}" for src, i in zip(sources, ids)]
    return Corpus(doc_ids, lines, sources, sinks, has_ts)
