"""The dirty-line generator: labels, cohort shapes and the realized
share of lines that miss the parser's fast cohort.  No Spark needed."""

from __future__ import annotations

import numpy as np
import pytest

from corpus import COHORTS, make_corpus
from pysyslog import SyslogParser
from pysyslog.gen import synth_lines
from pysyslog.parser import _PRIO_WORDS, _epoch_us, _fast_regex
from pysyslog.tables import FACILITY_NAMES, PRIORITY_NAMES
from workloads import OPTS

N = 20_000
TARGET = 0.5
BAND = 0.02  # binomial sd at N=20k is 0.0035; every dirty line misses


def in_fast_cohort(line: str, fast_re) -> bool:
    """Cohort membership as parser._parse_batch decides it."""
    m = fast_re.match(line)
    if not m:
        return False
    return ((m["prog"] is not None and m["prog"] not in _PRIO_WORDS)
            or (m["nprog"] is not None and m["pre"] is not None))


@pytest.fixture(scope="module")
def dirty():
    return make_corpus(N, seed=7, dirty_share=TARGET)


def test_realized_fast_miss_share_is_within_band(dirty):
    fast_re = _fast_regex(OPTS)
    missed = sum(not in_fast_cohort(s, fast_re) for s in dirty.lines)
    assert abs(missed / N - TARGET) <= BAND


def test_every_cohort_misses_and_clean_lines_hit(dirty):
    fast_re = _fast_regex(OPTS)
    seen = set()
    for line, src in zip(dirty.lines, dirty.sources):
        if src.startswith("dirty_"):
            seen.add(src[len("dirty_"):])
            assert not in_fast_cohort(line, fast_re), line
        else:
            assert in_fast_cohort(line, fast_re), line
    assert seen == set(COHORTS)


def test_labels_agree_with_the_reference_parser(dirty):
    parser = SyslogParser(OPTS)
    for line, sink, has_ts in zip(dirty.lines[:5000], dirty.sinks, dirty.has_ts):
        rec = parser.parse(line)
        fac = rec.get("facility_int")
        sev = rec.get("priority_int")
        got = (FACILITY_NAMES[8 if fac is None else fac],
               PRIORITY_NAMES[5 if sev is None else sev])
        assert got == sink, line
        assert (_epoch_us(rec.get("epoch")) is not None) == has_ts, line


def test_lines_are_valid_utf8_and_seeded(dirty):
    for line in dirty.lines:
        assert line.encode("utf-8").decode("utf-8", "strict") == line
    assert make_corpus(N, seed=7, dirty_share=TARGET).lines == dirty.lines
    assert make_corpus(N, seed=8, dirty_share=TARGET).lines != dirty.lines


def test_clean_corpus_is_the_generator_output():
    clean = make_corpus(3000, seed=3)
    lines, sources = synth_lines(np.arange(3000), 3)
    assert clean.lines == lines
    assert clean.doc_ids == [f"{s}-{i:012d}" for i, s in enumerate(sources)]
    assert clean.has_ts.all()


def test_parquet_round_trips_the_lines(tmp_path, dirty):
    import pyarrow.parquet as pq

    dirty.write_parquet(str(tmp_path), files=3)
    table = pq.read_table(str(tmp_path))
    assert table.column("doc_id").to_pylist() == dirty.doc_ids
    got = [bytes(t).decode("utf-8") for t in table.column("tokens").to_pylist()]
    assert got == dirty.lines
