"""Golden-corpus equality: every t/data fixture through the core parser.

Port of the reference harness t/01-parse.t (all three subtests:
defaults+per-fixture options, ExtractProgram=0, custom FmtDate hook),
pinned to now=2018-12-01T00:00:00Z / UTC like the original.
"""

from __future__ import annotations

import re

import pytest

from pysyslog import ParserOptions, SyslogParser, options_from_perl
from pysyslog.goldens import (
    GOLDEN_NOW_EPOCH,
    GOLDEN_TZ,
    REFERENCE_DATA_DIR,
    diff_records,
    load_fixtures,
)

FIXTURES = load_fixtures()
if not FIXTURES:
    pytest.skip(
        f"no golden fixtures in {REFERENCE_DATA_DIR} "
        "(set $PSL_REFERENCE_DATA to the reference's t/data directory)",
        allow_module_level=True)

BASE = ParserOptions(now_epoch=GOLDEN_NOW_EPOCH, default_tz=GOLDEN_TZ)


@pytest.mark.parametrize("fid", sorted(FIXTURES))
def test_golden_defaults(fid):
    fx = FIXTURES[fid]
    opts = options_from_perl(fx["options"], BASE)
    got = SyslogParser(opts).parse(fx["string"])
    problems = diff_records(got, fx["expected"])
    assert not problems, f"{fx['name']}: " + "; ".join(problems)


@pytest.mark.parametrize(
    "fid", [f for f in sorted(FIXTURES) if not FIXTURES[f]["options"]]
)
def test_golden_no_extract_program(fid):
    """⇔ t/01-parse.t:49-69: program fields dropped, content checked by
    recomposition."""
    fx = FIXTURES[fid]
    got = SyslogParser(BASE.with_(extract_program=False)).parse(fx["string"])
    expected = dict(fx["expected"])
    for k in ("program_name", "program_sub", "program_pid"):
        expected.pop(k, None)

    if got.get("content") and expected.get("program_raw"):
        prog = expected.pop("program_raw")
        content = got.pop("content")
        expected_content = expected.pop("content")
        assert re.search(
            re.escape(prog) + r"(\s-|:)\s" + re.escape(expected_content), content
        ), f"content recomposition failed: {content!r}"
    problems = diff_records(got, expected)
    assert not problems, f"{fx['name']}: " + "; ".join(problems)


@pytest.mark.parametrize(
    "fid", [f for f in sorted(FIXTURES) if not FIXTURES[f]["options"]]
)
def test_golden_custom_fmt_date(fid):
    """⇔ t/01-parse.t:71-97: FmtDate hook replaces all date processing."""
    fx = FIXTURES[fid]

    def fmt(raw):
        return [f"[{raw if raw is not None else ' '}]"]

    got = SyslogParser(BASE.with_(fmt_date=fmt)).parse(fx["string"])
    expected = dict(fx["expected"])
    for k in ("datetime_local", "datetime_utc", "tz"):
        expected.pop(k, None)
    for k in ("date", "datetime_str", "epoch", "time"):
        expected[k] = None  # Perl undef() autovivifies (t/01-parse.t:91)
    expected["date"] = f"[{expected['datetime_raw']}]"
    problems = diff_records(got, expected)
    assert not problems, f"{fx['name']}: " + "; ".join(problems)
