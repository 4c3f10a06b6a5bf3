"""Token codec: detokenize/retokenize round-trip invariant
(BASELINE.json input_hint: per-row token-array equality)."""

from __future__ import annotations

from pysyslog.tokens import detokenize, roundtrip_violations


def _tok(s: str):
    return list(s.encode("utf-8"))


def test_detokenize_and_roundtrip(spark):
    lines = [
        "May 19 22:03:29 janus sshd[10173]: session opened",
        "<163>Jul 26 15:50:14 h prog: unicode ü☃ payload",
        "",
    ]
    rows = [(f"d{i}", _tok(s), len(_tok(s)), "t") for i, s in enumerate(lines)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    out = detokenize(df).orderBy("doc_id")
    got = [r["raw"] for r in out.collect()]
    assert got == lines
    assert roundtrip_violations(out).count() == 0


def test_roundtrip_catches_corruption(spark):
    df = spark.createDataFrame(
        [("d0", _tok("abc") + [120], "abc")],
        "doc_id string, tokens array<int>, raw string",
    )
    assert roundtrip_violations(df).count() == 1


def test_lossy_predicate_matches_literal_roundtrip(spark):
    """The JVM predicate flags exactly the rows the literal
    retokenize(detokenize(t)) comparison flags, without a Python
    crossing of its own."""
    from pyspark.sql import functions as F

    from pysyslog.tokens import lossy

    rows = [
        ("ascii", _tok("May 19 22:03:29 h p: x")),
        ("utf8", _tok("unicode ü☃ payload")),
        ("e256", _tok("ab") + [256] + _tok("cd")),
        ("e300", _tok("ab") + [300]),
        ("e321", _tok("ab") + [321]),      # wraps to "A"
        ("eneg191", [-191] + _tok("b")),   # wraps to "A"
        ("null_elem", _tok("ab") + [None] + _tok("c")),
        ("empty", []),
        ("null_array", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    q = df.filter(lossy())
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    got = {r["doc_id"] for r in q.collect()}
    want = {r["doc_id"] for r in
            roundtrip_violations(detokenize(df)).select("doc_id").collect()}
    assert got == want == {"e256", "e300", "e321", "eneg191", "null_elem"}
    # the wrapping elements decode to the same text as a clean "A"
    wrapped = {r["doc_id"]: r["raw"] for r in detokenize(df).filter(
        F.col("doc_id").isin("e321", "eneg191")).collect()}
    assert wrapped == {"e321": "abA", "eneg191": "Ab"}
