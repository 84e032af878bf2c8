"""SPL-subset compiler, multiline merge, rate limiting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.operators.multiline import merge_multiline
from loongcollector_spark.operators.ratelimit import rate_limit_batch
from loongcollector_spark.plans.spl import SPLError, compile_spl


@pytest.fixture(scope="module")
def logs(spark):
    rows = [
        ("a", '{"level": "info", "ms": 12}'),
        ("a", '{"level": "error", "ms": 99}'),
        ("b", '{"level": "info", "ms": 5}'),
        ("b", '{"level": "info", "ms": 7}'),
    ]
    return spark.createDataFrame(rows, "host string, content string")


def test_spl_end_to_end(logs):
    out = compile_spl(
        logs,
        "* | parse-json content as level, ms"
        " | extend ms_i = cast(ms as int)"
        " | where level = 'info'"
        " | stats count() as n, sum(ms_i) as total by host"
        " | sort by host",
    ).collect()
    assert [(r["host"], r["n"], r["total"]) for r in out] == [("a", 1, 12), ("b", 2, 12)]


def test_spl_parse_regexp_project(spark):
    df = spark.createDataFrame([("GET /a 200",), ("POST /b 404",)], "content string")
    out = compile_spl(
        df,
        r"* | parse-regexp content, '(\w+) (\S+) (\d+)' as verb, path, code"
        " | project verb, code_i = cast(code as int)"
        " | where code_i >= 400",
    ).collect()
    assert len(out) == 1 and out[0]["verb"] == "POST"


def test_spl_errors(logs):
    with pytest.raises(SPLError):
        compile_spl(logs, "where x = 1")  # missing '*'
    with pytest.raises(SPLError):
        compile_spl(logs, "* | frobnicate x")


def test_merge_multiline(spark):
    rows = [
        ("f1", 1, "2024-01-01 ERROR boom"),
        ("f1", 2, "  at Foo.java:1"),
        ("f1", 3, "  at Bar.java:2"),
        ("f1", 4, "2024-01-01 INFO ok"),
        ("f2", 1, "orphan continuation"),
        ("f2", 2, "orphan two"),
        ("f2", 3, "2024-01-02 WARN w"),
    ]
    df = spark.createDataFrame(rows, "stream_id string, line_no int, content string")
    out = merge_multiline(df, r"^\d{4}-\d{2}-\d{2} ")
    got = {(r["stream_id"], r["event_seq"], r["line_no"]): r for r in out.collect()}
    assert got[("f1", 1, 1)]["content"] == "2024-01-01 ERROR boom\n  at Foo.java:1\n  at Bar.java:2"
    assert got[("f1", 1, 1)]["n_lines"] == 3
    assert got[("f1", 2, 4)]["content"] == "2024-01-01 INFO ok"
    # single_line mode: each unmatched leader line is its OWN event
    assert got[("f2", 0, 1)]["content"] == "orphan continuation"
    assert got[("f2", 0, 2)]["content"] == "orphan two"
    dropped = merge_multiline(df, r"^\d{4}-\d{2}-\d{2} ", unmatched="discard")
    assert 0 not in {r["event_seq"] for r in dropped.collect()}


def test_rate_limit_batch(spark):
    rows = [("u1", f"2024-01-01 00:00:{s:02d}.{ms}", i)
            for i, (s, ms) in enumerate([(0, 0), (0, 1), (0, 2), (1, 0), (1, 1)])]
    rows += [("u2", "2024-01-01 00:00:00.0", 99)]
    df = spark.createDataFrame(rows, "k string, ts_s string, i long").withColumn(
        "ts", F.to_timestamp("ts_s")
    )
    out = rate_limit_batch(df, ["k"], 2, ts_col="ts")
    got = sorted((r["k"], r["i"]) for r in out.collect())
    # u1 second 0 → first 2 of 3; second 1 → both; u2 → 1
    assert got == [("u1", 0), ("u1", 1), ("u1", 3), ("u1", 4), ("u2", 99)]


def test_spl_parse_kv_missing_key(spark):
    """parse-kv: a line missing a requested key yields null (try_element_at),
    never an ANSI INVALID_ARRAY_INDEX error."""
    from loongcollector_spark.plans.spl import compile_spl

    df = spark.createDataFrame([(1, "a=1&b=2"), (2, "a=9")], "id int, line string")
    out = compile_spl(df, "* | parse-kv line, '&', '=' as a, b")
    rows = {r["id"]: (r["a"], r["b"]) for r in out.collect()}
    assert rows[1] == ("1", "2") and rows[2] == ("9", None)


def test_spl_parse_regexp_with_quoted_as_in_pattern(spark):
    """A quoted regex containing ' as ' must not be split at the wrong spot."""
    from loongcollector_spark.plans.spl import compile_spl

    df = spark.createDataFrame([("logged alice as admin",)], "msg string")
    out = compile_spl(
        df, r"* | parse-regexp msg, 'logged (\w+) as (\w+)' as user, role"
    ).collect()[0]
    assert out.user == "alice" and out.role == "admin"
