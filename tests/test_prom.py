"""Prometheus exposition parse + relabel — fixtures mirror the reference's
TextParserUnittest (TestParseSuccess/TestParseFaliure, TestHonorTimestamps)
and Relabel.cpp action semantics."""

from __future__ import annotations

import hashlib
import math

from loongcollector_spark.operators.prom import RelabelRule, prom_parse, prom_relabel


def _parse(spark, lines, **kw):
    df = spark.createDataFrame(list(enumerate(lines, 1)), "id int, content string")
    return {r.id: r for r in prom_parse(df, **kw).collect()}


def test_parse_success_cases(spark):
    out = _parse(
        spark,
        [
            'test_metric{k1="v1", k2="v2" } 9.9410452992e+10 1715829785083 # exemplars',
            "foobar 123",
            "cassandra_token_ownership_ratio 78.9",
            'foo{bar="#1 az"} 24',
            r'mssql{loginname="domain\somelogin",env="develop"} 56',
            r'foo{bar="b\"a\\z"} -1.2',
            'foo {bar="baz",aa="",x="y"} 1 1000000000',
            'foo_bucket{le="10",a="#b"} 17',
            'dup{a="1",a="2"} 5',
        ],
        default_ts_ms=42,
    )
    r = out[1]
    assert r.name == "test_metric" and r.value == 9.9410452992e10
    assert r.labels == {"__name__": "test_metric", "k1": "v1", "k2": "v2"}
    assert r.ts_ms == 1715829785083
    assert out[2].ts_ms == 42  # default scrape time
    assert out[4].labels["bar"] == "#1 az"
    # invalid escape kept verbatim (real-world case the reference supports)
    assert out[5].labels["loginname"] == "domain\\somelogin"
    assert out[6].labels["bar"] == 'b"a\\z' and out[6].value == -1.2
    # 10-digit ts is seconds → ms
    assert out[7].ts_ms == 1000000000000 and out[7].labels["aa"] == ""
    assert out[8].labels["le"] == "10" and out[8].labels["a"] == "#b"
    assert out[9].labels["a"] == "2"  # duplicate label: last wins (SetTag)


def test_parse_inf_nan_spellings(spark):
    vals = ["foo Infinity", "bar +Infinity", "baz -infinity", "aaa +inf", "bbb -INF", "ccc INF", "ddd NaN"]
    out = _parse(spark, vals)
    got = {r.name: r.value for r in out.values()}
    assert got["foo"] == math.inf and got["bar"] == math.inf and got["aaa"] == math.inf
    assert got["baz"] == -math.inf and got["bbb"] == -math.inf and got["ccc"] == math.inf
    assert math.isnan(got["ddd"])


def test_parse_failures_and_skips(spark):
    out = _parse(
        spark,
        [
            "# TYPE cassandra gauge",   # comment → skipped
            "",                          # blank → skipped
            "   \t ",                    # whitespace → skipped
            "foo bar 124",               # garbage value position
            "foo 123 bar",               # invalid timestamp
            '{k="v"} 3',                 # missing name
            "9foo 3",                    # name can't start with digit
            'foo{k="v" 3',               # unclosed label block
            'foo{k=v} 3',                # unquoted label value
            "valid_one 3",
        ],
    )
    assert len(out) == 1 and list(out.values())[0].name == "valid_one"


def test_honor_timestamps(spark):
    # honor: short (pre-2001 seconds) timestamps are errors; no-honor: default
    assert _parse(spark, ["foo 1 123"], honor_timestamps=True) == {}
    out = _parse(spark, ["foo 1 123"], honor_timestamps=False, default_ts_ms=777)
    assert list(out.values())[0].ts_ms == 777
    out = _parse(spark, ["foo 1 1715829785083"], honor_timestamps=True)
    assert list(out.values())[0].ts_ms == 1715829785083


def test_relabel_actions(spark):
    lines = [
        'http_total{method="GET",code="200",env="PROD"} 1',
        'http_total{method="POST",code="500",env="dev"} 1',
        'drop_me{method="GET"} 1',
    ]
    df = prom_parse(
        spark.createDataFrame(list(enumerate(lines, 1)), "id int, content string")
    )
    rules = [
        RelabelRule(action="keep", source_labels=("__name__",), regex="http_.*"),
        RelabelRule(action="drop", source_labels=("code",), regex="5.."),
        RelabelRule(
            action="replace",
            source_labels=("__name__", "method"),
            separator="-",
            regex="(.*)-(.*)",
            target_label="endpoint",
            replacement="$1:$2",
        ),
        RelabelRule(action="labelmap", regex="co(de)", replacement="status_$1"),
        RelabelRule(action="lowercase", source_labels=("env",), target_label="env"),
        RelabelRule(action="labeldrop", regex="method"),
        RelabelRule(action="hashmod", source_labels=("__name__",), target_label="shard", modulus=7),
    ]
    rows = prom_relabel(df, rules).collect()
    assert len(rows) == 1
    lab = rows[0].labels
    assert lab["endpoint"] == "http_total:GET"
    assert lab["status_de"] == "200" and lab["code"] == "200"
    assert lab["env"] == "prod"
    assert "method" not in lab
    exp = int.from_bytes(hashlib.md5(b"http_total").digest()[8:16], "big") % 7
    assert lab["shard"] == str(exp)


def test_relabel_replace_erase_and_keepequal(spark):
    lines = ['m{a="x",b="x"} 1', 'm{a="x",b="y"} 1']
    df = prom_parse(spark.createDataFrame(list(enumerate(lines, 1)), "id int, content string"))
    kept = prom_relabel(df, [RelabelRule(action="keepequal", source_labels=("a",), target_label="b")])
    assert [r.labels["b"] for r in kept.collect()] == ["x"]
    # replacement expanding to '' deletes the target label (Relabel.cpp:179-183)
    erased = prom_relabel(
        df,
        [RelabelRule(action="replace", source_labels=("a",), regex="x",
                     target_label="a", replacement="")],
    )
    assert all("a" not in r.labels for r in erased.collect())
    # non-matching regex leaves labels untouched
    same = prom_relabel(
        df,
        [RelabelRule(action="replace", source_labels=("a",), regex="zzz",
                     target_label="c", replacement="v")],
    )
    assert all("c" not in r.labels for r in same.collect())


def test_prom_parse_is_shuffle_free(spark):
    df = spark.createDataFrame([(1, "foo 1")], "id int, content string")
    plan = prom_parse(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_unescape_preserves_raw_sentinel_byte(spark):
    # an exporter can emit any raw byte inside a label value; the reference
    # TextParser passes bytes through untouched. A raw 0x01 (the unescape
    # chain's sentinel) must survive verbatim, alongside real escapes.
    line = 'm{a="x\x01y",b="p\\\\q\x011"} 1'
    out = _parse(spark, [line])
    assert out[1].labels["a"] == "x\x01y"
    assert out[1].labels["b"] == "p\\q\x011"


def test_relabel_template_translation(spark):
    # Prometheus expands a reference to a nonexistent group to "" (Go
    # Regexp.Expand); Java regexp_replace throws. The DEFAULT replacement
    # "$1" with a group-less regex is a legal config and must not crash.
    lines = ['m{job="web"} 1']
    df = prom_parse(spark.createDataFrame(list(enumerate(lines, 1)), "id int, content string"))
    out = prom_relabel(
        df,
        [RelabelRule(action="replace", source_labels=("job",), regex="web",
                     target_label="tier")],  # replacement defaults to "$1" → ""
    ).collect()
    # empty expansion deletes the target label — and nothing crashed
    assert all("tier" not in r.labels for r in out)

    # ${1} followed by a literal digit: group 1 then literal '0', not group 10
    out2 = prom_relabel(
        df,
        [RelabelRule(action="replace", source_labels=("job",), regex="(w)eb",
                     target_label="t", replacement="${1}0")],
    ).collect()
    assert [r.labels["t"] for r in out2] == ["w0"]

    # $$ is a literal dollar; $9 (no group 9) expands empty
    out3 = prom_relabel(
        df,
        [RelabelRule(action="replace", source_labels=("job",), regex="(.*)",
                     target_label="t", replacement="$$$1$9!")],
    ).collect()
    assert [r.labels["t"] for r in out3] == ["$web!"]


def test_relabel_java_named_group_reference(spark):
    # Python's re cannot compile a Java named group, so the template passes
    # through untranslated and Java expands ${host}: the literal must reach
    # the engine as written, not as an (empty) SQL variable substitution
    lines = ['m{instance="db1:9100"} 1']
    df = prom_parse(spark.createDataFrame(list(enumerate(lines, 1)), "id int, content string"))
    out = prom_relabel(
        df,
        [RelabelRule(action="replace", source_labels=("instance",), regex=r"(?<host>[^:]+):\d+",
                     target_label="host", replacement="${host}")],
    ).collect()
    assert [r.labels["host"] for r in out] == ["db1"]


def test_parse_ts_long_overflow_dropped(spark):
    # a 19-digit timestamp that rounds to exactly 2^63 must be DROPPED (the
    # parser's invalid-line contract), not overflow the long cast (which is a
    # job-killing error under ANSI mode)
    out = _parse(spark, ["foo 1 9223372036854775807", "bar 2 1715829785083"])
    assert len(out) == 1 and out[2].name == "bar"


def test_parse_rejects_carry_column_clash(spark):
    import pytest

    df = spark.createDataFrame([(1, "x", "foo 1")], "id int, value string, content string")
    with pytest.raises(ValueError, match="collide"):
        prom_parse(df)
