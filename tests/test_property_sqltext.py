"""Property tests for the SQL-text builders' literal quoting: route rules and
regex parser specs carry hostile literals (quotes, backslashes, tabs,
``\\x01``, ``%``/``_``, backticks, ``$1``, and ``${…}``, which the session's
variable substitution would rewrite) in their regexes, keys, sink names and
source values, and every one must reach the engine byte for byte.

``route_rows`` is checked against Python ``re.fullmatch`` (first rule wins),
and a regex ``ParserSpec`` in ``parse_by_source`` against a Python model of
the regex parser (captures on a full match, the raw line under
``__raw_log__`` otherwise, and a line holding the ``\\x01`` packing byte is a
failure). Regexes come from ``test_property_regex``'s AST generator, so each
is valid in both Java and Python syntax.
"""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st
from test_property_regex import _probe_text, _regexes

from loongcollector_spark.operators.enrich import add_fields
from loongcollector_spark.operators.grok import _neutralize_groups
from loongcollector_spark.operators.route import RouteRule, route_rows
from loongcollector_spark.plans.pipeline import ParserSpec, parse_by_source

# (regex text, the literal it matches)
_hostile = st.sampled_from([
    ("'", "'"),
    ('"', '"'),
    ("\\\\", "\\"),
    ("\\'", "'"),
    ("\t", "\t"),
    ("\x01", "\x01"),
    ("%_", "%_"),
    ("`", "`"),
    ("/\\*--", "/*--"),
    ("\\$1", "$1"),
    ("\\$\\{x\\}", "${x}"),
    ("\\$\\{env:HOME\\}", "${env:HOME}"),
    ("", ""),
])
_names = st.one_of(
    st.text(alphabet="ab'\"\\\t\x01%_`${}", min_size=1, max_size=6),
    st.sampled_from(["${x}", "${env:HOME}", "${system:user.dir}", "\\${x}"]),
)
# every example is a Spark job: fewer examples than the pure-Python suites
_spark_settings = settings(max_examples=25, deadline=None, derandomize=True)


@_spark_settings
@given(
    st.lists(st.tuples(_hostile, _regexes, _names), min_size=1, max_size=3),
    st.lists(st.tuples(_hostile, _probe_text), min_size=1, max_size=8),
    _names,
)
def test_route_rows_matches_fullmatch_with_hostile_literals(spark, rules, probes, default):
    rules = [RouteRule(h[0] + pat, sink) for h, pat, sink in rules]
    values = [h[1] + text for h, text in probes]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i int, source string")
    got = {r.i: r.route for r in route_rows(df, rules, default_sink=default).collect()}
    for i, v in enumerate(values):
        want = next((r.sink for r in rules if re.fullmatch(r.regex, v)), default)
        assert got[i] == want, (v, rules)


@_spark_settings
@given(
    _hostile,
    _regexes,
    st.lists(st.tuples(_hostile, _probe_text), min_size=1, max_size=8),
    _names,
    st.tuples(_names, _names).filter(lambda ks: ks[0] != ks[1]),
)
def test_regex_parser_matches_python_with_hostile_literals(spark, head, pattern, probes, source, keys):
    regex = f"({head[0]})({_neutralize_groups(pattern)})"
    spec = ParserSpec(kind="regex", regex=regex, keys=keys)
    lines = [h[1] + text for h, text in probes]
    df = spark.createDataFrame([(i, source, s) for i, s in enumerate(lines)], "i int, source string, content string")
    got = {r.i: (r.fields, r._parse_ok) for r in parse_by_source(df, {source: spec}).collect()}
    for i, line in enumerate(lines):
        m = re.fullmatch(regex, line)
        if m and "\x01" not in line:
            want = (dict(zip(keys, m.groups())), True)
        else:
            want = ({"__raw_log__": line}, False)
        assert got[i] == want, (line, regex, keys)


def test_add_fields_keeps_substitution_syntax(spark):
    fields = {"${x}": "${env:HOME}", "k": "$${system:user.dir}", "b": "\\${x}"}
    df = spark.createDataFrame([({"a": "1"},)], "fields map<string,string>")
    assert add_fields(df, fields).first().fields == {"a": "1", **fields}
