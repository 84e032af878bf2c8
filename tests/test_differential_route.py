"""Seeded differential for route_rows (operators/route.py) — anchored
first-match routing — vs a Python ``re.search("^(?:r)$")`` emulator, over
random rule chains and source values. Guards the alternation-anchoring
translation permanently (bare ``^json|delimiter$`` once matched 'json2';
fixed in-round, now fuzzed): redundant inner anchors, empty patterns, empty
alternation branches, trailing-newline values (Java and Python both let ``$``
match before a final line terminator — pinned here), NULL sources, and both
default-sink and DropDisMatch modes.
"""

from __future__ import annotations

import random
import re

from pyspark.sql import types as T

from loongcollector_spark.operators.route import RouteRule, route_rows

SEED = 20260824

_REGEXES = [
    "json", "json|delimiter", "a.*", ".*2", "x+", "(nginx|apsara)",
    "n[a-z]+x", "", "^foo$", "a|", ".*", "j.son", "[jd].*r?",
]
_VALUES = [
    "json", "json2", "xdelimiter", "delimiter", "nginx", "apsara", "",
    "a", "aa2", "foo", "xfoox", "json\n", "j\nson", None, "xxx", "a2",
]
_SINKS = ["s1", "s2", "s3", "s4"]


def _route_reference(val: str | None, rules: list[RouteRule], default):
    if val is not None:
        for r in rules:
            if re.search(f"^(?:{r.regex})$", val):
                return r.sink
    return default


def test_route_rows_differential(spark):
    rng = random.Random(SEED)
    rows = [(i, rng.choice(_VALUES)) for i in range(200)]
    df = spark.createDataFrame(rows, T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("source", T.StringType()),
    ]))
    for trial in range(12):
        rules = [
            RouteRule(regex=rng.choice(_REGEXES), sink=rng.choice(_SINKS))
            for _ in range(rng.randint(0, 4))
        ]
        for default in ("default", None):
            got = {
                r["id"]: r["route"]
                for r in route_rows(df, rules, default_sink=default).collect()
            }
            want = {}
            for i, v in rows:
                s = _route_reference(v, rules, default)
                if s is not None or default is not None:
                    want[i] = s
            assert got == want, (trial, default, rules, {
                k: (got.get(k), want.get(k), dict(rows)[k])
                for k in set(got) ^ set(want)
                | {k for k in got if k in want and got[k] != want[k]}
            })


def test_with_sink_column_matches_fan_out(spark):
    """The exploded ``_sink`` column holds, per sink, exactly the rows
    ``fan_out`` gives that sink — a row in several sinks once per sink, null
    predicates matching nothing — and ``discard_tag`` drops the tag only from
    its own sink's copies."""
    from pyspark.sql import functions as F

    from loongcollector_spark.operators.route import SinkCondition, fan_out, with_sink_column

    rng = random.Random(SEED + 1)
    rows = []
    for i in range(400):
        tags = {k: rng.choice(["a", "b", None]) for k in ("k", "m") if rng.random() < 0.7}
        rows.append((i, rng.choice(["log", "metric", None]), tags, rng.choice(_SINKS)))
    df = spark.createDataFrame(rows, T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField("route", T.StringType()),
    ]))
    conditions = [
        SinkCondition(sink="all", type="always"),
        SinkCondition(sink="logs", type="event_type", value="log"),
        SinkCondition(sink="tag_a", type="tag", key="k", value="a", discard_tag=True),
        SinkCondition(sink="tag_a_kept", type="tag", key="k", value="a"),
        SinkCondition(sink="route_s1", type="route", value="s1"),
        SinkCondition(sink="nothing", type="event_type", value="trace"),
    ]

    def rows_of(d):
        return sorted((r["id"], sorted((r["tags"] or {}).items())) for r in d.select("id", "tags").collect())

    exploded = with_sink_column(df, conditions)
    assert exploded.columns == df.columns + ["_sink"]
    for sink, want in fan_out(df, conditions).items():
        got = rows_of(exploded.filter(F.col("_sink") == sink))
        assert got == rows_of(want), sink
    assert exploded.count() == sum(d.count() for d in fan_out(df, conditions).values())
