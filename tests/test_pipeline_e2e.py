"""End-to-end flagship pipeline vs the pure-Python oracle (FIXTURES.md §5):
per-sink counts, per-sink sum(n_tok), and exact routed (doc_id, tokens) sets —
the north-rule correctness contract (token-array equality per routed row).
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from loongcollector_spark import oracle
from loongcollector_spark.plans.pipeline import (
    DELIM_KEYS,
    NGINX_KEYS,
    NGINX_REGEX,
    build_pipeline,
)


def _oracle_rows(seq_path):
    t = pq.read_table(seq_path)
    rows = list(
        zip(
            t["doc_id"].to_pylist(),
            t["tokens"].to_pylist(),
            t["n_tok"].to_pylist(),
            t["source"].to_pylist(),
        )
    )
    return oracle.run_pipeline(rows, NGINX_REGEX, list(NGINX_KEYS), list(DELIM_KEYS))


def test_pipeline_matches_oracle(spark, seq_df, seq_path):
    expected = _oracle_rows(seq_path)
    exp_counts = Counter(r["route"] for r in expected)
    exp_tok_sum = defaultdict(int)
    exp_docs = defaultdict(set)
    exp_tokens = {}
    for r in expected:
        exp_tok_sum[r["route"]] += r["n_tok"]
        exp_docs[r["route"]].add(r["doc_id"])
        exp_tokens[r["doc_id"]] = tuple(r["tokens"])

    routed = build_pipeline(seq_df)
    got = routed.select("doc_id", "tokens", "n_tok", "route").collect()

    got_counts = Counter(r["route"] for r in got)
    assert got_counts == exp_counts, f"per-sink counts differ: {got_counts} vs {exp_counts}"

    got_tok_sum = defaultdict(int)
    got_docs = defaultdict(set)
    for r in got:
        got_tok_sum[r["route"]] += r["n_tok"]
        got_docs[r["route"]].add(r["doc_id"])
        # per-row token-array equality: tokens carried untouched
        assert tuple(r["tokens"]) == exp_tokens[r["doc_id"]], f"tokens mutated for {r['doc_id']}"
    assert dict(got_tok_sum) == dict(exp_tok_sum)
    assert {k: v for k, v in got_docs.items()} == {k: v for k, v in exp_docs.items()}


def test_parsed_fields_match_oracle(spark, seq_df, seq_path):
    """Field-level equality on every row (not just routing)."""
    expected = {r["doc_id"]: r for r in _oracle_rows(seq_path)}
    routed = build_pipeline(seq_df)
    got = routed.select("doc_id", "fields", "_parse_ok").collect()
    assert len(got) == len(expected)
    mismatches = []
    for r in got:
        exp = expected[r["doc_id"]]
        if r["_parse_ok"] != exp["parse_ok"]:
            mismatches.append((r["doc_id"], "parse_ok", r["_parse_ok"], exp["parse_ok"]))
        elif dict(r["fields"]) != exp["fields"]:
            mismatches.append((r["doc_id"], "fields", dict(r["fields"]), exp["fields"]))
    assert not mismatches, f"{len(mismatches)} mismatches; first 3: {mismatches[:3]}"


def test_sink_counts_aggregate(spark, seq_df, seq_path):
    from loongcollector_spark.operators.aggregate import sink_counts

    expected = _oracle_rows(seq_path)
    exp = Counter(r["route"] for r in expected)
    routed = build_pipeline(seq_df)
    got = {r["route"]: r["n_rows"] for r in sink_counts(routed).collect()}
    assert got == dict(exp)


def test_multi_sink_duplication(spark, seq_df, seq_path, tmp_path):
    """Router.cpp:50-82: an always-match audit sink receives a COPY of every row
    while conditional sinks receive their subsets — all committed by run_job."""
    from loongcollector_spark.checkpoint import CheckpointLog
    from loongcollector_spark.operators.route import SinkCondition
    from loongcollector_spark.plans.job import run_job

    routed = build_pipeline(seq_df)
    total = routed.count()
    conditions = [
        SinkCondition(sink="audit", type="always"),
        SinkCondition(sink="nginx_only", type="route", value="sink_nginx"),
    ]
    out = str(tmp_path / "job")
    res = run_job(spark, seq_path, out, run_id="dup", conditions=conditions)
    audit = spark.read.parquet(res["sinks"]["audit"])
    nginx_only = spark.read.parquet(res["sinks"]["nginx_only"])
    assert audit.count() == total
    assert nginx_only.count() == routed.filter(F.col("route") == "sink_nginx").count()
    # duplication: audit ∩ nginx_only is the full nginx set
    assert (
        audit.join(nginx_only, "doc_id", "inner").count() == nginx_only.count()
    )
    # each sink's checkpoint record is what reads back from its sink
    log = CheckpointLog(out + "/_checkpoint")
    for name, sink in (("audit", audit), ("nginx_only", nginx_only)):
        rec = log.read("dup", f"sink_{name}")
        assert (rec["n_rows"], rec["n_bytes"]) == (sink.count(), sink.agg(F.sum("n_tok")).first()[0])


def test_enriched_pipeline_matches_oracle(spark, seq_df, seq_path):
    """decode → parse → ENRICH (broadcast dict-map + desensitize) → route,
    fields compared exactly vs the python oracle's enrich model."""
    import pyarrow.parquet as pq
    from loongcollector_spark.plans.pipeline import default_enrich

    t = pq.read_table(seq_path)
    rows = list(zip(t["doc_id"].to_pylist(), t["tokens"].to_pylist(),
                    t["n_tok"].to_pylist(), t["source"].to_pylist()))
    expected = {r["doc_id"]: r for r in oracle.run_pipeline(
        rows, NGINX_REGEX, list(NGINX_KEYS), list(DELIM_KEYS), enrich=True)}

    routed = build_pipeline(seq_df, enrich=default_enrich(spark))
    got = routed.select("doc_id", "fields", "route").collect()
    assert len(got) == len(expected)
    mismatches = []
    for r in got:
        exp = expected[r["doc_id"]]
        if dict(r["fields"]) != exp["fields"] or r["route"] != exp["route"]:
            mismatches.append((r["doc_id"], dict(r["fields"]), exp["fields"]))
    assert not mismatches, f"{len(mismatches)} mismatches; first: {mismatches[:2]}"
    # enrichment actually happened on nginx rows
    n_cls = sum(1 for r in got if dict(r["fields"]).get("status_class"))
    assert n_cls > 0


def test_route_anchor_full_match_on_alternation(spark):
    """'json|delimiter' must be a FULL match: 'json2'/'xdelimiter' go to the
    default sink (bare ^...$ anchoring would bind only the outer branches)."""
    from loongcollector_spark.operators.route import RouteRule, route_rows

    df = spark.createDataFrame(
        [("json",), ("delimiter",), ("json2",), ("xdelimiter",)], "source string"
    )
    rules = [RouteRule("json|delimiter", "sink_structured")]
    got = {r.source: r.route for r in route_rows(df, rules).collect()}
    assert got == {
        "json": "sink_structured",
        "delimiter": "sink_structured",
        "json2": "default",
        "xdelimiter": "default",
    }


def test_parse_by_source_preserves_upstream_event_time(spark):
    """A parser that emits no timestamp (or fails) must not clobber a
    pre-existing event_time with NULL."""
    from loongcollector_spark.plans.pipeline import ParserSpec, parse_by_source

    df = spark.createDataFrame(
        [("json", '{"a":"1"}', "2024-05-01 10:00:00"),
         ("json", "not-json", "2024-05-01 11:00:00"),
         ("other", "x", "2024-05-01 12:00:00")],
        "source string, content string, ts_s string",
    ).withColumn("event_time", F.col("ts_s").cast("timestamp")).drop("ts_s")
    out = parse_by_source(df, {"json": ParserSpec(kind="json")}).collect()
    assert all(r.event_time is not None for r in out)

    import pytest

    with pytest.raises(ValueError, match="empty"):
        parse_by_source(df, {})


def test_base64_decode_skips_invalid(spark):
    """Invalid base64 must leave the dest field unset (the reference's
    DecodeString-error path skips the content, decoding.go:49-57) — Spark's
    lenient unbase64 would have written garbage bytes instead."""
    from loongcollector_spark.operators.enrich import base64_field

    df = spark.createDataFrame(
        [(1, "aGVsbG8="), (2, "not!!valid@@"), (3, None)], "id int, raw string"
    ).withColumn("fields", F.create_map(F.lit("b64"), F.col("raw")))
    out = {
        r["id"]: r["fields"]
        for r in base64_field(df, "b64", "decoded", decode=True).collect()
    }
    assert out[1]["decoded"] == "hello"
    assert "decoded" not in out[2]  # invalid input: field skipped, not mojibake
    assert "decoded" not in out[3]


def test_parse_by_source_overwrites_preexisting_field(spark):
    """A parsed key colliding with a pre-existing fields key must overwrite it
    (LogEvent::SetContent last-wins), not throw DUPLICATE_MAP_KEY under the
    default mapKeyDedupPolicy=EXCEPTION."""
    from loongcollector_spark.plans.pipeline import ParserSpec, parse_by_source

    df = spark.createDataFrame(
        [("json", '{"status":"200","extra":"e"}', {"status": "old", "host": "h1"})],
        "source string, content string, fields map<string,string>",
    )
    out = parse_by_source(df, {"json": ParserSpec(kind="json")}).collect()
    assert out[0].fields["status"] == "200"  # parsed wins
    assert out[0].fields["host"] == "h1"     # untouched upstream key survives
    assert out[0].fields["extra"] == "e"


def test_parse_by_source_follows_input_schema_and_config(spark):
    """The same parsers over inputs with and without pre-existing
    fields/event_time, and a different parser config for the same source,
    must each get their own correct result."""
    from loongcollector_spark.plans.pipeline import ParserSpec, parse_by_source

    json_line, kv_line = '{"a":"1"}', "a:1\tb:2"
    bare = spark.createDataFrame([("json", json_line), ("json", kv_line)], "source string, content string")
    pre = bare.withColumn("fields", F.create_map(F.lit("up"), F.lit("u"))).withColumn(
        "event_time", F.lit("2024-05-01 10:00:00").cast("timestamp")
    )
    as_json = {"json": ParserSpec(kind="json")}
    as_kv = {"json": ParserSpec(kind="kv")}

    def parse(df, parsers):
        out = parse_by_source(df, parsers).collect()
        return {r.content: (dict(r.fields), r._parse_ok, r.event_time) for r in out}

    bare_json, pre_json = parse(bare, as_json), parse(pre, as_json)
    bare_kv, pre_kv = parse(bare, as_kv), parse(pre, as_kv)

    assert bare_json[json_line] == ({"a": "1"}, True, None)
    assert bare_json[kv_line] == ({"__raw_log__": kv_line}, False, None)
    ts = pre_json[json_line][2]
    assert ts is not None and pre_json[kv_line][2] == ts  # upstream time kept
    assert pre_json[json_line][:2] == ({"up": "u", "a": "1"}, True)
    assert pre_json[kv_line][:2] == ({"up": "u", "__raw_log__": kv_line}, False)
    assert bare_kv[kv_line] == ({"a": "1", "b": "2"}, True, None)
    assert pre_kv[kv_line] == ({"up": "u", "a": "1", "b": "2"}, True, ts)
    assert bare_kv != bare_json and pre_kv != pre_json
