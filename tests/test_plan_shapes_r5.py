"""Physical-plan shape assertions for the round-5 operators — same contract
as test_plan_shapes.py: assert the 100-TB design claims (no Python workers
in codegen paths, broadcast instead of shuffle where claimed, shuffle COUNT
where one is inherent, never a cartesian/nested-loop join), not timings.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _n_exchanges(plan: str) -> int:
    # AQE prints "Exchange" per shuffle node; broadcasts print BroadcastExchange
    return sum(
        1 for ln in plan.splitlines()
        if "Exchange " in ln and "BroadcastExchange" not in ln
    )


@pytest.fixture(scope="module")
def lines_df(spark):
    return spark.range(500).select(
        F.col("id"),
        F.concat(F.lit("metric{a=\"1\"} "), F.col("id").cast("string")).alias("content"),
    )


def test_prom_parse_is_pure_projection(spark, lines_df):
    from loongcollector_spark.operators.prom import prom_parse

    plan = _plan(prom_parse(lines_df))
    assert "Python" not in plan and "ArrowEval" not in plan
    assert _n_exchanges(plan) == 0, plan


def test_prom_relabel_is_pure_projection(spark, lines_df):
    from loongcollector_spark.operators.prom import RelabelRule, prom_parse, prom_relabel

    rules = [
        RelabelRule(action="replace", source_labels=["a"], target_label="b",
                    replacement="$1"),
        RelabelRule(action="labelmap", regex="(.+)", replacement="x_$1"),
        RelabelRule(action="keep", source_labels=["b"], regex=".*"),
    ]
    plan = _plan(prom_relabel(prom_parse(lines_df), rules))
    assert "Python" not in plan and "ArrowEval" not in plan
    assert _n_exchanges(plan) == 0, plan


def test_container_parse_is_pure_projection(spark):
    from loongcollector_spark.operators.container import (
        CONTAINERD_TEXT,
        DOCKER_JSON_FILE,
        parse_container_log,
    )

    df = spark.range(200).select(
        F.col("id"),
        F.lit('2026-01-01T00:00:00.0Z stdout F payload').alias("content"),
    )
    for fmt in (CONTAINERD_TEXT, DOCKER_JSON_FILE):
        plan = _plan(parse_container_log(df, fmt=fmt))
        assert "Python" not in plan and "ArrowEval" not in plan, fmt
        assert _n_exchanges(plan) == 0, (fmt, plan)


def test_otel_trace_no_python_no_shuffle(spark):
    from loongcollector_spark.operators.otel import OTEL_TRACE_FIXTURE, otel_trace_parse

    df = spark.createDataFrame(OTEL_TRACE_FIXTURE, "id long, content string")
    plan = _plan(otel_trace_parse(df))
    assert "Python" not in plan and "ArrowEval" not in plan
    assert _n_exchanges(plan) == 0, plan
    assert "CartesianProduct" not in plan


def test_asof_join_single_shuffle_no_range_join(spark):
    from loongcollector_spark.operators.asof import asof_join

    left = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).cast("string").alias("k"),
        F.timestamp_seconds(F.col("id")).alias("ts"),
    )
    right = spark.range(100).select(
        (F.col("id") % 7).cast("string").alias("k"),
        F.timestamp_seconds(F.col("id") * 10).alias("ts"),
        F.col("id").alias("payload"),
    )
    plan = _plan(asof_join(left, right, "k"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan  # union+carry-forward, not a join at all
    # one shuffle for the per-key window (AQE may add a trailing coalesce read)
    assert _n_exchanges(plan) <= 2, plan


def test_dup_span_strip_no_python_no_cartesian(spark):
    from loongcollector_spark.operators.tokens import dup_span_strip

    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.sequence(F.lit(1), F.lit(40)).alias("tokens"),
    )
    plan = _plan(dup_span_strip(df, k=5))
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_batch_cuts_single_shuffle(spark):
    from loongcollector_spark.operators.aggregate import batch_cuts

    df = spark.range(2000).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 3).cast("string").alias("source"),
        F.timestamp_seconds(F.col("id")).alias("ts"),
    )
    plan = _plan(batch_cuts(df, ["source"]))
    assert "Python" not in plan
    # window shuffle on (group, minute) + the groupBy reuses the partitioning
    # or adds at most one more exchange
    assert _n_exchanges(plan) <= 2, plan


def test_pq_ann_no_cartesian_no_pairwise(spark):
    from loongcollector_spark.operators.ann import pq_ann_topk

    dim = 8
    df = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: ((F.col("id") * 31 + i) % 97).cast("float") / 97.0,
        ).alias("embedding"),
    )
    out = pq_ann_topk(df, query_ids=[1, 2], topk=3, m=2, k=4)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    # the scored stream is corpus × |queries| via a BROADCAST nested-loop on
    # the Q-row query list (NOT(id = query_id) self-exclusion) — corpus moves
    # once and the loop side is O(Q); what must never appear is a shuffled
    # corpus-side pairwise join
    assert "SortMergeJoin" not in plan, plan
    bnlj = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert all("BuildRight" in ln or "BuildLeft" in ln for ln in bnlj)
    assert plan.count("ShuffledHashJoin") == 0, plan


def test_lsh_persist_buckets_identical_and_single_signature_pass(spark):
    """persist_buckets=True must not change results, must expose a working
    unpersist handle, and must make the bucket table feed the hot-count and
    both self-join sides from the cache (InMemoryTableScan / TableCacheQueryStage)
    instead of recomputing signatures from the corpus scan."""
    from loongcollector_spark.operators.dedup import (
        minhash_lsh_pairs_md5,
        simhash_dup_pairs_md5,
    )

    docs = spark.range(120).select(
        F.concat(F.lit("d"), F.format_string("%03d", F.col("id"))).alias("doc_id"),
        F.concat(
            F.lit("the quick brown fox jumps over dog number "),
            (F.col("id") % 7).cast("string"),
        ).alias("text"),
    )
    minhash = dict(num_hashes=16, bands=8, threshold=0.3, max_bucket_size=50)
    simhash = dict(max_hamming=7, max_bucket_size=50)
    for base, cached in (
        (minhash_lsh_pairs_md5(docs, **minhash), minhash_lsh_pairs_md5(docs, persist_buckets=True, **minhash)),
        (simhash_dup_pairs_md5(docs, **simhash), simhash_dup_pairs_md5(docs, persist_buckets=True, **simhash)),
    ):
        try:
            got_base = sorted(tuple(r) for r in base.collect())
            got_cached = sorted(tuple(r) for r in cached.collect())
            assert got_base == got_cached and len(got_cached) > 0
            plan = cached._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan, plan
            handle = cached._lsh_buckets
            assert handle.storageLevel.useMemory
        finally:
            cached._lsh_buckets.unpersist()
        assert not cached._lsh_buckets.storageLevel.useMemory
