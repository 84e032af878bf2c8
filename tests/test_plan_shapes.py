"""Physical-plan shape assertions — the 100-TB design claims, checked.

Each test asserts the plan SHAPE (join strategy, pushdown, shuffle keys), not
timings: shapes are what survive a 1000-executor scale-up. A regression that
turns a broadcast join into a sort-merge join or a blocked join into a
nested-loop join fails here long before any benchmark notices.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "docs.parquet")
    spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text number "), F.col("id").cast("string")).alias("text"),
        (F.col("id") % 5).cast("int").alias("n_chars"),
        F.lit("en").alias("lang"),
        F.lit("s1").alias("source"),
    ).write.mode("overwrite").parquet(p)
    return p


def test_dict_map_is_broadcast_join(spark):
    from loongcollector_spark.operators.enrich import dict_map

    df = spark.range(100).select(
        F.col("id"), F.create_map(F.lit("k"), F.col("id").cast("string")).alias("fields")
    )
    d = spark.createDataFrame([("1", "one")], "code string, label string")
    plan = _plan(dict_map(df, d, "k", "lbl"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_geoip_is_broadcast_hash_join(spark):
    from loongcollector_spark.operators.enrich import geoip

    geo = spark.createDataFrame(
        [(0, 65535, "c", "p", "pc", "co", "cc", 0.0, 0.0)],
        "ip_start long, ip_end long, city string, province string, province_code string,"
        "country string, country_code string, longitude double, latitude double",
    )
    # per-ROW ip: a literal ip constant-folds the join keys away and degrades
    # to a nested-loop join (not the production shape)
    df = spark.range(10).select(
        F.col("id"),
        F.create_map(
            F.lit("ip"), F.concat(F.lit("10.0.0."), F.col("id").cast("string"))
        ).alias("fields"),
    )
    plan = _plan(geoip(df, geo, "ip"))
    # /16-blocked equi-join keeps the range lookup a HASH join
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_filter_and_projection_pushdown(spark, docs_path):
    df = (
        spark.read.parquet(docs_path)
        .filter(F.col("lang") == "en")
        .select("doc_id", "lang")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # column pruning: the scan must not read `text`
    scan_line = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    assert "text" not in scan_line and "doc_id" in scan_line


def test_minhash_lsh_no_cartesian(spark, docs_path):
    from loongcollector_spark.operators.dedup import minhash_lsh_pairs

    d = spark.read.parquet(docs_path)
    plan = _plan(minhash_lsh_pairs(d, num_hashes=8, bands=4))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_ngram_jaccard_no_cartesian(spark, docs_path):
    from loongcollector_spark.operators.dedup import ngram_jaccard_pairs

    d = spark.read.parquet(docs_path)
    plan = _plan(ngram_jaccard_pairs(d, n=2, threshold=0.5, max_doc_grams=50))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_flagship_single_scan_and_no_python_in_parse(spark, seq_path):
    """The flagship parse path must stay JVM-side: no BatchEvalPython (row
    Python UDF) anywhere; the decode step is the only Arrow exchange."""
    from loongcollector_spark.plans.pipeline import build_pipeline
    from loongcollector_spark.sources.io import read_sequences

    routed = build_pipeline(read_sequences(spark, seq_path))
    plan = _plan(routed)
    assert "BatchEvalPython" not in plan  # row-at-a-time Python = banned
    assert plan.count("Scan parquet") == 1  # one pass over the input


def test_default_enrich_is_a_projection(spark, seq_path):
    """The default pipeline's enrich is a literal map lookup: its plan has
    no join and no broadcast exchange."""
    from loongcollector_spark.plans.pipeline import build_pipeline, default_enrich
    from loongcollector_spark.sources.io import read_sequences

    plan = _plan(build_pipeline(read_sequences(spark, seq_path), enrich=default_enrich(spark)))
    assert "BroadcastExchange" not in plan
    assert "Join" not in plan


def _lambdas(df) -> int:
    """LambdaFunction nodes in the analyzed plan: each one is a higher-order
    function body that Spark evaluates interpreted, per element, outside
    whole-stage codegen."""
    return df._jdf.queryExecution().analyzed().toString().count("lambdafunction(")


def test_pipeline_lambdas_are_bounded(spark, seq_path):
    """The enrich and route stages run no lambda at all, and the whole
    pipeline keeps at most the 25 that remain: the apsara chain (gated to its
    own rows), the kv fold and the decode's two byte joins."""
    from loongcollector_spark.codec import with_content
    from loongcollector_spark.operators.route import route_rows
    from loongcollector_spark.plans.pipeline import (
        DEFAULT_PARSERS, DEFAULT_ROUTES, build_pipeline, default_enrich, parse_by_source,
    )
    from loongcollector_spark.sources.io import read_sequences

    scan = read_sequences(spark, seq_path)
    parsed = parse_by_source(with_content(scan), DEFAULT_PARSERS)
    enriched = default_enrich(spark)(parsed)
    routed = route_rows(enriched, DEFAULT_ROUTES, source_key="source", default_sink="sink_default")
    assert _lambdas(enriched) == _lambdas(parsed)
    assert _lambdas(routed) == _lambdas(enriched)
    assert _lambdas(build_pipeline(scan, enrich=default_enrich(spark))) <= 25


def test_pipeline_build_is_tens_of_gateway_calls(spark, seq_path):
    """A warm ``build_pipeline`` reaches the JVM as SQL text, one ``F.expr``
    per column and one ``withColumns`` per stage, not one py4j round trip per
    expression node (thousands). Only the building thread's calls count: py4j's
    finalizer thread sends the deletes of freed JVM objects, other tests'
    included, at times of its own."""
    import threading

    from loongcollector_spark.plans.pipeline import build_pipeline, default_enrich
    from loongcollector_spark.sources.io import read_sequences

    scan = read_sequences(spark, seq_path)
    build_pipeline(scan, enrich=default_enrich(spark))  # warm-up
    client = spark.sparkContext._gateway._gateway_client
    building_thread = threading.get_ident()
    calls = []
    send = client.send_command

    def counting(*args, **kwargs):
        if threading.get_ident() == building_thread:
            calls.append(1)
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        build_pipeline(scan, enrich=default_enrich(spark))
    finally:
        del client.send_command
    assert 0 < len(calls) <= 150


def test_tfidf_and_unigram_broadcast_no_smj(spark, docs_path):
    """The vocabulary-sized df/LM tables must join back by BROADCAST (at web
    scale the corpus side must not shuffle for a vocab lookup), and the only
    window allowed in tfidf is the per-doc rank (never corpus-global)."""
    from loongcollector_spark.operators.text import tfidf_top_terms, unigram_logprob

    d = spark.read.parquet(docs_path)
    plan = _plan(tfidf_top_terms(d, k=3))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    plan = _plan(unigram_logprob(d))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan  # pure hash aggs + broadcast join


def test_quantize_int8_rides_the_scan(spark):
    """int8 quantization must be a pure projection: no shuffle, no Python."""
    from loongcollector_spark.operators.ann import quantize_int8

    df = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(F.rand(seed=1), F.rand(seed=2)).cast("array<float>").alias("embedding"),
    )
    plan = _plan(quantize_int8(df))
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_percentile_band_is_scan_side_filter(spark, docs_path):
    """Thresholds come from one 1-row aggregate broadcast back; the band
    check must be a broadcast join + filter, never a sort or a window."""
    from loongcollector_spark.operators.sampling import percentile_band_filter

    d = spark.read.parquet(docs_path)
    plan = _plan(percentile_band_filter(d, "n_chars", 0.05, 0.95))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Window" not in plan and "SortMergeJoin" not in plan


def test_bloom_bitmap_join_is_broadcast(spark, docs_path):
    from loongcollector_spark.operators.dedup import bloom_bitmap, bloom_membership

    corpus = spark.read.parquet(docs_path)
    bitmap = bloom_bitmap(corpus, m_bits=16384, k=3)
    out = bloom_membership(corpus.limit(100), bitmap, m_bits=16384, k=3)
    plan = _plan(out)
    # the bitmap side (<= m/63 rows by construction) must broadcast; the
    # batch-vs-bitmap probe must never sort-merge or nested-loop
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_boilerplate_hot_list_is_broadcast_anti_join(spark, docs_path):
    from loongcollector_spark.operators.text import boilerplate_strip

    out = boilerplate_strip(spark.read.parquet(docs_path), span=2, min_docs=3)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_quality_classifier_is_shuffle_free(spark, docs_path):
    from loongcollector_spark.operators.text import hashed_ngram_classifier

    out = hashed_ngram_classifier(spark.read.parquet(docs_path))
    plan = _plan(out)
    # pure projection: no exchange, no join, no Python
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_length_batching_window_is_per_shard(spark, docs_path):
    from loongcollector_spark.operators.sampling import length_batching

    out = length_batching(spark.read.parquet(docs_path), batch_rows=32)
    plan = _plan(out)
    # exactly the per-shard window partitioning, never a corpus-wide
    # single-partition window
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_chunk_sliding_no_shuffle(spark):
    from loongcollector_spark.operators.packing import chunk_sliding

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.expr("transform(sequence(1, 40), i -> cast(i as int))").alias("tokens"),
    )
    plan = _plan(chunk_sliding(df, window=16, stride=8))
    assert "Exchange" not in plan  # pure per-row generate+explode projection


def test_cms_build_single_shuffle_no_python(spark):
    from loongcollector_spark.operators.sketch import cms_build

    df = spark.range(1000).select(F.col("id").cast("string").alias("k"))
    plan = _plan(cms_build(df, F.col("k"), depth=4, width=64))
    # ONE shuffle: the map-combined agg onto the fixed cell space
    assert plan.count("Exchange") <= 2  # agg exchange (+AQE read marker)
    assert "hashpartitioning" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semdedup_assignment_is_broadcast_no_cartesian(spark):
    from loongcollector_spark.operators.dedup import semdedup

    df = spark.range(60).select(
        F.col("id").cast("int").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 8), i -> cast(i * (id % 7 + 1) as double))"
        ).alias("embedding"),
    )
    plan = _plan(semdedup(df, k=4, iters=1, tau=0.99))
    # the k-centroid row rides in as a broadcast; never a CartesianProduct
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_source_drift_corpus_pass_is_single_agg(spark):
    from loongcollector_spark.operators.tokens import source_drift

    df = spark.range(500).select(
        F.concat(F.lit("s"), (F.col("id") % 5).cast("string")).alias("source"),
        F.expr("transform(sequence(1, 30), i -> cast((id + i) % 64 as int))").alias("tokens"),
    )
    plan = _plan(source_drift(df))
    # everything after the (source, token) agg is broadcast-sized
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_simhash_stop_bucket_cap(spark):
    """VERDICT r4 #3: a degenerate (blk, bits) bucket must not become an m²/2
    self-join key. With the cap on, a 60-doc identical-text clique (every
    block bucket hot) contributes ZERO candidate pairs, while a small
    distinct near-dup pair in healthy buckets is still found; and the capped
    plan carries a broadcast left-anti join against the hot-bucket list."""
    from loongcollector_spark.operators.dedup import simhash_dup_pairs_md5

    rows = [(i, "the same boilerplate banner text repeated verbatim") for i in range(60)]
    rows += [(100, "alpha beta gamma delta epsilon zeta eta theta"),
             (101, "alpha beta gamma delta epsilon zeta eta iota")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    capped = simhash_dup_pairs_md5(df, max_hamming=7, max_bucket_size=50)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in got                      # healthy buckets unaffected
    assert not any(a < 60 and b < 60 for a, b in got)  # clique capped out
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # uncapped control: the clique explodes into C(60,2) pairs
    full = simhash_dup_pairs_md5(df, max_hamming=7)
    assert full.filter((F.col("id_a") < 60) & (F.col("id_b") < 60)).count() == 60 * 59 // 2
