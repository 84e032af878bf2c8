"""Structured Streaming pipeline: availableNow fan-out equals batch results;
restart processes only new files (the streaming resume contract)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.operators.aggregate import sink_counts
from loongcollector_spark.plans.pipeline import build_pipeline
from loongcollector_spark.schema import SEQUENCE_SCHEMA
from loongcollector_spark.streaming.job import start_fanout, stream_pipeline, stream_sequences
from loongcollector_spark.synth import ensure_sequences, write_sequences


@pytest.fixture()
def stream_dirs(tmp_path):
    inp = str(tmp_path / "in")
    os.makedirs(inp)
    # first file: 1500 rows
    src = ensure_sequences(1500)
    for f in os.listdir(src):
        shutil.copy(os.path.join(src, f), os.path.join(inp, "a_" + f))
    return inp, str(tmp_path / "out"), str(tmp_path / "ckpt")


def _counts(spark, out_root):
    df = spark.read.parquet(os.path.join(out_root, "counts"))
    return {
        r["route"]: (r["rows"], r["toks"])
        for r in df.groupBy("route")
        .agg(F.sum("n_rows").alias("rows"), F.sum("n_tok_sum").alias("toks"))
        .collect()
    }


def test_stream_matches_batch_and_resumes(spark, stream_dirs):
    inp, out, ckpt = stream_dirs
    routed = stream_pipeline(spark, inp)
    assert routed.isStreaming
    q = start_fanout(routed, out, ckpt, available_now=True)
    q.awaitTermination(300)

    batch = {
        r["route"]: (r["n_rows"], int(r["n_tok_sum"]))
        for r in sink_counts(build_pipeline(spark.read.parquet(inp))).collect()
    }
    got = {k: (int(a), int(b)) for k, (a, b) in _counts(spark, out).items()}
    assert got == batch
    sinks = spark.read.parquet(os.path.join(out, "sinks"))
    assert sinks.count() == 1500
    assert "content" in sinks.columns and "route" in sinks.columns

    # append a second batch of files; restart from checkpoint → only new rows
    src2 = write_sequences(os.path.join(os.path.dirname(inp), "extra.parquet"), 500, seed=43)
    for f in os.listdir(src2):
        shutil.copy(os.path.join(src2, f), os.path.join(inp, "b_" + f))
    q2 = start_fanout(stream_pipeline(spark, inp), out, ckpt, available_now=True)
    q2.awaitTermination(300)
    total_rows = sum(a for a, _ in _counts(spark, out).values())
    assert total_rows == 2000  # 1500 + 500, nothing reprocessed
    assert spark.read.parquet(os.path.join(out, "sinks")).count() == 2000


def _batch_counts(routed):
    return {r["route"]: (r["n_rows"], r["n_tok_sum"]) for r in sink_counts(routed).collect()}


def test_fanout_reads_each_batch_once_and_keeps_ledger_schema(spark, stream_dirs):
    """One Spark job per micro-batch: the file source reads the offered rows
    once (a sink append plus a separate ledger job read them twice). The
    ledger keeps the schema the Spark-written ledger had (route string,
    n_rows bigint, n_tok_sum bigint, batch_id int, as read back by Spark)."""
    from pyspark.sql import types as T

    inp, out, ckpt = stream_dirs
    q = start_fanout(stream_pipeline(spark, inp), out, ckpt, available_now=True)
    q.awaitTermination(300)
    assert sum(p.numInputRows for p in q.recentProgress) == 1500
    assert spark.read.parquet(os.path.join(out, "counts")).schema == T.StructType(
        [
            T.StructField("route", T.StringType(), True),
            T.StructField("n_rows", T.LongType(), True),
            T.StructField("n_tok_sum", T.LongType(), True),
            T.StructField("batch_id", T.IntegerType(), True),
        ]
    )
    assert sorted(os.listdir(os.path.join(out, "counts"))) == ["batch-0.parquet"]


def test_fanout_null_and_escaped_routes(spark, stream_dirs):
    """A null route lands in Spark's ``route=__HIVE_DEFAULT_PARTITION__``
    directory and the ledger carries it as a null route; a sink name Spark
    path-escapes is unescaped. Both equal the batch ``sink_counts``, null
    group included. (``default_sink=None`` drops unrouted rows, DropDisMatch,
    so the route is nulled here by a projection over the routed plan.)"""
    from loongcollector_spark.operators.route import RouteRule

    inp, out, ckpt = stream_dirs
    routes = [RouteRule("nginx", "sink/a=b%c"), RouteRule("apsara", "sink_apsara")]

    def routed(seqs):
        df = build_pipeline(seqs, routes=routes)
        return df.withColumn("route", F.when(F.col("source") != "json", F.col("route")))

    q = start_fanout(routed(stream_sequences(spark, inp)), out, ckpt, available_now=True)
    q.awaitTermination(300)
    sinks = os.path.join(out, "sinks")
    assert os.path.isdir(os.path.join(sinks, "route=__HIVE_DEFAULT_PARTITION__"))
    batch = _batch_counts(routed(spark.read.parquet(inp)))
    assert None in batch and "sink/a=b%c" in batch
    assert _counts(spark, out) == batch
    # Spark's own partition discovery reads the same routes back
    back = spark.read.parquet(sinks).groupBy("route").count().collect()
    assert {r["route"]: r["count"] for r in back} == {k: n for k, (n, _) in batch.items()}


@pytest.mark.parametrize("fail_at", ["mid_publish", "before_ledger", "after_ledger", "after_commit"])
def test_fanout_crash_replay_is_exactly_once(spark, tmp_path, monkeypatch, fail_at):
    """A micro-batch that fails part-way through its commit, or after it, is
    replayed on restart without duplicating or losing rows: its published
    files are deleted and rewritten when it has no ledger file yet, and it is
    skipped when it has one. Three files, one per batch; batch 1 fails once."""
    from pyspark.errors import StreamingQueryException

    from loongcollector_spark.streaming import job as J

    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    src = write_sequences(str(tmp_path / "src"), 1200, seed=7, rows_per_file=400)
    os.makedirs(inp)
    for i, f in enumerate(sorted(os.listdir(src))):
        shutil.copy(os.path.join(src, f), os.path.join(inp, f"{i}_{f}"))
    assert len(os.listdir(inp)) == 3

    stage1 = os.path.join(out, "sinks", "_inprogress", "1")
    fired = []

    def once(batch_one: bool) -> bool:
        if batch_one and not fired:
            fired.append(1)
            return True
        return False

    if fail_at == "mid_publish":  # fail on batch 1's second route: one route moved
        real_replace, seen = os.replace, []

        def flaky_replace(src, dst, *a, **k):
            d = os.path.dirname(str(src))
            if d.startswith(stage1 + os.sep) and d not in seen:
                seen.append(d)
                if once(len(seen) == 2):
                    raise RuntimeError("injected: crash mid-publish")
            return real_replace(src, dst, *a, **k)

        monkeypatch.setattr(J.os, "replace", flaky_replace)
    elif fail_at == "after_commit":  # ledger written and stage dropped
        real_drop = J._drop_stage

        def flaky_drop(stage):
            real_drop(stage)
            if once(stage == stage1):
                raise RuntimeError("injected: crash after commit")

        monkeypatch.setattr(J, "_drop_stage", flaky_drop)
    else:
        real_ledger = J._write_ledger

        def flaky_ledger(path, batch_id, counts):
            if fail_at == "after_ledger":
                real_ledger(path, batch_id, counts)
            if once(batch_id == 1):
                raise RuntimeError(f"injected: crash {fail_at}")
            if fail_at == "before_ledger":
                real_ledger(path, batch_id, counts)

        monkeypatch.setattr(J, "_write_ledger", flaky_ledger)

    def run():
        seqs = spark.readStream.schema(SEQUENCE_SCHEMA).option("maxFilesPerTrigger", 1).parquet(inp)
        routed = build_pipeline(seqs)
        return start_fanout(routed, out, ckpt, available_now=True)

    with pytest.raises(StreamingQueryException):
        run().awaitTermination(300)
    assert fired and os.path.isdir(stage1) == (fail_at != "after_commit")
    published = [
        n for d in os.listdir(os.path.join(out, "sinks")) if d.startswith("route=")
        for n in os.listdir(os.path.join(out, "sinks", d)) if n.startswith("batch-1-")
    ]
    assert published  # the failed attempt left batch-1 files in the sinks
    has_ledger = os.path.exists(os.path.join(out, "counts", "batch-1.parquet"))
    assert has_ledger == (fail_at in ("after_ledger", "after_commit"))

    q = run()
    q.awaitTermination(300)
    assert q.exception() is None
    sink_rows = spark.read.parquet(os.path.join(out, "sinks")).count()
    ledger = _counts(spark, out)
    assert sink_rows == sum(n for n, _ in ledger.values()) == 1200
    assert ledger == _batch_counts(build_pipeline(spark.read.parquet(inp)))
    assert sorted(os.listdir(os.path.join(out, "counts"))) == [
        f"batch-{i}.parquet" for i in range(3)
    ]
    assert not os.path.exists(os.path.join(out, "sinks", "_inprogress"))
