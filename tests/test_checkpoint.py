"""Checkpoint / lineage / resume tests (the kill/rerun contract).

Mirrors the reference's exactly-once range-checkpoint behavior
(core/file_server/checkpoint/RangeCheckpoint.h:27-49): a killed run re-invoked
with the same run_id must not reprocess committed stages, and per-stage
lineage must reconcile with the committed sink contents.
"""

from __future__ import annotations

import os
import re

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from loongcollector_spark import oracle

from loongcollector_spark.checkpoint import CheckpointLog, ResumableRun
from loongcollector_spark.operators.route import RouteRule, SinkCondition
from loongcollector_spark.plans.job import run_job
from loongcollector_spark.synth import ensure_sequences


@pytest.fixture(scope="module")
def seq_path():
    return ensure_sequences(5000)


def test_full_run_commits_all_sinks(spark, seq_path, tmp_path):
    out = str(tmp_path / "job1")
    res = run_job(spark, seq_path, out, run_id="r1")
    assert set(res["counts"]) == {"sink_nginx", "sink_apsara", "sink_structured", "sink_default"}
    assert sum(v["n_rows"] for v in res["counts"].values()) == 5000
    # every sink stage + counts committed
    log = CheckpointLog(out + "/_checkpoint")
    for name in res["sinks"]:
        assert log.committed("r1", f"sink_{name}")
        rec = log.read("r1", f"sink_{name}")
        assert rec["n_rows"] == res["counts"][name]["n_rows"]
        # file lineage reconciles with the stage totals
        assert sum(p["n_rows"] for p in rec["partitions"]) == rec["n_rows"]
        assert sum(p["n_bytes"] for p in rec["partitions"]) == rec["n_bytes"]
    crec = log.read("r1", "counts")
    assert crec["n_rows"] == 5000
    assert len(crec["partitions"]) > 0  # per-partition lineage of the routed data
    # sink contents match the counts
    for name, path in res["sinks"].items():
        assert spark.read.parquet(path).count() == res["counts"][name]["n_rows"]


def test_sink_payload_token_equality(spark, seq_path, tmp_path):
    """Routed-row token equality: re-encoding the sink's content payload must
    reproduce the original token arrays exactly (bijective codec)."""
    out = str(tmp_path / "job2")
    res = run_job(spark, seq_path, out, run_id="r2")
    sink = spark.read.parquet(res["sinks"]["sink_nginx"])
    orig = spark.read.parquet(seq_path)
    rows = (
        sink.select("doc_id", "content")
        .join(orig.select("doc_id", "tokens"), "doc_id")
        .limit(500)
        .collect()
    )
    assert rows, "empty sink"
    for r in rows:
        assert list(r["content"].encode("utf-8")) == list(r["tokens"])


def test_resume_skips_committed_stages(spark, seq_path, tmp_path):
    out = str(tmp_path / "job3")
    res1 = run_job(spark, seq_path, out, run_id="rr")
    assert len(res1["executed"]) == 5  # 4 sinks + counts
    # "kill" after commit: simply rerun with same run_id — nothing reprocessed
    res2 = run_job(spark, seq_path, out, run_id="rr")
    assert res2["executed"] == []
    assert res2["counts"] == res1["counts"]


def test_partial_failure_then_resume(spark, seq_path, tmp_path):
    """Simulate a crash mid-run: commit two stages, die, resume — only the
    remaining stages execute."""
    out = str(tmp_path / "job4")
    run = ResumableRun(out, run_id="crash")
    run.stage("sink_a", lambda d: (1, 1, [{"partition_id": 0, "n_rows": 1, "n_bytes": 1}]))
    run.stage("sink_b", lambda d: (2, 2, []))

    boom = []

    def failing(d):
        boom.append(1)
        raise RuntimeError("killed")

    with pytest.raises(RuntimeError):
        run.stage("sink_c", failing)

    resumed = ResumableRun(out, run_id="crash")
    calls = []

    def fn(name):
        def _f(d):
            calls.append(name)
            return (0, 0, [])
        return _f

    for s in ["sink_a", "sink_b", "sink_c", "counts"]:
        resumed.stage(s, fn(s))
    assert calls == ["sink_c", "counts"]  # a and b resumed over, not re-run


def test_checkpoint_log_dataframe(spark, seq_path, tmp_path):
    out = str(tmp_path / "job5")
    run_job(spark, seq_path, out, run_id="df1")
    log = CheckpointLog(out + "/_checkpoint")
    df = log.as_dataframe(spark)
    assert df.filter(F.col("status") == "committed").count() == 5
    assert {r["stage"] for r in df.select("stage").collect()} == {
        "sink_sink_nginx", "sink_sink_apsara", "sink_sink_structured", "sink_sink_default", "counts",
    }


def test_run_id_separator_rejected(tmp_path):
    """run_id may not contain the '__' catalog separator: 'run1' vs 'run1__x'
    would otherwise cross-list each other's stage files on resume."""
    import pytest
    from loongcollector_spark.checkpoint import CheckpointLog, ResumableRun

    log = CheckpointLog(str(tmp_path / "_cp"))
    with pytest.raises(ValueError):
        log.record("run1__x", "sink_a", 0, 0, [])
    with pytest.raises(ValueError):
        log.stages("bad__id")
    with pytest.raises(ValueError):
        ResumableRun(str(tmp_path / "out"), run_id="a__b")
    # clean ids still work
    log.record("run1", "sink_a", 1, 2, [])
    assert log.stages("run1") == ["sink_a"]


def test_run_job_condition_sinks_record_real_counts(spark, seq_path, tmp_path):
    """Condition-named sinks are not route values — their checkpoint records
    and returned counts must reflect the rows actually written, not 0."""
    from loongcollector_spark.operators.route import SinkCondition

    out = str(tmp_path / "jobc")
    res = run_job(
        spark, seq_path, out, run_id="rc",
        conditions=[SinkCondition(sink="all_events", type="always")],
    )
    assert res["counts"]["all_events"]["n_rows"] == 5000
    assert res["counts"]["all_events"]["n_tok_sum"] > 0
    log = CheckpointLog(out + "/_checkpoint")
    assert log.read("rc", "sink_all_events")["n_rows"] == 5000
    # resume returns the same sink-keyed counts from the committed record
    res2 = run_job(
        spark, seq_path, out, run_id="rc",
        conditions=[SinkCondition(sink="all_events", type="always")],
    )
    assert res2["executed"] == [] and res2["counts"]["all_events"]["n_rows"] == 5000


def test_stage_name_validated(tmp_path):
    """Stage names share the run_id's '<run>__<stage>.json' filename rules:
    '/' would fail the catalog write AFTER the sink snapshot committed
    (stage done on disk, unrecorded — rerun loops forever), '__' and a
    leading '_' collide across runs ('a_' + 'x' == 'a' + '_x')."""
    import pytest
    from loongcollector_spark.checkpoint import CheckpointLog

    log = CheckpointLog(str(tmp_path / "_cp"))
    for bad in ("a/b", "a__b", "_x", ""):
        with pytest.raises(ValueError):
            log.record("run1", bad, 0, 0, [])
    with pytest.raises(ValueError):
        log.record("run_", "x", 0, 0, [])  # trailing '_' run_id collides
    log.record("run1", "stage-ok.v2", 1, 2, [])
    assert log.stages("run1") == ["stage-ok.v2"]


def _oracle_sink_totals(seq_path) -> dict:
    from loongcollector_spark.plans.pipeline import DELIM_KEYS, NGINX_KEYS, NGINX_REGEX

    t = pq.read_table(seq_path)
    rows = zip(t["doc_id"].to_pylist(), t["tokens"].to_pylist(),
               t["n_tok"].to_pylist(), t["source"].to_pylist())
    totals: dict = {}
    for r in oracle.run_pipeline(rows, NGINX_REGEX, list(NGINX_KEYS), list(DELIM_KEYS)):
        acc = totals.setdefault(r["route"], [0, 0])
        acc[0] += 1
        acc[1] += r["n_tok"]
    return {k: tuple(v) for k, v in totals.items()}


def _sink_totals(spark, path) -> tuple:
    r = spark.read.parquet(path).agg(F.count(F.lit(1)).alias("n"), F.sum("n_tok").alias("t")).first()
    return r["n"], r["t"] or 0


@pytest.mark.parametrize("fail_at,escaped", [
    ("in_write", False), ("after_first_sink", False), ("before_counts", False),
    ("after_first_sink", True),
])
def test_crash_replay_commits_each_sink_once(spark, seq_path, tmp_path, monkeypatch, fail_at, escaped):
    """A run that dies inside the one sink write, after its first sink stage
    committed, or just before ``counts``, then reruns with the same run_id:
    the rerun executes exactly the uncommitted sinks plus counts, every sink
    (files and record) holds the oracle's rows and tokens from one write, and
    no staging directory is left. A sink name Spark path-escapes round-trips
    into its stage and count key."""
    import loongcollector_spark.plans.job as job
    from loongcollector_spark.plans.pipeline import DEFAULT_ROUTES

    expected = _oracle_sink_totals(seq_path)
    routes = None
    if escaped:
        routes = [RouteRule(r.regex, "web logs=1%" if r.sink == "sink_apsara" else r.sink)
                  for r in DEFAULT_ROUTES]
        expected["web logs=1%"] = expected.pop("sink_apsara")

    if fail_at == "in_write":
        real = job.write_staged

        def flaky_write(*a, **k):
            real(*a, **k)
            raise RuntimeError("injected: in_write")

        monkeypatch.setattr(job, "write_staged", flaky_write)
    elif fail_at == "after_first_sink":
        real, calls = job._sink_stage, []

        def flaky_stage(*a, **k):
            calls.append(1)
            if len(calls) == 2:
                def fail(inprog):
                    raise RuntimeError("injected: after_first_sink")
                return fail
            return real(*a, **k)

        monkeypatch.setattr(job, "_sink_stage", flaky_stage)
    else:
        def flaky_lineage(*a, **k):
            raise RuntimeError("injected: before_counts")

        monkeypatch.setattr(job, "partition_lineage", flaky_lineage)

    out = str(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="injected"):
        run_job(spark, seq_path, out, run_id="c1", routes=routes)
    monkeypatch.undo()
    log = CheckpointLog(out + "/_checkpoint")
    assert not log.committed("c1", "counts")
    committed = set(log.stages("c1"))
    assert len(committed) == {"in_write": 0, "after_first_sink": 1, "before_counts": 4}[fail_at]

    res = run_job(spark, seq_path, out, run_id="c1", routes=routes)
    assert res["executed"] == sorted(f"sink_{n}" for n in expected if f"sink_{n}" not in committed) + ["counts"]
    assert {k: (v["n_rows"], v["n_tok_sum"]) for k, v in res["counts"].items()} == expected
    assert set(res["sinks"]) == set(expected)
    for name, path in res["sinks"].items():
        assert path == os.path.join(out, f"sink_{name}")
        rec = log.read("c1", f"sink_{name}")
        assert _sink_totals(spark, path) == (rec["n_rows"], rec["n_bytes"]) == expected[name]
        # one write's files only: every file carries the same write job id
        jobs = {re.sub(r"^part-\d+-", "", f).split(".")[0] for f in os.listdir(path) if f.startswith("part-")}
        assert len(jobs) == 1, (name, sorted(os.listdir(path)))
    crec = log.read("c1", "counts")
    assert crec["n_rows"] == sum(n for n, _ in expected.values())
    assert sum(p["n_rows"] for p in crec["partitions"]) == crec["n_rows"]
    assert not [d for d in os.listdir(out) if "inprogress" in d]


def test_counts_lineage_adds_up_and_empty_sink_commits(spark, tmp_path):
    """The counts record's per-write-partition lineage sums to its rows and
    tokens in both modes, overlapping condition sinks included (a row in two
    sinks is written, and counted, twice). A condition sink no row matches
    still commits, as one zero-row file with the other sinks' columns."""
    seq2k = ensure_sequences(2000)
    out = str(tmp_path / "routes")
    res = run_job(spark, seq2k, out, run_id="lr")
    crec = CheckpointLog(out + "/_checkpoint").read("lr", "counts")
    assert crec["n_rows"] == 2000
    assert sum(p["n_rows"] for p in crec["partitions"]) == crec["n_rows"]
    assert sum(p["n_bytes"] for p in crec["partitions"]) == crec["n_bytes"]
    route_cols = spark.read.parquet(res["sinks"]["sink_nginx"]).schema

    out = str(tmp_path / "conds")
    res = run_job(spark, seq2k, out, run_id="lc", conditions=[
        SinkCondition(sink="all_a", type="always"),
        SinkCondition(sink="sink_nginx", type="route", value="sink_nginx"),
        SinkCondition(sink="nope", type="route", value="none"),
    ])
    log = CheckpointLog(out + "/_checkpoint")
    crec = log.read("lc", "counts")
    n_nginx = res["counts"]["sink_nginx"]["n_rows"]
    assert 0 < n_nginx < 2000
    assert crec["n_rows"] == 2000 + n_nginx == 3403
    assert sum(p["n_rows"] for p in crec["partitions"]) == crec["n_rows"]
    assert sum(p["n_bytes"] for p in crec["partitions"]) == crec["n_bytes"]
    assert res["counts"]["nope"] == {"n_rows": 0, "n_tok_sum": 0}
    assert log.read("lc", "sink_nope")["n_rows"] == 0
    files = [f for f in os.listdir(res["sinks"]["nope"]) if f.endswith(".parquet")]
    assert len(files) == 1
    assert pq.ParquetFile(os.path.join(res["sinks"]["nope"], files[0])).metadata.num_rows == 0
    empty = spark.read.parquet(res["sinks"]["nope"])
    assert empty.count() == 0
    assert empty.schema == spark.read.parquet(res["sinks"]["all_a"]).schema == route_cols
    assert "route" in empty.columns and len(empty.columns) == 8


@pytest.mark.parametrize("kw", [
    {"routes": [RouteRule("nginx", "a/b")]},
    {"default_sink": "x__y"},
    {"conditions": [SinkCondition(sink="ok"), SinkCondition(sink="")]},
])
def test_bad_sink_name_fails_before_any_spark_job(spark, seq_path, tmp_path, kw):
    """A sink whose stage name the catalog rejects fails the run before any
    Spark job: nothing is committed and nothing is staged."""
    out, sc = str(tmp_path / "bad"), spark.sparkContext
    sc.setJobGroup("bad-sink-name", "bad sink name")
    try:
        with pytest.raises(ValueError):
            run_job(spark, seq_path, out, run_id="bad", **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("bad-sink-name") == []
    assert CheckpointLog(out + "/_checkpoint").stages("bad") == []
    assert not os.path.exists(os.path.join(out, "_inprogress"))


def _spark_file_lineage(spark, sink_dir: str, bytes_col: str = "n_tok") -> list[dict]:
    """Reference: per-file lineage from a Spark ``input_file_name()`` grouping."""
    df = spark.read.parquet(sink_dir)
    rows = df.groupBy(F.input_file_name().alias("file")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum(bytes_col) if bytes_col in df.columns else F.lit(0)).alias("n_bytes"),
    ).collect()
    return sorted(
        ({"file": os.path.basename(r["file"]), "n_rows": r["n_rows"], "n_bytes": int(r["n_bytes"] or 0)}
         for r in rows),
        key=lambda r: r["file"],
    )


def test_footer_file_lineage_matches_spark_grouping(spark, seq_path, tmp_path):
    """``file_lineage`` reads parquet footers and the n_tok column chunk on
    the driver; it must equal the Spark input_file_name() grouping it
    replaced, null n_tok values and a sink without n_tok included."""
    from loongcollector_spark.checkpoint import file_lineage
    from loongcollector_spark.sources.io import sink_writer

    df = spark.read.parquet(seq_path).withColumn(
        "n_tok", F.when(F.col("n_tok") % 7 == 0, F.lit(None)).otherwise(F.col("n_tok"))
    )
    sink = str(tmp_path / "sink")
    sink_writer(df, 8).mode("overwrite").parquet(sink)
    got = file_lineage(sink)
    assert len(got) > 1
    assert got == _spark_file_lineage(spark, sink)
    assert sum(r["n_rows"] for r in got) == 5000

    bare = str(tmp_path / "bare")
    sink_writer(df.drop("n_tok"), 4).mode("overwrite").parquet(bare)
    assert file_lineage(bare) == _spark_file_lineage(spark, bare)
