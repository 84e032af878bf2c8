"""End-to-end checkpointed batch job: the ``CollectionPipeline::Process`` +
``Router::Route`` + flusher-commit lifecycle (SURVEY.md §3.1) as one resumable
Spark job.

    read sequences → decode (JVM decode_tokens_utf8) → parse (per-source)
      → enrich (literal map lookup) → route; the plan is built from SQL
      text in tens of py4j calls, once per run
      → _sink column (a copy of route, or one exploded copy per matching
        sink condition)
      → ONE Spark job: salted (_sink, xxhash64(doc_id)) repartition →
        partitionBy(_sink) parquet write into <out>/_inprogress/
      → per-sink rows, token sums and file lineage from the footers
      → [per-sink stages: rename of the sink's _sink=<v> directory]
      → counts stage, LAST, once every sink has committed (pyarrow write)

Each sink is its own committed stage (one Iceberg-snapshot analog per
flusher), but every sink's rows come from the one write: the Router hands each
event to its flushers once (Router.cpp:50-82) and each flusher counts what it
sent. A row in several condition sinks is written once per sink. Re-running
with the same ``run_id`` skips committed sinks and writes only the rows of the
others — the kill/rerun contract ("a killed run resumes from the last
committed snapshot without reprocessing"); a committed ``counts`` stage means
every sink committed, so a fully resumed run reads it back and touches no
input. Nothing is persisted and no aggregation job runs: the one write is the
only pass over the routed plan.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpoint import ResumableRun, _validate_stage, partition_lineage
from ..operators.route import RouteRule, SinkCondition, check_distinct_sinks, with_sink_column
from ..sources.io import read_sequences, sink_writer, write_staged
from .pipeline import DEFAULT_ROUTES, build_pipeline, default_enrich

_COUNTS_SCHEMA = pa.schema([("route", pa.string()), ("n_rows", pa.int64()), ("n_tok_sum", pa.int64())])


def _sink_names(
    routes: list[RouteRule] | None, conditions: list[SinkCondition] | None, default_sink: str | None
) -> list[str]:
    """Every sink the job can commit, validated before any Spark job runs: a
    name that makes a bad stage name would otherwise fail only after the
    write, and again on every rerun."""
    if conditions is not None:
        check_distinct_sinks(conditions)
        names = [c.sink for c in conditions]
    else:
        names = [r.sink for r in (DEFAULT_ROUTES if routes is None else routes)]
        names += [] if default_sink is None else [default_sink]
    for n in names:
        if not isinstance(n, str) or not n:
            raise ValueError(f"sink names must be non-empty strings: {n!r}")
        _validate_stage(f"sink_{n}")
    return list(dict.fromkeys(names))


def _totals(files: list[dict]) -> tuple[int, int]:
    """(rows, token sum) of a sink from its ``file_lineage`` records."""
    return sum(f["n_rows"] for f in files), sum(f["n_bytes"] for f in files)


def _sink_stage(src: str | None, files: list[dict], plan: DataFrame):
    """The body of one sink's stage: rename its staged directory into the
    stage, or — for a condition sink that matched no row — write one zero-row
    file with the columns of the others (``limit(0)`` plans no scan)."""

    def _fn(inprog: str):
        if src is None:
            sink_writer(plan.drop("_sink").limit(0)).mode("overwrite").parquet(inprog)
        else:
            os.replace(src, inprog)
        return (*_totals(files), files)

    return _fn


def run_job(
    spark: SparkSession,
    input_path: str,
    out_root: str,
    run_id: str,
    routes: list[RouteRule] | None = None,
    conditions: list[SinkCondition] | None = None,
    default_sink: str | None = "sink_default",
) -> dict:
    """Run (or resume) the flagship pipeline. Returns
    ``{"run_id", "sinks": {name: path}, "counts": {name: {n_rows, n_tok_sum}},
    "executed": [stage...]}`` — ``executed`` is empty on a fully-resumed run.
    """
    names = _sink_names(routes, conditions, default_sink)
    run = ResumableRun(out_root, run_id)

    # Fast resume: the counts stage commits LAST, so its presence means every
    # sink is committed too — read counts from the committed records instead
    # of re-running the decode→parse→route scan (a fully-resumed run must not
    # reprocess, and recomputing from current input could disagree with the
    # committed sink contents if the input changed).
    if run.log.committed(run.run_id, "counts"):
        counts = {
            r["route"]: {"n_rows": r["n_rows"], "n_tok_sum": int(r["n_tok_sum"])}
            for r in pq.read_table(run.stage_dir("counts")).to_pylist()
        }
        sinks = {
            name[len("sink_"):]: run.stage_dir(name)
            for name in run.log.stages(run.run_id)
            if name.startswith("sink_")
        }
        return {"run_id": run.run_id, "sinks": sinks, "counts": counts, "executed": []}

    done = [n for n in names if run.log.committed(run.run_id, f"sink_{n}")]
    pending = [n for n in names if n not in done]
    staging = os.path.join(out_root, "_inprogress")
    # per-sink file lineage; an earlier attempt's sinks from their records
    files = {n: run.log.read(run.run_id, f"sink_{n}")["partitions"] for n in done}
    if pending:
        routed = build_pipeline(
            read_sequences(spark, input_path), routes, default_sink, enrich=default_enrich(spark),
        )
        if conditions is None:
            plan = routed.withColumn("_sink", F.col("route"))
        else:
            plan = with_sink_column(routed, conditions)
        if done:
            plan = plan.filter(F.col("_sink").isin(pending))
        num_partitions = spark.sparkContext.defaultParallelism * 2
        staged = write_staged(sink_writer(plan, num_partitions, source_col="_sink"), staging, "_sink")
        # route sinks exist once they have rows; condition sinks always do
        commit = sorted(staged) if conditions is None else pending
        for name in commit:
            src, files[name] = staged.get(name, (None, []))
            run.stage(f"sink_{name}", _sink_stage(src, files[name], plan))
    shutil.rmtree(staging, ignore_errors=True)
    sinks = {n: run.stage_dir(f"sink_{n}") for n in files}
    counts = {n: dict(zip(("n_rows", "n_tok_sum"), _totals(fs))) for n, fs in files.items()}

    def _counts_fn(inprog: str):
        # 4 rows: pyarrow writes the same table in ~1 ms, a Spark write
        # job costs ~1 s; the commit protocol is local-FS already
        os.makedirs(inprog)
        table = pa.Table.from_pylist(
            [{"route": k, **v} for k, v in sorted(counts.items())], schema=_COUNTS_SCHEMA
        )
        pq.write_table(table, os.path.join(inprog, "part-00000.parquet"))
        total_rows = sum(v["n_rows"] for v in counts.values())
        total_tok = sum(v["n_tok_sum"] for v in counts.values())
        return total_rows, total_tok, partition_lineage(f for fs in files.values() for f in fs)

    run.stage("counts", _counts_fn)
    return {"run_id": run.run_id, "sinks": sinks, "counts": counts, "executed": run.executed}
