"""End-to-end checkpointed batch job: the ``CollectionPipeline::Process`` +
``Router::Route`` + flusher-commit lifecycle (SURVEY.md §3.1) as one resumable
Spark job.

    read sequences → decode (JVM decode_tokens_utf8) → parse (per-source,
      compiled once per config) → enrich → route → persist
      → ONE aggregation: per-sink rows + token sums and per-partition lineage
      → [per-sink stages, committed concurrently: filter → salted
         repartition → parquet commit → footer file lineage]
      → counts stage, LAST, once every sink has committed (pyarrow write)

Each sink is its own committed stage (one Iceberg-snapshot analog per flusher);
the sink stages run from one thread each, as the reference's ``FlusherRunner``
sends asynchronously. Re-running with the same ``run_id`` skips committed
sinks — the kill/rerun contract ("a killed run resumes from the last committed
snapshot without reprocessing"); a committed ``counts`` stage means every sink
committed, so a fully resumed run reads it back and touches no input. The
routed plan is persisted once so N sink writes don't recompute the parse stage
N times (SURVEY.md §7.4 multi-sink duplication; Router.cpp:50-82 semantics
allow a row in >1 sink).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..checkpoint import ResumableRun, partition_lineage, sum_rows_bytes
from ..operators.route import RouteRule, SinkCondition, fan_out, sink_predicate
from ..sources.io import read_sequences, sink_writer
from .pipeline import ParserSpec, build_pipeline

_COUNTS_SCHEMA = pa.schema([("route", pa.string()), ("n_rows", pa.int64()), ("n_tok_sum", pa.int64())])


def _write_sink(df: DataFrame, path: str, num_partitions: int, keep_tokens: bool) -> None:
    sink_writer(df, keep_tokens, num_partitions).mode("overwrite").parquet(path)


def _counts_and_lineage(
    routed: DataFrame, conditions: list[SinkCondition] | None
) -> tuple[dict, list]:
    """Per-sink ``{n_rows, n_tok_sum}`` and the per-partition aggregate rows
    (for ``partition_lineage``), from ONE aggregation job over the persisted
    plan, grouped by ``spark_partition_id()``.

    Route-keyed sinks group by route too. Condition-based sinks are NOT route
    values (a row may land in several, 'always' takes all), so they sum a
    membership flag per condition instead — one job for all sinks, not one
    sequential count per sink: N back-to-back full passes cost ~N straggler
    tails on a wide cluster."""
    keys = [F.spark_partition_id().alias("partition_id")]
    aggs = [F.count(F.lit(1)).alias("n_rows"), F.sum("n_tok").alias("n_bytes")]
    if conditions is None:
        keys.append(F.col("route"))
    else:
        cols, tok = routed.columns, F.coalesce(F.col("n_tok"), F.lit(0))
        for i, c in enumerate(conditions):
            p = sink_predicate(c, cols)
            aggs += [F.sum(F.when(p, 1).otherwise(0)).alias(f"_r{i}"),
                     F.sum(F.when(p, tok).otherwise(0)).alias(f"_t{i}")]
    rows = routed.groupBy(*keys).agg(*aggs).collect()

    if conditions is None:
        sums = sum_rows_bytes(rows, "route")
    else:
        sums = {
            c.sink: [sum(r[f"_r{i}"] for r in rows), sum(r[f"_t{i}"] for r in rows)]
            for i, c in enumerate(conditions)
        }
    counts = {k: {"n_rows": int(n), "n_tok_sum": int(t)} for k, (n, t) in sums.items()}
    return counts, rows


def run_job(
    spark: SparkSession,
    input_path: str,
    out_root: str,
    run_id: str,
    parsers: dict[str, ParserSpec] | None = None,
    routes: list[RouteRule] | None = None,
    conditions: list[SinkCondition] | None = None,
    default_sink: str | None = "sink_default",
    num_partitions: int | None = None,
    keep_tokens: bool = False,
    enrich: str | None = "default",
) -> dict:
    """Run (or resume) the flagship pipeline. Returns
    ``{"run_id", "sinks": {name: path}, "counts": {name: {n_rows, n_tok_sum}},
    "executed": [stage...]}`` — ``executed`` is empty on a fully-resumed run.
    """
    from .pipeline import default_enrich

    num_partitions = num_partitions or spark.sparkContext.defaultParallelism * 2
    run = ResumableRun(spark, out_root, run_id)

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

    enrich_fn = default_enrich(spark) if enrich == "default" else enrich
    routed = build_pipeline(
        read_sequences(spark, input_path), parsers, routes, default_sink, enrich=enrich_fn
    )
    routed = routed.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        counts, by_partition = _counts_and_lineage(routed, conditions)
        if conditions is None:
            sink_dfs = {
                name: routed.filter(F.col("route") == F.lit(name)) for name in sorted(counts)
            }
        else:
            sink_dfs = fan_out(routed, conditions)

        def _sink_fn(name: str, df: DataFrame):
            def _fn(inprog: str):
                _write_sink(df, inprog, num_partitions, keep_tokens)
                c = counts.get(name, {"n_rows": 0, "n_tok_sum": 0})
                return c["n_rows"], c["n_tok_sum"], None  # file lineage derived

            return _fn

        committed = run.stage_concurrently(
            {f"sink_{name}": _sink_fn(name, df) for name, df in sink_dfs.items()}
        )
        sinks = {name: committed[f"sink_{name}"] for name in sink_dfs}

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
            return total_rows, total_tok, partition_lineage(by_partition)

        run.stage("counts", _counts_fn)
    finally:
        routed.unpersist()

    return {"run_id": run.run_id, "sinks": sinks, "counts": counts, "executed": run.executed}
