"""Structured Streaming mode of the pipeline.

The reference is a continuous agent: file tailing → process → batched flush
with size/age triggers (core/collection_pipeline/batch/FlushStrategy.h:31-104).
The Spark-native equivalents:

* file tailing          → ``readStream`` file source (new files per trigger;
                          the InputFile/EventDispatcher analog) — the one
                          stream source
* processor chain       → IDENTICAL stateless transformations as batch —
                          ``build_pipeline`` is reused verbatim
* Batcher/FlushStrategy → trigger intervals + sink file sizing
* exactly-once + resume → streaming checkpoint (file-source offsets) plus a
                          per-batch ledger file as commit marker — a restarted
                          query replays only an uncommitted batch, and the
                          replay neither duplicates nor loses rows; the
                          streaming twin of checkpoint.py's batch resume

``start_fanout``'s ``foreachBatch`` fans out each micro-batch to the per-route
sinks (Router.cpp:50-82) in ONE Spark job and commits it with the protocol of
checkpoint.py (RangeCheckpoint prepare/commit, ExactlyOnceQueueManager).
"""

from __future__ import annotations

import contextlib
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from ..plans.pipeline import build_pipeline
from ..schema import SEQUENCE_SCHEMA
from ..sources.io import sink_writer, write_staged


def stream_sequences(spark: SparkSession, input_dir: str) -> DataFrame:
    return spark.readStream.schema(SEQUENCE_SCHEMA).parquet(input_dir)


def stream_pipeline(spark: SparkSession, input_dir: str) -> DataFrame:
    """The batch pipeline, streaming: decode → parse → route on a readStream.
    All pipeline stages are stateless projections/filters, so the SAME plan
    builder works unchanged on an unbounded input."""
    return build_pipeline(stream_sequences(spark, input_dir))


_LEDGER_SCHEMA = pa.schema(
    [("route", pa.string()), ("n_rows", pa.int64()), ("n_tok_sum", pa.int64()), ("batch_id", pa.int32())]
)


def _publish(staged: dict, sinks: str, prefix: str) -> dict:
    """Move the files ``write_staged`` staged into ``sinks/route=<r>/`` under
    ``prefix`` and return ``{route: (n_rows, n_tok_sum)}`` from their footers."""
    counts = {}
    for route, (src, files) in staged.items():
        if not files:
            continue
        dst = os.path.join(sinks, os.path.basename(src))
        os.makedirs(dst, exist_ok=True)
        for f in files:
            os.replace(os.path.join(src, f["file"]), os.path.join(dst, prefix + f["file"]))
        counts[route] = (sum(f["n_rows"] for f in files), sum(f["n_bytes"] for f in files))
    return counts


def _unpublish(sinks: str, prefix: str) -> None:
    """Delete the files an earlier, uncommitted attempt moved under ``prefix``."""
    for d in os.listdir(sinks):
        if d.startswith("route="):
            for name in os.listdir(os.path.join(sinks, d)):
                if name.startswith(prefix):
                    os.remove(os.path.join(sinks, d, name))


def _write_ledger(path: str, batch_id: int, counts: dict) -> None:
    """The batch's ledger rows (pyarrow, tmp + atomic rename): its commit marker."""
    rows = [
        {"route": r, "n_rows": n, "n_tok_sum": t, "batch_id": batch_id}
        for r, (n, t) in sorted(counts.items(), key=lambda kv: (kv[0] is None, kv[0] or ""))
    ]
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(pa.Table.from_pylist(rows, schema=_LEDGER_SCHEMA), tmp)
    os.replace(tmp, path)


def _drop_stage(stage: str) -> None:
    shutil.rmtree(stage, ignore_errors=True)
    with contextlib.suppress(OSError):
        os.rmdir(os.path.dirname(stage))  # the ``_inprogress`` parent, once empty


def commit_batch(batch_df: DataFrame, batch_id: int, out_root: str) -> None:
    """Commit one micro-batch exactly once into ``out_root``'s per-route sinks
    and counts ledger, running ONE Spark job for it.

      1. if ``counts/batch-<id>.parquet`` exists the batch committed before:
         skip it. Otherwise, if its stage exists, an earlier attempt stopped
         part-way: delete the files it published (``batch-<id>-`` prefix);
      2. write the batch to ``sinks/_inprogress/<id>/`` (``write_staged``: one
         ``partitionBy(route)`` write, no shuffle) and read per-route rows and
         token sums from the written footers;
      3. move the files into ``sinks/route=<r>/`` named ``batch-<id>-<part>``;
      4. write the ledger file — the commit — then drop the stage.

    The stage is dropped only after the ledger is written, so a batch without
    a ledger has published files only while its stage exists."""
    sinks, counts = os.path.join(out_root, "sinks"), os.path.join(out_root, "counts")
    stage = os.path.join(sinks, "_inprogress", str(batch_id))
    ledger = os.path.join(counts, f"batch-{batch_id}.parquet")
    prefix = f"batch-{batch_id}-"
    if os.path.exists(ledger):
        _drop_stage(stage)
        return
    if os.path.isdir(stage):
        _unpublish(sinks, prefix)
    staged = write_staged(sink_writer(batch_df), stage, "route")
    by_route = _publish(staged, sinks, prefix)
    os.makedirs(counts, exist_ok=True)
    _write_ledger(ledger, batch_id, by_route)
    _drop_stage(stage)


def start_fanout(
    routed: DataFrame,
    out_root: str,
    checkpoint_dir: str,
    available_now: bool = False,
    processing_time: str = "10 seconds",
):
    """foreachBatch fan-out writer, exactly-once: each micro-batch lands in
    per-route directories under ``out_root/sinks`` and as one ledger file
    ``out_root/counts/batch-<id>.parquet`` (its rows and token sum per route —
    the flusher OUT_EVENTS counters; a null route is the
    ``__HIVE_DEFAULT_PARTITION__`` directory's). ``commit_batch`` runs one
    Spark job per batch, takes the counts from the written files' footers and
    writes the ledger file last, as the batch's commit marker. A batch that
    fails before its offsets commit is replayed under the same id on restart
    (same ``checkpoint_dir``): it is skipped if its ledger file exists, and
    otherwise first deletes whatever its earlier attempt published."""
    w = routed.writeStream.foreachBatch(lambda df, batch_id: commit_batch(df, batch_id, out_root))
    w = w.option("checkpointLocation", checkpoint_dir)
    w = w.trigger(availableNow=True) if available_now else w.trigger(processingTime=processing_time)
    return w.start()
