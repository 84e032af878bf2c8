"""Sources & sinks.

* ``read_sequences``  — the input_file / input_static_file analog: batch read of
  the tokenized-sequence table (Iceberg in production; parquet here — the code
  path is identical, ``format`` is a parameter).
* ``write_routed_partitioned`` — the one non-committing writer: a salted
  shuffle into one ``partitionBy(route)`` write, sinks = directories.
* ``sink_writer``     — the payload, file-sizing and compression choices every
  sink commit shares (``plans/job.py``'s one sink write, the stream fan-out in
  ``streaming/job.py`` and ``write_routed_partitioned``).
* ``write_staged``    — the one commit write batch and stream share: one
  ``partitionBy`` write into a staging directory, then each value's directory
  and file lineage from the parquet footers. ``run_job`` renames each value's
  directory into its sink stage (the Router + flusher fan-out,
  core/collection_pipeline/route/Router.cpp:50-82, a row in several condition
  sinks written once per sink); ``commit_batch`` moves its files into the
  per-route sinks.

Iceberg notes: on a real cluster, swap ``format('parquet')`` for
``writeTo(table).append()`` on an Iceberg catalog — the snapshot commit is the
prepare/commit of the reference's exactly-once checkpoints
(core/file_server/checkpoint/RangeCheckpoint.h:27-49); see checkpoint.py.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession

from .. import checkpoint
from ..operators.aggregate import salted_repartition


def read_sequences(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    return spark.read.format(fmt).load(path)


def sink_writer(
    df: DataFrame, num_partitions: int | None = None, source_col: str = "source"
) -> DataFrameWriter:
    """The writer of one sink commit, with the choices all sinks share:

    * payload: ``content`` — byte-for-byte the token payload (the codec is
      bijective, tokens are bytes), so routed-row token-array equality stays
      exactly verifiable via re-encode while the sink avoids parquet-encoding
      every token as an int32 (4× byte inflation, measured 8× slower write);
    * ``num_partitions``: a salted repartition on ``source_col`` first
      (``salted_repartition``), after the drop so the shuffle never carries
      ``tokens``;
    * zstd: measured on the 600k-row routed write (local[32], /dev/shm) it is
      BOTH faster than Spark's snappy default (1.56s vs 2.21s best) and 35%
      smaller (27.6 vs 42.6 MB) — at 100 TB the size cut dominates downstream
      scan + storage cost, so there is no speed/size trade to make;
    * ``maxRecordsPerFile`` bounds file size (the Batcher/FlushStrategy
      analog, core/collection_pipeline/batch/FlushStrategy.h:31-104).

    The caller adds the save mode, ``partitionBy`` and the path."""
    if "tokens" in df.columns and "content" in df.columns:
        df = df.drop("tokens")
    if num_partitions:
        df = salted_repartition(df, num_partitions, source_col)
    return df.write.option("maxRecordsPerFile", 1_000_000).option("compression", "zstd")


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _partition_value(escaped: str) -> str | None:
    """A ``partitionBy`` directory's value: Spark's Hive path escaping
    (``%XX``) undone, the null directory → None."""
    if escaped == _HIVE_NULL:
        return None
    return re.sub(r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), escaped)


def write_staged(writer: DataFrameWriter, stage_dir: str, col: str) -> dict:
    """ONE ``partitionBy(col)`` parquet write of ``writer`` into ``stage_dir``
    (replacing it), then ``{value: (dir, files)}`` for each value of ``col``
    written: its directory and its ``checkpoint.file_lineage`` records, read
    once from the footers. A value has a directory only if it has rows."""
    writer.mode("overwrite").partitionBy(col).parquet(stage_dir)
    out = {}
    for d in sorted(os.listdir(stage_dir)):
        if d.startswith(col + "="):
            path = os.path.join(stage_dir, d)
            out[_partition_value(d[len(col) + 1:])] = (path, checkpoint.file_lineage(path))
    return out


def write_routed_partitioned(routed: DataFrame, out_dir: str, num_partitions: int | None = None) -> None:
    """Disjoint-sink writer with no commit: one shuffle, one write, sinks =
    directories. Payload, compression and file sizing: ``sink_writer``.

    Salt on (route, hash(doc_id)): each task then holds rows of exactly ONE
    route, so partitionBy opens one parquet writer per task instead of one per
    (task × route) — concurrent row-group buffers are the write stage's memory
    footprint (4 routes × 64 tasks × ~128MB blew up local[32]); the salt
    spreads the hot route over many tasks (sink-affinity sharding,
    aggregator_shardhash.go:164-204 semantics).
    """
    w = sink_writer(routed, num_partitions, source_col="route")
    w.mode("overwrite").partitionBy("route").parquet(out_dir)
