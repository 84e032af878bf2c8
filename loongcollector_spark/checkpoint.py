"""Checkpoint / lineage / resume.

The reference's exactly-once story is per-batch range checkpoints with a
prepare/commit protocol (core/file_server/checkpoint/RangeCheckpoint.h:27-49,
core/collection_pipeline/queue/ExactlyOnceQueueManager.h:41) plus disk-buffered
redelivery (core/plugin/flusher/sls/DiskBufferWriter.cpp). The Spark-native
equivalent: each sink write is an atomic table commit (Iceberg snapshot in
production; directory rename here), and a checkpoint log records, per
``(run_id, stage)``: status, row/byte totals, and **per-partition lineage**
(partition id → rows, bytes). A killed run re-invoked with the same ``run_id``
skips every committed stage — nothing is reprocessed, matching "resumes from
the last committed Iceberg snapshot".

Commit protocol (local-FS emulation of an Iceberg snapshot commit):
  1. stage executes, writing its sink under ``<out>/<stage>.inprogress/``
  2. atomic ``os.rename`` → ``<out>/<stage>/``              (the "snapshot")
  3. checkpoint record written via tmpfile + atomic rename  (the catalog row)
Crash between 2 and 3 re-runs one stage idempotently (overwrite) — the same
window Iceberg's multi-table commits have (SURVEY.md §7.4).

Where the lineage records come from (none costs a Spark pass of its own):
  * a sink stage's ``partitions`` are per output file (``file_lineage``): row
    counts from the parquet footers, bytes from the ``n_tok`` column chunk,
    read in-process (no Spark job) once the write that made them finished;
  * ``run_job``'s ``counts`` stage records per write partition
    (``partition_lineage``): its sinks' file records folded by the
    ``part-<n>`` task number in each file name, so they add up to the
    stage's rows even when a row went to several sinks.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession


def _validate_run_id(run_id: str) -> str:
    """Catalog filenames are ``<run_id>__<stage>.json``: a run_id containing
    the ``__`` separator would make another run's files list under this run's
    prefix (stages('run1') picking up 'run1__x__stage.json' as stage
    'x__stage') — and resume could then report sinks of a different run.
    A TRAILING '_' is rejected for the same reason: run 'a_' + stage 'x'
    builds the same filename as run 'a' + stage '_x'."""
    if "__" in run_id or "/" in run_id or not run_id or run_id.endswith("_"):
        raise ValueError(
            "run_id must be non-empty, contain no '__' or '/', and not end "
            f"with '_': {run_id!r}"
        )
    return run_id


def _validate_stage(stage: str) -> str:
    """Stage names land in the same ``<run_id>__<stage>.json`` filename: a
    '/' would nest the catalog file under a nonexistent directory AFTER the
    sink snapshot rename succeeded — the stage would then be committed on
    disk but unrecorded, and every rerun re-executes and crashes at the same
    point. '__' and a leading '_' are rejected for the same cross-run
    collision reasons as run_id."""
    if "__" in stage or "/" in stage or not stage or stage.startswith("_"):
        raise ValueError(
            "stage must be non-empty, contain no '__' or '/', and not start "
            f"with '_': {stage!r}"
        )
    return stage


class CheckpointLog:
    """Append-only commit log: one JSON file per (run_id, stage), written
    atomically. Readable as a DataFrame for monitoring/lineage queries."""

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, run_id: str, stage: str) -> str:
        return os.path.join(
            self.root, f"{_validate_run_id(run_id)}__{_validate_stage(stage)}.json"
        )

    def committed(self, run_id: str, stage: str) -> bool:
        return os.path.exists(self._path(run_id, stage))

    def record(
        self,
        run_id: str,
        stage: str,
        n_rows: int,
        n_bytes: int,
        partitions: list[dict],
    ) -> None:
        rec = {
            "run_id": run_id,
            "stage": stage,
            "status": "committed",
            "n_rows": int(n_rows),
            "n_bytes": int(n_bytes),
            "partitions": partitions,
        }
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, self._path(run_id, stage))  # atomic commit

    def read(self, run_id: str, stage: str) -> dict:
        with open(self._path(run_id, stage)) as f:
            return json.load(f)

    def stages(self, run_id: str) -> list[str]:
        """Committed stage names for a run (catalog listing for resume)."""
        prefix = f"{_validate_run_id(run_id)}__"
        return sorted(
            f[len(prefix):-5]
            for f in os.listdir(self.root)
            if f.startswith(prefix) and f.endswith(".json")
        )

    def as_dataframe(self, spark: SparkSession) -> DataFrame:
        return spark.read.option("multiLine", "true").json(self.root + "/*.json")


_TASK = re.compile(r"part-(\d+)")


def partition_lineage(files: Iterable[dict]) -> list[dict]:
    """Per-write-partition (rows, bytes) lineage folded from ``file_lineage``
    records: files are keyed by the task number Spark puts in their names
    (``part-<n>``), so one task's files across several sinks sum into one
    record."""
    acc: dict = {}
    for f in files:
        a = acc.setdefault(int(_TASK.match(f["file"]).group(1)), [0, 0])
        a[0] += f["n_rows"]
        a[1] += f["n_bytes"]
    return [{"partition_id": p, "n_rows": n, "n_bytes": b} for p, (n, b) in sorted(acc.items())]


def file_lineage(sink_dir: str) -> list[dict]:
    """Per-output-file lineage of a written parquet sink (file == sink-table
    partition unit; the Iceberg manifest analog), read on the driver from the
    files themselves — row counts from each footer, bytes from the one
    ``n_tok`` column chunk — with no Spark job. Covers the files a Spark
    read would (not ``_``/``.``-prefixed) that hold rows."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = []
    for dirpath, dirnames, filenames in os.walk(sink_dir):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for name in filenames:
            if name.startswith(("_", ".")):
                continue
            pf = pq.ParquetFile(os.path.join(dirpath, name))
            n_rows = pf.metadata.num_rows
            if n_rows == 0:
                continue
            n_bytes = (
                pc.sum(pf.read(columns=["n_tok"]).column(0)).as_py()
                if "n_tok" in pf.schema_arrow.names
                else 0
            )
            out.append({"file": name, "n_rows": n_rows, "n_bytes": int(n_bytes or 0)})
    return sorted(out, key=lambda r: r["file"])


class ResumableRun:
    """Stage orchestrator: ``stage(name, fn)`` executes ``fn(stage_dir)`` only
    if ``(run_id, name)`` is not yet committed; ``fn`` writes into the
    in-progress dir, which is atomically renamed on success.

    ``fn`` returns ``(n_rows, n_bytes, partitions)`` for the checkpoint record.
    """

    def __init__(self, out_root: str, run_id: str) -> None:
        self.out_root = out_root
        self.run_id = _validate_run_id(run_id)
        self.log = CheckpointLog(os.path.join(out_root, "_checkpoint"))
        self.executed: list[str] = []  # stages actually run (not resumed-over)
        os.makedirs(out_root, exist_ok=True)

    def stage_dir(self, name: str) -> str:
        return os.path.join(self.out_root, name)

    def stage(self, name: str, fn) -> str:
        """Run one committed stage; returns the committed sink dir."""
        final = self.stage_dir(name)
        if self.log.committed(self.run_id, name):
            return final
        inprog = final + ".inprogress"
        shutil.rmtree(inprog, ignore_errors=True)  # idempotent re-run after crash
        n_rows, n_bytes, partitions = fn(inprog)
        if os.path.exists(inprog):
            shutil.rmtree(final, ignore_errors=True)
            os.replace(inprog, final)  # the "snapshot commit"
        self.log.record(self.run_id, name, n_rows, n_bytes, partitions)
        self.executed.append(name)
        return final
