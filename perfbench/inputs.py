"""Benchmark-owned inputs: deterministic sequence tables, one per
(seed, rows, rows_per_file), written once with ``synth.write_sequences`` and
reused by later runs in the same checkout."""

from __future__ import annotations

import math
from pathlib import Path

from .harness import FILES_PER_CORE, NPROC, WORK


def sequences(rows: int, seed: int, rows_per_file: int | None = None) -> Path:
    """The table's directory. By default it has ``FILES_PER_CORE`` files per
    core, one scan split each."""
    from loongcollector_spark.synth import write_sequences

    rpf = rows_per_file or math.ceil(rows / (NPROC * FILES_PER_CORE))
    path = WORK / "inputs" / f"seq_r{rows}_f{rpf}_s{seed}"
    path.parent.mkdir(parents=True, exist_ok=True)
    write_sequences(str(path), rows, seed=seed, rows_per_file=rpf)
    return path


def rows(rows: int, seed: int) -> list[tuple]:
    """The table's rows, (doc_id, tokens, n_tok, source), in file order."""
    from loongcollector_spark.synth import gen_rows

    return list(gen_rows(rows, seed))


def on_disk_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.glob("*.parquet")) / 2**20
