"""Per-layer figures of the token-curation operators, ``operators.tokens`` and
``operators.packing``, taken in ``job_batch``'s traced run on a small table of
the same synthetic rows: ``dup_span_strip(k=50)``, then ``pack_chunks`` with
2048-token contexts on the kept lengths, packed per
``pmod(xxhash64(doc_id), SHARDS)`` shard."""

from __future__ import annotations

from . import inputs
from .harness import Tracer, prefix_self_times, spans_stages

ROWS = 2_500
K = 50  # Lee et al. span length; with byte tokens it strips a fraction, not most, of the corpus
CTX_LEN = 2048
SHARDS = 8


def measure(spark, tracer: Tracer, metrics, seed: int) -> dict:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from loongcollector_spark.operators.packing import pack_chunks
    from loongcollector_spark.operators.tokens import dup_span_strip
    from loongcollector_spark.sources.io import read_sequences

    rows = inputs.rows(ROWS, seed)
    scan = read_sequences(spark, str(inputs.sequences(ROWS, seed)))
    stripped = dup_span_strip(scan, k=K)
    kept = stripped.select(
        "doc_id",
        F.size("tokens_clean").alias("n_kept"),
        F.pmod(F.xxhash64("doc_id"), F.lit(SHARDS)).cast("int").alias("shard"),
    )
    packed = pack_chunks(kept, CTX_LEN, count_col="n_kept", shard_col="shard")
    # a prefix's self time counts from the prefix it reads, so packing is
    # measured against its own input (the kept lengths), which skips
    # materializing the stripped token arrays
    obs = Observation("strip")
    self_s = prefix_self_times(
        tracer,
        [("scan", scan), ("strip", stripped), ("kept", kept), ("pack", packed)],
        observe={"strip": (obs, [F.sum("n_tok").alias("n_tok"), F.sum("n_removed").alias("removed")])},
    )
    strip_span = tracer.find("prefix", layer="strip")[-1]
    strip_stages = spans_stages(tracer, metrics.stage_ids_by_group(), metrics.stages(), [strip_span["id"]])
    chunks = packed.groupBy("shard").agg((F.max("chunk_last") + 1).alias("n")).agg(F.sum("n")).collect()[0][0]
    o = obs.get
    return {
        "tokens.strip_s": self_s["strip"],
        "tokens.gram_rows": float(sum(max(0, r[2] - K + 1) for r in rows)),
        "tokens.removed_frac": o["removed"] / o["n_tok"],
        "tokens.shuffle_write_mb": sum(s["shuffle_write"] for s in strip_stages) / 2**20,
        "packing.self_s": self_s["pack"],
        "packing.chunks": float(chunks),
    }
