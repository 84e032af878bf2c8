"""Sequence packing: assign documents to fixed-length training context
windows (concat-and-chunk, the GPT-style packing used by every large LM
pretraining pipeline: documents are concatenated in a deterministic order and
the stream is cut every ``ctx_len`` tokens; a document may span a chunk
boundary).

Not in the reference (a log agent ships rows, not contexts); for a tokens
pipeline this is the step between "clean corpus" and "training batches".

Scale shape: ONE window aggregation partitioned by the shard column — the
running token offset within each shard. Packing is defined per shard (real
pipelines pack within a shard/file so shards stay independently writable and
the order is reproducible); a global pack order would be a single-reducer
sort, which is exactly what this avoids. Shard count = write parallelism.
Everything downstream (chunk ids) is arithmetic on the offset — no second
shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_chunks(
    df: DataFrame,
    ctx_len: int,
    count_col: str = "n_tok",
    shard_col: str = "source",
) -> DataFrame:
    """Per-doc packing assignment: (id, shard, start_off, chunk_first,
    chunk_last, n_chunks).

    ``start_off`` is the document's first-token offset in its shard's
    concatenated token stream (docs ordered by ``doc_id``); chunk ids are
    ``floor(offset / ctx_len)`` — a doc spans ``chunk_first..chunk_last``
    and contributes to ``n_chunks`` contexts. Deterministic: a pure function
    of (shard, order, counts), so reruns and the SQL oracle agree exactly."""
    w = (
        Window.partitionBy(shard_col)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(count_col).over(w), F.lit(0)).cast("long")
    # last token offset; an (anomalous) empty doc occupies its start chunk
    end = (start + F.greatest(F.col(count_col), F.lit(1)) - 1).cast("long")
    out = (
        df.withColumn("start_off", start)
        .withColumn("chunk_first", F.floor(F.col("start_off") / ctx_len))
        .withColumn("chunk_last", F.floor(end / ctx_len))
    )
    return out.select(
        F.col("doc_id"),
        F.col(shard_col).alias("shard"),
        "start_off",
        "chunk_first",
        "chunk_last",
        (F.col("chunk_last") - F.col("chunk_first") + 1).alias("n_chunks"),
    )


def chunk_sliding(df: DataFrame, window: int, stride: int, min_len: int = 1) -> DataFrame:
    """Sliding-window token chunking with overlap (the long-document
    alternative to concat-and-chunk packing: each document is cut into
    ``window``-token chunks every ``stride`` tokens, so consecutive chunks
    overlap by ``window - stride`` tokens — the standard way to train on
    documents longer than the context without losing cross-boundary spans).

    Rows out: ``(id, chunk_id, chunk_start, chunk array<int>, n_chunk_tok)``
    with ``chunk_start`` 1-based; starts are 1, 1+stride, … while they land
    inside the document; chunks are truncated at the document end, and a
    start is emitted only if its chunk carries ≥ ``min_len`` tokens.
    Documents shorter than ``min_len`` emit nothing.

    Scale shape: ZERO shuffle — one generate+explode projection per row; the
    output is a pure function of each row alone, so it pipelines inside the
    scan stage at any corpus size. No Python, no window function.
    """
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    toks = F.col("tokens")
    if min_len > window:
        raise ValueError("min_len > window would reject every chunk")
    # the stride grid 1, 1+S, … capped at len enumerates every chunk start;
    # a start survives iff its (possibly truncated) chunk carries >= min_len —
    # the chunk length is min(window, remaining), not the remaining alone
    # (ADVICE r4: remaining >= min_len let full-window chunks through even
    # when they carried < min_len, a case now excluded by the guard above).
    starts = F.when(
        F.size(toks) >= 1,
        F.filter(
            F.sequence(F.lit(1), F.size(toks), F.lit(stride)),
            lambda s: F.least(F.lit(window), F.size(toks) - s + 1) >= F.lit(min_len),
        ),
    ).otherwise(F.array().cast("array<int>"))
    out = df.select(
        F.col("doc_id"),
        F.posexplode(starts).alias("chunk_id", "chunk_start"),
        toks.alias("_t"),
    )
    return out.select(
        "doc_id",
        "chunk_id",
        "chunk_start",
        F.slice(F.col("_t"), F.col("chunk_start"), window).alias("chunk"),
        F.least(
            F.lit(window), F.size(F.col("_t")) - F.col("chunk_start") + 1
        ).alias("n_chunk_tok"),
    )
