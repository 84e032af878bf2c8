"""Structured Streaming mode of the pipeline.

The reference is a continuous agent: file tailing → process → batched flush
with size/age triggers (core/collection_pipeline/batch/FlushStrategy.h:31-104)
and late-data drop via discard intervals. The Spark-native equivalents:

* file tailing          → ``readStream`` file source (new files per trigger;
                          the InputFile/EventDispatcher analog)
* processor chain       → IDENTICAL stateless transformations as batch —
                          ``build_pipeline`` is reused verbatim
* Batcher/FlushStrategy → trigger intervals + sink file sizing
* exactly-once + resume → streaming checkpoint (file-source offsets) plus a
                          per-batch ledger file as commit marker — a restarted
                          query replays only an uncommitted batch, and the
                          replay neither duplicates nor loses rows; the
                          streaming twin of checkpoint.py's batch resume
* discard-old-events    → ``withWatermark`` on event_time for windowed aggs

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
from pyspark.sql import functions as F

from ..plans.pipeline import ParserSpec, build_pipeline
from ..operators.route import RouteRule
from ..schema import SEQUENCE_SCHEMA
from ..sources.io import sink_writer, write_staged


def stream_sequences(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    r = spark.readStream.schema(SEQUENCE_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(input_dir)


def stream_sequences_rate(
    spark: SparkSession,
    rows_per_second: int = 1000,
    pool_size: int = 1000,
    seed: int = 42,
) -> DataFrame:
    """Non-file streaming source adapter (SURVEY §2.1's push/pull input row):
    Spark's built-in ``rate`` source drives the pipeline the way a kafka/http
    input drives the reference agent — an unbounded row stream with no files
    involved.  Each tick joins (stream-static broadcast, no shuffle) against a
    deterministic pool of ``synth.gen_rows`` sequences, so the content is the
    SAME parseable nginx/apsara/json/delimiter/kv mix as the batch corpus and
    the token-array invariant stays checkable: row ``value`` carries the pool
    index, doc_id is re-derived from ``value``.

    Swapping in a real kafka topic is the same wiring with
    ``readStream.format("kafka")`` + ``from_json``/decode in place of the pool
    join — the downstream pipeline is identical (stateless projections).
    """
    from ..synth import gen_rows

    pool = spark.createDataFrame(
        [(i, d, t, n, s) for i, (d, t, n, s) in enumerate(gen_rows(pool_size, seed))],
        "idx long, pool_doc_id string, tokens array<int>, n_tok int, source string",
    )
    rate = (
        spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    )
    return (
        rate.join(F.broadcast(pool), (rate["value"] % pool_size) == pool["idx"])
        .select(
            F.concat(F.lit("doc-"), F.lpad(F.col("value").cast("string"), 12, "0")).alias(
                "doc_id"
            ),
            "tokens",
            "n_tok",
            "source",
        )
    )


KAFKA_SOURCE_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset bigint, "
    "timestamp timestamp, timestampType int"
)


def decode_kafka_sequences(raw: DataFrame) -> DataFrame:
    """Kafka-record → sequence-row decoder (plugins/input/kafka — the
    reference's most common external source; its ConsumerGroup feeds raw
    value bytes into the same processor chain as file input).

    Works on ANY DataFrame carrying Spark's kafka source schema (key/value
    binary + topic/partition/offset/timestamp) — batch or streaming — so the
    decode contract is testable without a broker. The value payload is the
    JSON envelope a tokenizer service publishes
    (``{"doc_id":…, "tokens":[…], "n_tok":…, "source":…}``); rows whose
    payload fails to decode or misses doc_id/tokens are DROPPED (the
    reference's kafka input logs-and-skips undecodable messages). ``n_tok``
    is re-derived from the array when absent. Pure ``from_json`` projection —
    no shuffle, no Python; at scale parallelism is the topic's partition
    count, exactly like the reference's one-consumer-per-partition model.
    """
    payload = F.from_json(
        F.col("value").cast("string"),
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    return (
        raw.select(
            payload["doc_id"].alias("doc_id"),
            payload["tokens"].alias("tokens"),
            F.coalesce(payload["n_tok"], F.size(payload["tokens"])).alias("n_tok"),
            F.coalesce(payload["source"], F.lit("kafka")).alias("source"),
        )
        .filter(F.col("doc_id").isNotNull() & F.col("tokens").isNotNull())
    )


def stream_sequences_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Non-file streaming source #2: a real kafka topic behind the same
    sequence-schema seam as ``stream_sequences``/``stream_sequences_rate`` —
    the downstream pipeline (decode → parse → route → fan-out) is identical
    stateless projections. Offsets ride Spark's streaming checkpoint (the
    ConsumerGroup-offset-commit analog): a batch that failed before its offset
    commit is replayed over the same offset range under the same batch id, and
    ``start_fanout``'s ledger file decides whether it already committed — so
    the fan-out stays exactly-once across a restart.

    NOTE: needs the spark-sql-kafka package on the classpath and a reachable
    broker — neither exists in this sandbox, so this wiring is exercised only
    through ``decode_kafka_sequences`` contract tests on statically-built
    kafka-schema frames; the format-level decode and plan shape are the
    tested surface.
    """
    r = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger:
        r = r.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    return decode_kafka_sequences(r.load())


def stream_pipeline(
    spark: SparkSession,
    input_dir: str,
    parsers: dict[str, ParserSpec] | None = None,
    routes: list[RouteRule] | None = None,
    **kwargs,
) -> DataFrame:
    """The batch pipeline, streaming: decode → parse → route on a readStream.
    All pipeline stages are stateless projections/filters, so the SAME plan
    builder works unchanged on an unbounded input."""
    return build_pipeline(stream_sequences(spark, input_dir), parsers, routes, **kwargs)


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


def windowed_counts(
    routed: DataFrame,
    window: str = "5 minutes",
    watermark: str = "1 hour",
    time_col: str = "event_time",
) -> DataFrame:
    """Event-time windowed per-sink counts with late-data handling.

    The watermark is the principled version of the reference's
    ilogtail_discard_interval drop (ProcessorParseApsaraNative.cpp:173-199):
    events later than the watermark are dropped from their window instead of
    corrupting closed aggregates. Rows without a parsed event time fall back
    to the ingest clock."""
    with_ts = routed.withColumn(
        "_wts", F.coalesce(F.col(time_col), F.current_timestamp())
    ).withWatermark("_wts", watermark)
    return with_ts.groupBy(F.window("_wts", window).alias("w"), F.col("route")).agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("n_tok").alias("n_tok_sum")
    )


def session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    key: str = "user_id",
    time_col: str = "ts",
) -> DataFrame:
    """Streaming sessionization: per-key activity sessions that close after
    ``gap`` of inactivity (``F.session_window`` — Spark merges overlapping
    windows statefully; the watermark bounds the state exactly like the
    windowed counts). The streaming twin of the batch ``events_sessions``
    query (gap sessionization via a lag/cumsum window), so a pipeline can
    move between the two modes with the same session semantics.

    Rows: (session_start, session_end, key, n_events) — append mode emits a
    session only once its window can no longer grow (watermark passed)."""
    with_ts = events.withWatermark(time_col, watermark)
    agg = with_ts.groupBy(
        F.session_window(F.col(time_col), gap).alias("w"), F.col(key)
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return agg.select(
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        key,
        "n_events",
    )


def start_windowed_counts(
    routed: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "5 minutes",
    watermark: str = "1 hour",
    available_now: bool = False,
):
    agg = windowed_counts(routed, window, watermark)
    flat = agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "route",
        "n_rows",
        "n_tok_sum",
    )
    w = (
        flat.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    w = w.trigger(availableNow=True) if available_now else w.trigger(processingTime="10 seconds")
    return w.start()


def windowed_cms(
    events: DataFrame,
    item_col: str = "user_id",
    window: str = "5 minutes",
    watermark: str = "1 hour",
    time_col: str = "ts",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Streaming Count-Min sketch per event-time window: the frequency twin
    of ``windowed_counts`` in FIXED state — the aggregation state per window
    is at most depth×width cells no matter the item cardinality, so a
    high-cardinality key (user ids, URLs) never grows streaming state
    unboundedly the way a per-item windowed count does.

    Rows out (append mode, once the watermark closes the window):
    ``(window_start, window_end, r, col, c)`` — per-window sketch cells,
    mergeable across windows by cell addition (CMS linearity), point-queried
    with ``operators.sketch.cms_estimate`` on any window or any SUM of
    windows. Identical md5 cell math to the batch sketch, so a batch replay
    of the same data produces byte-identical cells (pytest-verified).
    """
    from ..operators.sketch import _cms_cells

    with_ts = events.withWatermark(time_col, watermark)
    fan = with_ts.select(
        F.col(time_col).alias("_wts"),
        F.explode(_cms_cells(F.col(item_col).cast("string"), depth, width)).alias("_cell"),
    )
    agg = fan.groupBy(
        F.window("_wts", window).alias("w"),
        F.col("_cell.r").alias("r"),
        F.col("_cell.col").alias("col"),
    ).agg(F.count(F.lit(1)).alias("c"))
    return agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "r",
        "col",
        "c",
    )


def windowed_topk_stream(
    events: DataFrame,
    item_col: str = "user_id",
    window_sec: int = 300,
    k: int = 5,
    capacity: int | None = None,
    time_col: str = "ts",
) -> DataFrame:
    """Streaming heavy hitters per event-time window in BOUNDED state — the
    identity-carrying companion of ``windowed_cms`` (the sketch bounds state
    but can only answer point queries; top-k needs candidate identities,
    which a naive per-(window, item) count keeps in O(distinct) state rows).

    SpaceSaving (Metwally et al. 2005) summary per window via
    ``applyInPandasWithState`` keyed by the window start: at most
    ``capacity`` (default 10·k) counters — when a new item arrives at a full
    summary it REPLACES the minimum counter and inherits its count (the
    classic admit-with-error rule), so per-window state is O(capacity)
    regardless of item cardinality, and any item with true count >
    N/capacity is guaranteed present. When the number of distinct items in a
    window never exceeds capacity the summary is EXACT (pytest asserts
    parity with the batch exact top-k on such a fixture).

    Rows out (append, on window close via event-time timeout):
    ``(window_start, item, est_count, max_err, rk)`` — est_count
    overestimates by ≤ max_err (the inherited count at admission).
    """
    from typing import Any, Iterator

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    cap = capacity or 10 * k
    out_schema = T.StructType(
        [
            T.StructField("window_start", T.TimestampType()),
            T.StructField("item", T.StringType()),
            T.StructField("est_count", T.LongType()),
            T.StructField("max_err", T.LongType()),
            T.StructField("rk", T.IntegerType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("items", T.ArrayType(T.StringType())),
            T.StructField("counts", T.ArrayType(T.LongType())),
            T.StructField("errs", T.ArrayType(T.LongType())),
        ]
    )

    def _summarize(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (wstart,) = key
        if state.hasTimedOut:
            items, counts, errs = state.get if state.exists else ([], [], [])
            top = sorted(zip(items, counts, errs), key=lambda t: (-t[1], t[0]))[:k]
            state.remove()
            if top:
                yield pd.DataFrame(
                    {
                        "window_start": [wstart] * len(top),
                        "item": [t[0] for t in top],
                        "est_count": [t[1] for t in top],
                        "max_err": [t[2] for t in top],
                        "rk": list(range(1, len(top) + 1)),
                    }
                )
            return
        if state.exists:
            items, counts, errs = state.get
            summary = {it: [c, e] for it, c, e in zip(items, counts, errs)}
        else:
            summary = {}
        # UTC epoch of the window start, computed JVM-side (`cast(_w as long)`)
        # so the timeout is immune to the Python worker's OS timezone —
        # wstart itself is a naive datetime rendered in the SESSION timezone,
        # and datetime.timestamp() would interpret it in the OS timezone
        # (8h off under session=UTC on a UTC+8 host).
        w_epoch: int | None = None
        for pdf in pdfs:
            if w_epoch is None and len(pdf):
                w_epoch = int(pdf["_w_epoch"].iloc[0])
            for it, n in pdf["_item"].value_counts().items():
                n = int(n)
                if it in summary:
                    summary[it][0] += n
                elif len(summary) < cap:
                    summary[it] = [n, 0]
                else:
                    # SpaceSaving eviction: replace the min counter (ties ->
                    # lexicographically smallest item for determinism)
                    evict = min(summary.items(), key=lambda kv: (kv[1][0], kv[0]))
                    mc = evict[1][0]
                    del summary[evict[0]]
                    summary[it] = [mc + n, mc]
        state.update(
            (
                list(summary.keys()),
                [v[0] for v in summary.values()],
                [v[1] for v in summary.values()],
            )
        )
        # close the summary once the watermark passes the window end
        if w_epoch is None:  # no rows this invocation: OS-tz fallback
            w_epoch = int(wstart.timestamp())
        state.setTimeoutTimestamp(w_epoch * 1000 + window_sec * 1000)
        return
        yield  # pragma: no cover — generator protocol

    bucketed = (
        # NULL items are excluded EXPLICITLY (and identically in the batch
        # twin): pandas value_counts silently drops NaN, so without the
        # filter the streaming summary ignored null keys while the batch
        # twin ranked the null group — a one-sided divergence that broke the
        # documented exact-parity contract on null-keyed corpora.
        events.filter(F.col(item_col).isNotNull())
        .withWatermark(time_col, f"{window_sec} seconds")
        .select(
            F.window(F.col(time_col), f"{window_sec} seconds")["start"].alias("_w"),
            F.col(item_col).cast("string").alias("_item"),
            # the watermarked event-time column must flow into the stateful
            # operator for EventTimeTimeout to resolve
            F.col(time_col),
        )
        # UTC epoch seconds of the window start, cast JVM-side (timezone-
        # independent) — the worker uses this for setTimeoutTimestamp
        .withColumn("_w_epoch", F.col("_w").cast("long"))
    )
    return bucketed.groupBy("_w").applyInPandasWithState(
        _summarize, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def spacesaving_topk_batch(
    df: DataFrame,
    item_col: str = "user_id",
    window_sec: int = 300,
    k: int = 5,
    time_col: str = "ts",
) -> DataFrame:
    """Batch twin of windowed_topk_stream for parity tests: EXACT per-window
    top-k (count desc, item asc) — equals the streaming SpaceSaving output
    whenever distinct items per window ≤ capacity. NULL items are excluded,
    matching the streaming twin's explicit null policy."""
    from pyspark.sql.window import Window as W

    counts = (
        df.filter(F.col(item_col).isNotNull())
        .select(
            F.window(F.col(time_col), f"{window_sec} seconds")["start"].alias("window_start"),
            F.col(item_col).cast("string").alias("item"),
        )
        .groupBy("window_start", "item")
        .agg(F.count(F.lit(1)).alias("est_count"))
    )
    w = W.partitionBy("window_start").orderBy(F.col("est_count").desc(), "item")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("window_start", "item", "est_count", F.lit(0).cast("long").alias("max_err"), "rk")
    )
