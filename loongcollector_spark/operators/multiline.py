"""Multiline merge — processor_merge_multiline_log_native /
processor_split_multiline_log_string_native
(core/plugin/processor/inner/ProcessorMergeMultilineLogNative.cpp:161,
core/plugin/processor/inner/ProcessorSplitMultilineLogStringNative.cpp:127).

The reference stitches continuation lines into one event using Start /
Continue / End regexes over the file order. Spark-native formulation:
**sessionization by running count of start-matches** over the
``(stream_id, line_no)`` order:

    event_seq = sum(is_start) over (partition by stream_id order by line_no)

then one ``groupBy (stream_id, event_seq)`` concatenates the member lines in
order. One window pass + one aggregation — both shuffle on ``stream_id``, so a
stream's lines co-locate and the operator scales with the number of streams
(the reference is bounded by one file handle per stream the same way).

Unmatched-leader handling mirrors ``UnmatchedContentTreatment``
(ProcessorSplitMultilineLogStringNative.h:68-79): lines before the first start
match form event_seq 0 — ``unmatched='discard'`` drops them, ``'single_line'``
keeps them as one-line events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def merge_multiline(
    df: DataFrame,
    start_pattern: str,
    unmatched: str = "single_line",  # single_line | discard
    joiner: str = "\n",
) -> DataFrame:
    """Merge continuation lines into events. Returns
    ``(stream_id, event_seq, line_no, content, n_lines)`` — ``line_no`` is the
    leader's line number, ``content`` the joined event text."""
    is_start = F.col("content").rlike(start_pattern)
    w = Window.partitionBy("stream_id").orderBy("line_no")
    seq = F.sum(F.when(is_start, 1).otherwise(0)).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    tagged = df.withColumn("_evt", seq)
    if unmatched == "discard":
        tagged = tagged.filter(F.col("_evt") > 0)
    else:
        # single_line: each line BEFORE the first start match is its own event
        # (UnmatchedContentTreatment::SINGLE_LINE) — key those by line number
        tagged = tagged.withColumn(
            "_solo", F.when(F.col("_evt") == 0, F.col("line_no")).otherwise(F.lit(None))
        )
    group_keys = ["stream_id", "_evt"] + (["_solo"] if unmatched != "discard" else [])
    merged = (
        tagged.groupBy(*group_keys)
        .agg(
            F.min("line_no").alias("line_no"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("line_no").alias("o"), F.col("content").alias("c")))
                    ),
                    lambda s: s["c"],
                ),
                joiner,
            ).alias("content"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .withColumnRenamed("_evt", "event_seq")
    )
    return merged.drop("_solo")


def split_log_regex(
    df: DataFrame,
    split_regex: str,
    joiner: str = "\n",
) -> DataFrame:
    """processor_split_log_regex (plugins/processor/split/logregex/
    split_log_regex.go:57-125): split a multi-line blob into events — a line
    FULL-matching SplitRegex starts a new event, following non-matching lines
    attach to it, and any leading unmatched lines form one event of their own
    (the Go scanner flushes everything before the first matching line as a
    single chunk).

    Spark formulation: explode lines per input row, running count of
    full-matches = event id, group back — all per-row (no cross-row shuffle:
    the window partitions on a per-input-row id). Returns the other input
    columns plus ``(event_seq, content, n_lines)``."""
    anchored = split_regex
    if not anchored.startswith("^"):
        anchored = "^(?:" + anchored + ")"
    if not anchored.endswith("$"):
        anchored = anchored + "$"
    rid = F.monotonically_increasing_id()
    lines = F.split(F.col("content"), "\n", -1)
    others = [c for c in df.columns if c != "content"]
    exploded = (
        df.withColumn("__rid", rid)
        .select(
            "__rid",
            *others,
            F.posexplode(lines).alias("__ln", "__line"),
        )
    )
    is_start = F.col("__line").rlike(anchored)
    w = Window.partitionBy("__rid").orderBy("__ln")
    seq = F.sum(F.when(is_start, 1).otherwise(0)).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    # leading unmatched lines keep seq 0 → ONE chunk of their own
    # (split_log_regex.go:64-70 flushes everything before the first matching
    # line as a single event, unlike merge_multiline's single_line mode)
    tagged = exploded.withColumn("__evt", seq)
    return (
        tagged.groupBy("__rid", *others, "__evt")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("__ln").alias("o"), F.col("__line").alias("c")))
                    ),
                    lambda s: s["c"],
                ),
                joiner,
            ).alias("content"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .withColumnRenamed("__evt", "event_seq")
        .drop("__rid")
    )
