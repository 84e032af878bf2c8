"""Container stdout/stderr log parsing — processor_parse_container_log_native
(core/plugin/processor/inner/ProcessorParseContainerLogNative.cpp; header
`.h:31-56` DockerLogType Log/Stream/Time; unit corner cases in
core/unittest/processor/ProcessorParseContainerLogNativeUnittest.cpp) — the
reference's highest-traffic inner parser for any k8s deployment, re-expressed
as TWO pure-Catalyst projections plus the flag-based partial-line stitch of
ProcessorMergeMultilineLogNative::MergeLogsByFlag
(inner/ProcessorMergeMultilineLogNative.cpp:113-158).

Reference semantics preserved:

* **containerd CRI text** (`LOG_FORMAT == CONTAINERD_TEXT`,
  ProcessorParseContainerLogNative.cpp:180-257): a line is
  ``time SP stream SP [P|F SP] content``.
    - no first/second space → parse failure;
    - stream must be exactly ``stdout``/``stderr`` else failure;
    - the char after the second space is a tag only when it is ``P``/``F``
      AND the *third* space sits immediately after it (``pch3 == pch2+2``) —
      otherwise the tag chars belong to the content (covers the
      ``… stdout P`` end-of-line and ``… stdout PP 1`` corner cases from the
      reference unit tests);
    - ``P`` marks a partial line (reference sets the ``P`` flag field and
      group metadata HAS_PART_LOG → here a boolean ``is_partial`` column).
* **docker JSON-file** (`DOCKER_JSON_FILE`, ParseDockerLog,
  `.cpp:360-462`): the line must be one JSON object whose key set is exactly
  ``{log, stream, time}`` (the reference's hand parser requires 3 pairs of
  those names and string values); stream validated as stdout/stderr; ONE
  trailing ``\\n`` of the log value is stripped (`.cpp:516-519`). JSON escape
  decoding is delegated to ``from_json`` — standard escapes incl. ``\\uXXXX``
  agree with the reference's parseValue; the outer shape check
  (``buffer[0]=='{' && buffer[size-1]=='}'``, `.cpp:362-364`) is replicated
  exactly, so leading whitespace / trailing bytes fail here too. Remaining
  acceptance-region divergences, all unreachable on docker-produced lines
  (Go json.Marshal emits exactly one object with the three keys, escapes only
  inside the log string): the reference passes INVALID escape pairs through
  verbatim and REJECTS valid escapes in stream/time values
  (parseValue `.cpp:305-308` fails on ``\\`` unless logType==Log) where
  from_json decodes both; the reference tolerates the three pairs with
  duplicate/missing names (a missing time parses with time="") where the
  exact-key-set check here fails; and a crafted ``{…} …}`` line whose tail
  still ends in ``}`` passes from_json's leading-object parse but fails the
  reference's idx==size-1 check.
* **failure policy**: ``keeping_source=True`` (reference default
  KeepingSourceWhenParseFail) keeps the row with the RAW line as content and
  null ``_time_``/``_source_``; False drops it. ``ignoring_stdout`` /
  ``ignoring_stderr`` drop matching rows AFTER stream validation, exactly as
  the reference (`.cpp:219-233,494-505`).
* output field names ``_time_``/``_source_``/``content`` are the reference's
  containerTimeKey/containerSourceKey/containerLogKey constants.

Scale shape: both parsers are a single whole-stage-codegen projection + one
filter — zero shuffle, pipelined inside the scan at any corpus size. The
partial-line stitch is the only shuffling member (one window + one hash agg,
both keyed by the container stream, mirroring the reference's one-file-handle
-per-stream boundedness).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

CONTAINERD_TEXT = "containerd"
DOCKER_JSON_FILE = "docker_json"


def _containerd_cols(c: Column) -> dict[str, Column]:
    """Decompose one CRI line following the reference's three-delimiter scan
    (find 1st/2nd space, conditional single-char tag before an immediate 3rd
    space). All `locate` positions are 1-based; 0 = absent."""
    def _next_space(after: Column) -> Column:
        # 1-based absolute position of the first space strictly after `after`
        # (0 = none): instr on the remaining suffix, rebased.
        rel = F.instr(c.substr(after + 1, F.length(c)), " ")
        return F.when(rel > 0, after + rel).otherwise(F.lit(0))

    p1 = F.instr(c, " ")
    p2 = F.when(p1 > 0, _next_space(p1)).otherwise(F.lit(0))
    time_v = c.substr(F.lit(1), p1 - 1)
    src_v = c.substr(p1 + 1, p2 - p1 - 1)
    struct_ok = (p1 > 0) & (p2 > 0)
    src_ok = struct_ok & src_v.isin("stdout", "stderr")
    tag = c.substr(p2 + 1, F.lit(1))
    p3 = F.when(p2 > 0, _next_space(p2)).otherwise(F.lit(0))
    valid_tag = tag.isin("P", "F") & (p3 == p2 + 2)
    content = F.when(valid_tag, c.substr(p3 + 1, F.length(c) - p3)).otherwise(
        c.substr(p2 + 1, F.length(c) - p2)
    )
    return {
        "ok": src_ok,
        "time": time_v,
        "source": src_v,
        "content": content,
        "partial": valid_tag & (tag == "P"),
    }


def _docker_json_cols(c: Column) -> dict[str, Column]:
    """Decompose one docker JSON-file line. One ``from_json`` to
    map<string,string>; the exact-key-set check mirrors the reference's
    requirement of exactly the log/stream/time pairs."""
    m = F.from_json(c, "map<string,string>")
    # the reference's OUTER shape check (`buffer[0]=='{' && buffer[size-1]=='}'`,
    # .cpp:362-364): leading whitespace or trailing bytes after the object fail
    # the line — from_json alone is laxer on both (skips leading ws, ignores a
    # trailing tail), caught by the seeded differential in
    # tests/test_differential_container.py
    shape_ok = c.startswith("{") & c.endswith("}")
    keys_ok = m.isNotNull() & (
        F.array_sort(F.map_keys(m)) == F.array(F.lit("log"), F.lit("stream"), F.lit("time"))
    )
    # the reference's hand parser requires every value QUOTED (`"log":1` is a
    # parse failure) while from_json coerces scalars to string — reject
    # unquoted values structurally (each key must be followed by `:"`).
    quoted_ok = (
        c.rlike(r'"log"\s*:\s*"')
        & c.rlike(r'"stream"\s*:\s*"')
        & c.rlike(r'"time"\s*:\s*"')
    )
    log_v = F.try_element_at(m, F.lit("log"))
    stream_v = F.try_element_at(m, F.lit("stream"))
    time_v = F.try_element_at(m, F.lit("time"))
    ok = (
        shape_ok
        & keys_ok
        & quoted_ok
        & stream_v.isin("stdout", "stderr")
        & log_v.isNotNull()
        & time_v.isNotNull()
    )
    stripped = F.when(
        log_v.endswith("\n"), F.substring(log_v, F.lit(1), F.length(log_v) - 1)
    ).otherwise(log_v)
    return {
        "ok": ok,
        "time": time_v,
        "source": stream_v,
        "content": stripped,
        "partial": F.lit(False),
    }


def parse_container_log(
    df: DataFrame,
    fmt: str = CONTAINERD_TEXT,
    ignoring_stdout: bool = False,
    ignoring_stderr: bool = False,
    keeping_source: bool = True,
) -> DataFrame:
    """Parse raw container runtime stdout lines. Adds ``_time_``,
    ``_source_``, ``is_partial``, ``parse_ok`` and REPLACES ``content``
    with the extracted payload (raw line kept on failure when
    ``keeping_source``); drops ignored-stream rows and, when
    ``keeping_source=False``, failed rows. All other columns pass through."""
    if fmt not in (CONTAINERD_TEXT, DOCKER_JSON_FILE):
        raise ValueError(f"fmt must be {CONTAINERD_TEXT!r} or {DOCKER_JSON_FILE!r}")
    c = F.col("content")
    d = _containerd_cols(c) if fmt == CONTAINERD_TEXT else _docker_json_cols(c)
    keep = [col for col in df.columns if col != "content"]
    clash = sorted(set(keep) & {"_time_", "_source_", "is_partial", "parse_ok"})
    if clash:
        raise ValueError(
            f"parse_container_log: input column(s) {clash} collide with the "
            "parser's output columns (_time_, _source_, is_partial, parse_ok) — "
            "rename or drop them first; a silent duplicate column fails far "
            "downstream with AMBIGUOUS_REFERENCE"
        )
    out = df.select(
        *keep,
        F.when(d["ok"], d["time"]).alias("_time_"),
        F.when(d["ok"], d["source"]).alias("_source_"),
        F.when(d["ok"], d["content"]).otherwise(c).alias("content"),
        F.coalesce(d["ok"] & d["partial"], F.lit(False)).alias("is_partial"),
        F.coalesce(d["ok"], F.lit(False)).alias("parse_ok"),
    )
    if ignoring_stdout:
        out = out.filter(F.coalesce(F.col("_source_") != "stdout", F.lit(True)))
    if ignoring_stderr:
        out = out.filter(F.coalesce(F.col("_source_") != "stderr", F.lit(True)))
    if not keeping_source:
        out = out.filter(F.col("parse_ok"))
    return out


def merge_container_partials(
    df: DataFrame,
    stream_col: str = "stream_id",
    order_col: str = "line_no",
) -> DataFrame:
    """Stitch ``P``-flagged partial lines — MergeLogsByFlag
    (ProcessorMergeMultilineLogNative.cpp:113-158): a run of consecutive
    partial rows merges with the first following non-partial row into one
    event (contents concatenated with NO separator — partials are raw 16KB
    runtime splits mid-line); a trailing unfinished run still flushes as one
    event; non-partial rows alone pass through.

    Segmentation is the running count of PRECEDING event-enders: rows sharing
    that count form one event — the same one-window + one-agg shape as
    merge_multiline, shuffling only on the container stream key.

    Returns ``(stream, event_seq, line_no, <carried columns>, content,
    n_parts, complete)`` — ``line_no`` and every other input column (e.g.
    ``_time_``/``_source_`` from ``parse_container_log``) come from the FIRST
    row of the event (the reference merges into the leading event, which
    keeps its timestamp and stream metadata), ``complete`` is False for a
    flushed trailing partial run."""
    w = Window.partitionBy(stream_col).orderBy(order_col)
    ender = F.when(~F.col("is_partial"), 1).otherwise(0)
    seq = F.coalesce(
        F.sum(ender).over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    tagged = df.withColumn("_evt", seq)
    carry = [
        f.name
        for f in df.schema.fields
        if f.name not in (stream_col, order_col, "content", "is_partial")
    ]
    return (
        tagged.groupBy(stream_col, "_evt")
        .agg(
            F.min(order_col).alias(order_col),
            *[F.min_by(F.col(c), F.col(order_col)).alias(c) for c in carry],
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col(order_col).alias("o"), F.col("content").alias("c"))
                        )
                    ),
                    lambda s: s["c"],
                ),
                "",
            ).alias("content"),
            F.count(F.lit(1)).alias("n_parts"),
            F.max(~F.col("is_partial")).alias("complete"),
        )
        .withColumnRenamed("_evt", "event_seq")
    )
