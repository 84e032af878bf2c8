"""Aggregation operators (SURVEY.md §2.5).

The reference's aggregators are batching group-bys; numeric aggregation happens
via SPL ``stats``. Here both map to native ``groupBy().agg()``:

* ``content_value_group`` — aggregator_content_value_group
  (plugins/aggregator/contentvaluegroup/aggregator_content_value_group.go:94-160)
* ``shard_hash``          — aggregator_shardhash md5-bucket sharding
  (plugins/aggregator/shardhash/aggregator_shardhash.go:164-204); this is our
  explicit shuffle/skew control and the write-affinity repartition.
* ``salted_repartition``  — the north-rule salted (source, hash(doc_id))
  repartition defusing source skew: one hot source spreads over S salts.
* ``sink_counts``         — per-sink aggregate counts (the agent's
  self-monitor counters, core/monitor/metric_constants/MetricConstants.h:75,169).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def content_value_group(df: DataFrame, group_keys: list[str]) -> DataFrame:
    """Group events by field values; emit per-group event count + token bytes.

    Keys resolve against promoted columns first, else the fields map — promoted
    keys let Catalyst push the shuffle key into the scan.
    """
    keys = [
        (F.col(k) if k in df.columns else F.col("fields")[k]).alias(k) for k in group_keys
    ]
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("n_tok").alias("n_tok_sum")
    )


def shard_hash(
    df: DataFrame,
    source_keys: list[str],
    shard_count: int,
) -> DataFrame:
    """md5-bucket rows into ``shard_count`` (power of 2) shards on the
    ``_``-joined source key values; emits the shard id and repartitions on it so co-located
    rows land in the same output file (sink shard affinity)."""
    assert shard_count & (shard_count - 1) == 0, "shard_count must be a power of 2"
    concat = F.concat_ws("_", *[F.col(k).cast("string") for k in source_keys])
    # top bits of md5 → shard, mirroring aggregator_shardhash.go:164-204
    shard = (F.conv(F.substring(F.md5(concat.cast("binary")), 1, 8), 16, 10).cast("long") % shard_count).cast("int")
    out = df.withColumn("__shardhash__", shard)
    return out.repartition(shard_count, F.col("__shardhash__"))


def salted_repartition(df: DataFrame, num_partitions: int, source_col: str = "source") -> DataFrame:
    """Salted (source, xxhash64(doc_id) % 64) repartition.

    A single hot source (the synth makes one ~70% of rows) would otherwise hash
    to one shuffle partition; the salt spreads it over 64 buckets while
    keeping co-location per (source, salt) for downstream per-source writes.
    """
    salt = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(64))
    return df.repartition(num_partitions, F.col(source_col), salt)


def sink_counts(routed: DataFrame) -> DataFrame:
    """Per-sink aggregate counts: rows + token sum (the per-sink
    OUT_SUCCESSFUL_EVENTS_TOTAL counters)."""
    return routed.groupBy("route").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("n_tok").alias("n_tok_sum")
    )


def metadata_group(
    df: DataFrame,
    group_keys: list[str],
    max_group_events: int = 1024,
    order_col: str | None = None,
) -> DataFrame:
    """aggregator_metadata_group (plugins/aggregator/metadatagroup/
    aggregator_metadata_group.go:48-120,203-240): regroup events by selected
    metadata keys into batches capped at GroupMaxEventLength.

    Keys resolve against promoted columns first, else the ``tags`` map. Each
    event is tagged with its batch index (row_number within the metadata
    group ÷ cap) — one window shuffle on the group keys; a sink then writes
    one object per (metadata, batch). The byte-cap variant
    (GroupMaxByteLength) maps to sources/io.py file sizing, declared there."""
    from pyspark.sql.window import Window

    keys = [
        (F.col(k) if k in df.columns else F.col("tags")[k]).alias(f"__mg_{k}")
        for k in group_keys
    ]
    tagged = df.select("*", *keys)
    order = [order_col] if order_col else [F.monotonically_increasing_id()]
    w = Window.partitionBy(*[f"__mg_{k}" for k in group_keys]).orderBy(*order)
    seq = F.row_number().over(w)
    return tagged.withColumn(
        "__group_seq__", F.floor((seq - F.lit(1)) / F.lit(max_group_events)).cast("long")
    )


def metadata_group_counts(
    df: DataFrame,
    group_keys: list[str],
    max_group_events: int = 1024,
    order_col: str | None = None,
) -> DataFrame:
    """Per-(metadata, batch) sizes — the observable contract of
    aggregator_metadata_group for the correctness gate."""
    g = metadata_group(df, group_keys, max_group_events, order_col)
    return (
        g.groupBy(*[F.col(f"__mg_{k}").alias(k) for k in group_keys], "__group_seq__")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumnRenamed("__group_seq__", "group_seq")
    )


def batch_cuts(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str = "ts",
    order_col: str = "event_id",
    min_cnt: int = 1024,
) -> DataFrame:
    """Batcher / FlushStrategy batch-cut ids — the SLS specialization of
    ``EventFlushStrategy::NeedFlushByTime`` cuts a batch whenever the incoming
    event's minute differs from the batch's creation minute
    (``core/collection_pipeline/batch/FlushStrategy.h:88-104``:
    ``status.GetCreateTimeMinute() != e->GetTimestamp() / 60``), and
    ``NeedFlushByCnt`` cuts at ``mMinCnt`` events (``:52``).  The wall-clock
    timeout rule is agent liveness, not data semantics — out of scope (same
    stance as SURVEY §8.4).

    Deterministic batch identity per event: within each (group, event-minute)
    in (ts, order) order, batch_seq = floor((row_number-1) / min_cnt) — i.e.
    a new batch at every minute boundary and every min_cnt events within a
    minute.  Returns one row per BATCH: (*group_cols, minute, batch_seq,
    n_events, first ts, last ts) — the per-sink batch-count fixture shape.

    Scale shape: one shuffle; the window partitions on (group, minute), so
    state is bounded by one group's events-per-minute, never the corpus.
    """
    from pyspark.sql.window import Window

    minute = F.date_trunc("minute", F.col(ts_col))
    w = Window.partitionBy(*group_cols, "_minute").orderBy(F.col(ts_col), F.col(order_col))
    rows = (
        df.withColumn("_minute", minute)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("batch_seq", ((F.col("_rn") - 1) / F.lit(min_cnt)).cast("long"))
    )
    return (
        rows.groupBy(*group_cols, F.col("_minute").alias("minute"), "batch_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
        )
    )


def context_pack(
    df: DataFrame,
    order_col: str,
    source_col: str = "source",
    max_log_count: int = 1024,
    config_name: str = "pipeline",
) -> DataFrame:
    """aggregator_context (plugins/aggregator/context/aggregator_context.go:
    30-140): per-source order preservation + ``__pack_id__`` lineage tag.

    pack_id = ``{PREFIX}-{SEQ:X}`` where PREFIX identifies the (config,
    source) stream and SEQ is the 1-based index of the ≤MaxLogCount batch in
    source order (util.NewPackIDPrefix / NewLogTagForPackID,
    pkg/util/util.go:371-385). DEVIATION: the reference salts the prefix with
    host IP + wall time; ours is md5(config + source) so reruns and the
    DuckDB oracle reproduce it — lineage must be deterministic for
    checkpoint resume.

    Order preservation: repartition by source then sortWithinPartitions on
    (source, order) — each source's events are contiguous and ordered within
    a partition, the Spark analog of the per-source LogGroup append order."""
    from pyspark.sql.window import Window

    prefix = F.upper(
        F.substring(F.md5(F.concat(F.lit(config_name + "-"), F.col(source_col)).cast("binary")), 1, 16)
    )
    w = Window.partitionBy(source_col).orderBy(order_col)
    seq = F.row_number().over(w)
    pack_seq = (F.floor((seq - F.lit(1)) / F.lit(max_log_count)) + F.lit(1)).cast("long")
    pack_id = F.concat(prefix, F.lit("-"), F.upper(F.hex(pack_seq)))
    out = df.withColumn("__pack_id__", pack_id)
    return out.repartition(F.col(source_col)).sortWithinPartitions(source_col, order_col)


def skew_probe(
    df: DataFrame,
    key_col: str = "source",
    top_k: int = 10,
    target_rows_per_task: int = 1_000_000,
) -> DataFrame:
    """Partition-skew diagnostic for a prospective shuffle key — the planning
    companion to ``salted_repartition``: BEFORE shuffling 100 TB on ``key_col``,
    measure how hot the hot keys are and how many salt buckets each needs.
    Rows (top_k, by count desc then key): (key, cnt, share_ppm = key's share
    of all rows in parts-per-million, skew_ppm = cnt / mean-key-count scaled
    ×10⁶, recommended_salts = ceil(cnt / target_rows_per_task), n_rows,
    n_keys).

    All outputs are INTEGER-exact (bigint ``div`` arithmetic, no doubles):
    ``round(x, 6)`` doubles landed on a different ULP in a second engine and
    value-hash-mismatched a cross-engine replay (CORRECTNESS_r04) even though
    the math was right — ppm integers are canonicalization-proof, the same
    lesson as hll_distinct's scaled-integer audit. (skew_ppm's intermediate
    ``cnt·n_keys·10⁶`` stays under int64 while cnt·n_keys < 9.2e12 — any
    realistic diagnostic top-k; overflow would fail loudly in ANSI mode.)

    Scale shape: ONE map-side-combined groupBy(key) count; global totals are a
    1-row aggregate of the (n_keys)-row count table, attached by broadcast
    cross-join; top-k via orderBy+limit = distributed TakeOrdered. No window,
    no corpus-wide sort."""
    counts = df.groupBy(F.col(key_col).alias("key")).agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("n_rows"), F.count(F.lit(1)).alias("n_keys")
    )
    top = counts.orderBy(F.col("cnt").desc(), "key").limit(top_k)
    t = int(target_rows_per_task)
    return (
        top.crossJoin(F.broadcast(totals))
        .select(
            "key",
            "cnt",
            F.expr("cnt * 1000000 div n_rows").alias("share_ppm"),
            F.expr("cnt * n_keys * 1000000 div n_rows").alias("skew_ppm"),
            F.expr(f"(cnt + {t - 1}) div {t}").alias("recommended_salts"),
            "n_rows",
            "n_keys",
        )
    )


ALL_LABEL = "(all)"  # a rolled-up dim's value in rollup_counts


def rollup_counts(
    df: DataFrame,
    dims: list[str],
    measure_col: str | None = None,
) -> DataFrame:
    """Multi-dimensional rollup — the hypertable-style hierarchical aggregate
    (totals at every prefix of ``dims``) the reference's aggregators compute
    level-by-level; here it is ONE ``ROLLUP`` pass Catalyst expands with a
    single Expand+HashAggregate, not |dims|+1 separate scans.  Rows: one per
    (prefix level × group): every dim coalesced to ``ALL_LABEL`` where
    aggregated, ``gid`` = grouping bitmask (Spark ``grouping_id`` == DuckDB
    ``GROUPING``), n_rows, and sum/avg of ``measure_col`` when given.

    Scale shape: Expand multiplies input by |dims|+1 BEFORE the shuffle, but
    partial aggregation collapses each level map-side, so the shuffle carries
    only |groups| rows per level — the standard cube/rollup trade, far cheaper
    than re-scanning 100 TB once per level."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if measure_col is not None:
        aggs.append(F.sum(measure_col).cast("long").alias(f"sum_{measure_col}"))
        aggs.append(F.round(F.avg(measure_col), 6).alias(f"avg_{measure_col}"))
    rolled = df.rollup(*dims).agg(F.grouping_id().alias("gid"), *aggs)
    # Label a dim ALL_LABEL only when its grouping bit says it was rolled
    # up — a genuine NULL detail value labeled '(all)' was indistinguishable
    # from the subtotal row by the dim columns alone (a consumer ignoring gid
    # double-counts). Genuine NULLs render '(null)'. Bit for dims[i] in
    # grouping_id is (len(dims)-1-i).
    def _dim(d: str, i: int) -> Column:
        rolled_up = F.shiftright(F.col("gid"), len(dims) - 1 - i).bitwiseAND(F.lit(1)) == 1
        return F.when(rolled_up, F.lit(ALL_LABEL)).otherwise(
            F.coalesce(F.col(d).cast("string"), F.lit("(null)"))
        ).alias(d)

    return rolled.select(
        *[_dim(d, i) for i, d in enumerate(dims)],
        F.col("gid").cast("long").alias("gid"),
        *[c for c in rolled.columns if c not in dims and c != "gid"],
    )


PERCENTILE_ACCURACY = 10000  # approx_percentile accuracy in percentile_panel


def percentile_panel(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    ps: tuple[float, ...] = (0.5, 0.9, 0.99),
    exact: bool = False,
) -> DataFrame:
    """Per-group latency/value percentile panel — the SLO table every log
    pipeline ends in (reference analog: the SPL ``stats`` verb's percentile
    aggregates over parsed latency fields).  Rows: one per group —
    (group..., n, min_v, max_v, p50, p90, p99...), percentiles linearly
    interpolated (type-7, what DuckDB ``quantile_cont`` computes), nulls
    ignored, round-6.

    Scale shape: the DEFAULT is ``exact=False`` — ``approx_percentile``
    keeps a bounded KLL-style sketch per group map-side: constant memory,
    one shuffle of sketches, rank error ≤ 1/``PERCENTILE_ACCURACY`` — the
    only safe default when one group may hold 10^11 values.  ``exact=True`` opts in to Spark's
    exact ``percentile``, a sort-based aggregate that buffers each group's
    FULL value set on the reducer (OOM on a hot group at scale) — reserved
    for bounded group sizes and for the oracle path, where the exact type-7
    interpolation IS what DuckDB ``quantile_cont`` computes (VERDICT r3
    perf item #4: the unsafe form must be the opt-in, not the default)."""
    v = F.col(value_col)
    aggs = [
        F.count(v).alias("n"),
        F.round(F.min(v), 6).alias("min_v"),
        F.round(F.max(v), 6).alias("max_v"),
    ]
    for p in ps:
        name = f"p{p * 100:g}".replace(".", "_")
        pct = (
            F.percentile(v, F.lit(float(p)))
            if exact
            else F.approx_percentile(v, F.lit(float(p)), F.lit(PERCENTILE_ACCURACY))
        )
        aggs.append(F.round(pct, 6).alias(name))
    return df.groupBy(*group_cols).agg(*aggs)


def time_rollup(
    df: DataFrame,
    ts_col: str,
    group_cols: list[str],
    value_col: str | None = None,
    every: str = "hour",
    decimals: int | None = None,
) -> DataFrame:
    """Time-bucketed downsample — the metrics-rollup stage after
    ``log_to_sls_metric`` (reference analog: SLS metric aggregation windows):
    truncate ``ts_col`` to a named granularity and aggregate per (bucket,
    group).  ``date_trunc`` operates on the timestamp's OWN calendar fields,
    so NTZ inputs bucket identically everywhere — no session-timezone
    dependence (an epoch-division bucketing would shift with the JVM tz).
    Rows: (bucket, group..., n_rows [, sum/avg/min/max of value_col]).

    ``decimals``: when the value column lives on a fixed decimal grid (e.g.
    2-decimal monetary metrics), pass its grid width and the sum/avg/min/max
    are computed on the exact integer grid (``round(v·10^d)`` as bigint) and
    converted back with ONE IEEE division each.  That makes every output
    bit-deterministic across engines and partition orders — a float-sum is
    order-dependent in its last ULP, and ``round(avg, 6)`` can land on an
    exact decimal half (e.g. 1391.13/32 = 43.4728125) where Spark's
    BigDecimal-HALF_UP of the full binary expansion and another engine's
    rounding disagree by one ULP of the 6th place.  Exactness bound: the
    per-group integer sum must stay under 2^53 (10^10 rows × 10^5-cent
    values ≈ 5·10^14 — comfortably inside).  ``decimals=None`` keeps the
    legacy round-to-6 float aggregation for off-grid values.

    Scale shape: one projection + one map-side-combined hash aggregate; the
    shuffle carries only |buckets × groups| pre-combined rows.  Bucket count
    grows with time span, not data volume, so the reducer side stays small
    even at 10^12 input rows; partition pruning still reaches the scan when
    the source is partitioned by date because date_trunc is applied after."""
    bucket = F.date_trunc(every, F.col(ts_col)).alias("bucket")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if value_col is not None:
        v = F.col(value_col)
        if decimals is not None:
            scale = F.lit(float(10**decimals))
            grid = F.round(v * F.lit(10**decimals), 0).cast("long")
            aggs += [
                (F.sum(grid) / scale).alias("sum_v"),
                (F.sum(grid) / (F.count(F.lit(1)) * scale)).alias("avg_v"),
                (F.min(grid) / scale).alias("min_v"),
                (F.max(grid) / scale).alias("max_v"),
            ]
        else:
            aggs += [
                F.round(F.sum(v), 6).alias("sum_v"),
                F.round(F.avg(v), 6).alias("avg_v"),
                F.round(F.min(v), 6).alias("min_v"),
                F.round(F.max(v), 6).alias("max_v"),
            ]
    return df.groupBy(bucket, *group_cols).agg(*aggs)
