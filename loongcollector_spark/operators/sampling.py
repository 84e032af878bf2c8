"""Deterministic sampling for training-data pipelines.

Not in the reference (a log agent forwards everything); a 100 TB corpus
pipeline needs reproducible downsampling — e.g. keep 5% of a crawl-heavy
source but 50% of a scarce high-quality one — where membership is a pure
function of the row key, so reruns, resumes and the DuckDB oracle all agree
row-for-row (Spark's ``df.sample`` is seed-dependent per-partition and NOT
stable across partitionings, so it can never be oracle-checked).

All native expressions: md5 → 32-bit bucket → threshold compare; no shuffle,
no UDF — the filter rides the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


BUCKETS = 10_000  # hash buckets: sampling and split fractions resolve to 1/BUCKETS


def hash_bucket(col: Column) -> Column:
    """Deterministic bucket in [0, BUCKETS): first 8 hex chars of md5 of the
    key's string form, mod ``BUCKETS``. Matches the DuckDB expression
    ``('0x' || substr(md5(cast(k as varchar)), 1, 8))::bigint % 10000``."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")
        % F.lit(BUCKETS)
    )


def mixture_weights(
    df: DataFrame, strata_col: str = "source", alpha: float = 0.5
) -> DataFrame:
    """Temperature-scaled domain mixture (the standard training-mix recipe:
    target share q_s ∝ p_s^α — α<1 upweights scarce high-quality domains,
    α=1 keeps natural proportions). Returns one row per stratum:

      (stratum, n_docs, p, q, sample_rate)

    where ``sample_rate`` = (q_s/p_s) / max_s(q_s/p_s) is the per-domain
    keep-fraction that realizes the target mix by downsampling only (the
    scarcest domain keeps rate 1.0) — feed it straight into
    ``stratified_sample``.

    Scale shape: ONE map-side-combined count agg keyed by stratum; everything
    after runs on the S-row aggregate (S = #domains, single digits), joined
    via a broadcast-sized cross of two scalar rows. No window over the corpus,
    no Python."""
    counts = df.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    # q ∝ p^α ∝ n^α (same normalizer), computed as exp(α·ln n) — the identical
    # IEEE sequence is replayable in DuckDB (exp(alpha*ln(n))), whereas pow()
    # implementations differ across libms.
    powed = counts.withColumn(
        "_w", F.exp(F.lit(alpha) * F.log(F.col("n_docs").cast("double")))
    )
    tots = powed.agg(
        F.sum("n_docs").alias("_tot"), F.sum("_w").alias("_wtot")
    )
    per = powed.crossJoin(F.broadcast(tots)).select(
        "stratum",
        "n_docs",
        (F.col("n_docs") / F.col("_tot")).alias("_p"),
        (F.col("_w") / F.col("_wtot")).alias("_q"),
    )
    ratio_max = per.agg(F.max(F.col("_q") / F.col("_p")).alias("_rmax"))
    return per.crossJoin(F.broadcast(ratio_max)).select(
        "stratum",
        "n_docs",
        F.round("_p", 6).alias("p"),
        F.round("_q", 6).alias("q"),
        F.round((F.col("_q") / F.col("_p")) / F.col("_rmax"), 6).alias("sample_rate"),
    )


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: dict[str, float] | None = None,
) -> DataFrame:
    """Deterministic train/val/test assignment: each row's split is a pure
    function of its key hash, so the same document lands in the same split on
    every rerun, resume, partitioning and engine (the property random()-based
    splitters lack, and the one that prevents val→train leakage when the
    corpus is re-ingested). ``splits`` maps names to fractions summing to ≤ 1;
    remainder falls into the LAST listed split.

    Scan-side CASE on the hash bucket — no shuffle, no state."""
    splits = splits or {"train": 0.98, "val": 0.01, "test": 0.01}
    b = hash_bucket(F.col(key_col))
    names = list(splits)
    expr = None
    cum = 0.0
    for name in names:
        cum += splits[name]
        thr = int(round(cum * BUCKETS))
        cond = b < F.lit(thr)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn("split", expr.otherwise(F.lit(names[-1])))


def deterministic_shuffle(df: DataFrame, key_col: str, seed: int = 42) -> DataFrame:
    """Seeded pseudo-random global permutation for training-data loaders:
    rank rows by md5(seed ‖ key) — reproducible across reruns/engines, unlike
    ``orderBy(rand())``. Ties (astronomically unlikely 60-bit collisions)
    break on the key itself.

    Scale shape: ONE range-partitioned global sort (Spark samples boundaries,
    sorts within partitions — the standard terasort shape); at 100 TB the
    loader usually only needs the order WITHIN shards, in which case sort
    ``(shard, rank_key)`` with shard = hash_bucket(key) instead and skip the
    global exchange."""
    rank_key = F.conv(
        F.substring(F.md5(F.concat(F.lit(str(seed) + "-"), F.col(key_col).cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    w = Window.orderBy(rank_key, F.col(key_col).cast("string"))
    return df.withColumn("shuffle_rank", F.row_number().over(w))


def percentile_band_filter(
    df: DataFrame,
    value_col: str,
    lo_p: float = 0.05,
    hi_p: float = 0.95,
    exact: bool = True,
) -> DataFrame:
    """Keep rows whose ``value_col`` lies inside the [lo_p, hi_p] percentile
    band — the standard outlier-length cut (too-short fragments, too-long
    concatenation junk) in corpus curation.

    ``exact=True`` uses Spark's exact ``percentile`` (linear interpolation,
    the same definition as DuckDB's quantile_cont, so the oracle replays the
    thresholds bit-for-bit). Exact percentile aggregates per-value counts —
    fine for bounded-cardinality columns like lengths; for unbounded doubles
    at 100 TB pass ``exact=False`` for ``approx_percentile`` (t-digest sketch,
    constant memory; not oracle-comparable and so not used by the gate query).

    Scale shape: ONE aggregate produces both thresholds (a 1-row result,
    broadcast cross-joined back), then the band check is a scan-side filter."""
    fn = F.percentile if exact else (lambda c, p: F.approx_percentile(c, p, 10_000))
    v = F.col(value_col).cast("double")
    thr = df.agg(
        fn(v, F.lit(lo_p)).alias("_lo"), fn(v, F.lit(hi_p)).alias("_hi")
    )
    return (
        df.crossJoin(F.broadcast(thr))
        .filter((v >= F.col("_lo")) & (v <= F.col("_hi")))
        .drop("_lo", "_hi")
    )


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
) -> DataFrame:
    """Keep each row iff hash_bucket(key) < rate(stratum) · BUCKETS.

    ``rates`` maps stratum values (e.g. source names) to keep-fractions;
    unlisted strata use ``default_rate``. The rate table is a tiny CASE
    expression (constant-folded by Catalyst), so this is a scan-side filter —
    at 100 TB it prunes rows before any shuffle ever sees them, and because
    membership is keyed (not positional) the same rows survive at every
    parallelism and on resume.

    The hash is DOMAIN-SEPARATED from ``hash_split`` via the ``strat:`` salt:
    unsalted, sampling at rate r keeps exactly buckets [0, r·B) — the same
    buckets hash_split assigns to train first, so any sample at r ≤ train
    share contains ZERO val/test rows (and sampling after splitting empties
    val/test). Salted, the two bucketings are independent."""
    thr: Column = F.lit(int(round(default_rate * BUCKETS)))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(
            F.col(strata_col) == F.lit(stratum), F.lit(int(round(rate * BUCKETS)))
        ).otherwise(thr)
    salted = F.concat(F.lit("strat:"), F.col(key_col).cast("string"))
    return df.filter(hash_bucket(salted) < thr)


def length_batching(
    df: DataFrame,
    length_col: str = "n_chars",
    shard_col: str = "source",
    id_col: str = "doc_id",
    batch_rows: int = 32,
) -> DataFrame:
    """Loader-side length-bucketed batching: within each shard, order
    sequences by length and cut fixed-size batches of ``batch_rows`` rows, so
    each batch pads to its own max length instead of the corpus max — the
    standard padding-waste minimizer for training dataloaders (vs random
    batching, where expected waste per batch tracks the global length
    spread). Rows: one per batch — (shard, batch_id, n_rows, min_len,
    max_len, sum_len, pad_frac) with pad_frac = 1 − sum/(n·max).

    Scale shape: ONE row_number window per shard partition (ties broken on
    the id for determinism) → ONE hash agg keyed (shard, batch). At 100 TB
    shards are further split by a hash bucket of the id — batch quality only
    needs length-locality WITHIN a worker's slice, so the window never spans
    a corpus-wide partition."""
    w = Window.partitionBy(shard_col).orderBy(
        F.col(length_col).cast("long"), F.col(id_col).cast("string")
    )
    batched = df.withColumn(
        "batch_id", ((F.row_number().over(w) - 1) / batch_rows).cast("long")
    )
    return batched.groupBy(shard_col, "batch_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(F.col(length_col).cast("long")).alias("min_len"),
        F.max(F.col(length_col).cast("long")).alias("max_len"),
        F.sum(F.col(length_col).cast("long")).alias("sum_len"),
        F.round(
            F.lit(1.0)
            - F.sum(F.col(length_col).cast("long"))
            / (F.count(F.lit(1)) * F.max(F.col(length_col).cast("long"))).cast("double"),
            6,
        ).alias("pad_frac"),
    )


def token_budget_sample(
    df: DataFrame,
    default_budget: int,
    budgets: dict[str, int] | None = None,
    strata_col: str = "source",
) -> DataFrame:
    """Per-source token-budget selection: within each stratum, documents are
    visited in deterministic hash order (md5 of the id — a reproducible
    shuffle) and kept while the running token total stays within the
    stratum's budget. This is the "take N tokens per domain" mixture builder
    (the token-denominated twin of per-domain document caps): budgets come
    straight out of ``mixture_weights``-style target shares × total token
    goal.

    Rows out: ``(id, stratum, count, cum_tok)`` for KEPT docs only —
    ``cum_tok`` is the inclusive running total (≤ budget; the doc that would
    cross the budget is dropped, as are all later ones in hash order).

    Scale shape — exact distributed prefix sum, NO corpus-wide sort window:
    the sort key IS the md5 hex string, so bucketing by its first byte
    (``conv(substr(h,1,2),16,10)``) is order-preserving across buckets and
    uniform by construction (a 10^11-doc hot source splits into 256 parallel
    tasks instead of one sorting reducer). Three steps:
      1. per-(stratum, bucket) token sums — a tiny map-combined agg
         (S×256 rows);
      2. exclusive cumsum of those sums per stratum — a window over the
         TINY aggregate, then broadcast-joined back as each bucket's offset;
      3. within-bucket inclusive cumsum (window per (stratum, bucket), keyed
         by the full hash) + offset = the exact global running total.
    Deterministic end-to-end, so the DuckDB oracle (one plain window) agrees
    row-for-row with the salted three-step plan.
    """
    h = F.md5(F.col("doc_id").cast("string"))
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    base = df.select(
        F.col("doc_id"),
        F.col(strata_col).alias("stratum"),
        F.col("n_tok").cast("long").alias("_c"),
        h.alias("_h"),
        bucket.alias("_b"),
    )
    per_bucket = base.groupBy("stratum", "_b").agg(F.sum("_c").alias("_bsum"))
    w_off = (
        Window.partitionBy("stratum")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_bucket.select(
        "stratum", "_b", F.coalesce(F.sum("_bsum").over(w_off), F.lit(0)).alias("_off")
    )
    w_in = (
        Window.partitionBy("stratum", "_b")
        .orderBy("_h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    if budgets:
        pairs = [x for kv in budgets.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
        # try_element_at: ANSI mode (the driver's session) errors on a
        # missing map key with plain element_at
        budget = F.coalesce(
            F.try_element_at(F.create_map(*pairs), F.col("stratum")),
            F.lit(default_budget),
        ).cast("long")
    else:
        budget = F.lit(default_budget).cast("long")
    return (
        base.join(F.broadcast(offsets), ["stratum", "_b"])
        .withColumn("cum_tok", (F.col("_off") + F.sum("_c").over(w_in)).cast("long"))
        .filter(F.col("cum_tok") <= budget)
        .select("doc_id", "stratum", F.col("_c").alias("n_tok"), "cum_tok")
    )
