"""Deterministic distinct-count sketches (HyperLogLog), oracle-replayable.

Engine-native HLLs (Spark ``approx_count_distinct``, DuckDB ``approx_*``) use
different hash functions and register layouts, so their estimates can never be
compared across engines — useless for a correctness gate.  This HLL is built
from first principles (Flajolet et al. 2007) on the repo's standard md5→60-bit
hash so Spark and DuckDB produce BIT-IDENTICAL registers and estimates:

* hash: ``conv(substr(md5(item), 1, 15), 16, 10)`` → uniform 60-bit bigint —
  the same construction every md5-oracle twin in this repo uses;
* bucket = ``h & (m-1)``, word ``w = h >> p`` (60-p bits);
* rho (leading-zero rank) computed EXACTLY via binary-string length —
  ``(60-p) - length(bin(w)) + 1`` — no float log2 anywhere;
* the harmonic sum is kept in SCALED INTEGER form: each register contributes
  ``2^(S - rho)`` (S = 60-p+1 = max rho) as a bigint, so the sum is exact and
  order-independent — float summation order across engines can never flip a
  hash bit;
* the only float ops are one multiply + one divide at the very end (IEEE
  deterministic), plus ``ln`` in the standard small-range linear-counting
  correction; the estimate is rounded to 2 decimals.

Scale shape: groupBy(group, bucket) max → groupBy(group) sum — two map-side-
combined hash aggregations; register space is m rows per group regardless of
corpus size.  The exact count is OPT-IN (``audit=True``): the default path
never shuffles the raw item, so the sketch stays sub-linear at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _alpha(m: int) -> float:
    """Standard HLL bias constant."""
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_distinct(
    df: DataFrame,
    item: Column,
    group_cols: list[str],
    p: int = 6,
    audit: bool = False,
) -> DataFrame:
    """Per-group HLL distinct estimate with ``m = 2**p`` registers.

    Default (``audit=False``) — the PRODUCTION path: the aggregation carries
    only ``(group, bucket, rho)``; after the map-side combine the shuffle
    moves at most m register rows per group regardless of corpus size, which
    is the entire point of a sketch.  Rows:
    (*group_cols, n_est, m, nonzero_buckets, z_scaled).

    ``audit=True`` additionally shuffles the raw item string to compute the
    exact distinct alongside (``n_exact``, ``rel_err``) — as expensive as an
    exact count-distinct, for correctness gates and small-corpus audits only.

    ``z_scaled`` is the exact integer harmonic sum — the value the hash check
    really rides on; ``n_est`` derives from it with two float ops."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4,16], got {p}")
    m = 1 << p
    bits = 60 - p
    s = bits + 1  # max rho; scaling exponent keeps every term >= 1
    h = F.conv(F.substring(F.md5(item.cast("string").cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )
    w = F.shiftright(h, p)
    rho = F.when(w > 0, F.lit(bits) - F.length(F.bin(w)) + 1).otherwise(F.lit(s))
    proj = [
        *group_cols,
        h.bitwiseAND(F.lit(m - 1)).alias("bucket"),
        rho.alias("rho"),
    ]
    # null items don't count toward distinct (COUNT DISTINCT semantics) —
    # unfiltered they'd form a phantom null-bucket register (md5(null)=null),
    # skewing every group's estimate and, in audit mode, leaving n_exact=0
    # for an all-null group (division by zero in rel_err under ANSI).
    df = df.filter(item.isNotNull())
    reg_aggs = [F.max("rho").alias("max_rho")]
    sum_aggs = [
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {s} - max_rho)")).alias("z_nonzero"),
        F.count(F.lit(1)).alias("nonzero_buckets"),
    ]
    if audit:
        proj.append(item.cast("string").alias("_item"))
        # countDistinct here is per-bucket exact; summed below it equals the
        # group's exact distinct because buckets partition the hash space.
        reg_aggs.append(F.countDistinct("_item").alias("n_exact_b"))
        sum_aggs.append(F.sum("n_exact_b").alias("n_exact"))
    regs = df.select(*proj).groupBy(*group_cols, "bucket").agg(*reg_aggs)
    # Exact integer harmonic sum: non-empty buckets contribute 2^(s - max_rho),
    # the (m - nonzero) empty buckets contribute 2^s each.
    summed = regs.groupBy(*group_cols).agg(*sum_aggs)
    z = (
        F.col("z_nonzero")
        + (F.lit(m) - F.col("nonzero_buckets")) * F.lit(1 << s)
    )
    raw = F.lit(_alpha(m) * m * m * float(1 << s)) / z.cast("double")
    zeros = F.lit(m) - F.col("nonzero_buckets")
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    out = summed.withColumn("z_scaled", z)
    audit_cols = (
        [
            F.col("n_exact").cast("long").alias("n_exact"),
            F.round(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 4).alias("rel_err"),
        ]
        if audit
        else []
    )
    return out.select(
        *group_cols,
        *([audit_cols[0]] if audit else []),
        F.round(est, 2).alias("n_est"),
        *([audit_cols[1]] if audit else []),
        F.lit(m).alias("m"),
        F.col("nonzero_buckets").cast("long").alias("nonzero_buckets"),
        F.col("z_scaled").cast("long").alias("z_scaled"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005)
# ---------------------------------------------------------------------------

def _cms_cells(item: Column, depth: int, width: int) -> Column:
    """array<struct<r,col>> of the item's ``depth`` sketch cells: the
    repo-standard md5→60-bit hash, salted per row — replayable verbatim in
    DuckDB (``('0x'||substr(md5('cms'||r||':'||item),1,15))::bigint % width``)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(depth - 1)),
        lambda r: F.struct(
            r.cast("int").alias("r"),
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("cms"), r.cast("string"), F.lit(":"), item)),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("bigint"),
                F.lit(width),
            ).cast("int").alias("col"),
        ),
    )


def cms_build(
    df: DataFrame,
    item: Column,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-Min sketch (unit weights) over an item stream: ``depth`` independent hash rows ×
    ``width`` counters; estimate(x) = min over rows of cell[r, h_r(x)] —
    always an OVERcount (one-sided error ≤ εN with ε = e/width at the
    standard depth, Cormode & Muthukrishnan 2005). The point-query sibling of
    hll_distinct: frequency ("how often did this token/URL/user appear")
    instead of cardinality, in fixed space.

    Returns the sketch as ``(r, col, c)`` rows — at most depth×width of them,
    regardless of corpus size.

    Scale shape: ONE projection fans each item to its ``depth`` (r, col)
    cells, then ONE map-side-combined hash agg onto the depth×width cell
    space — the shuffle moves ≤ depth×width partial cells per map task, never
    the items. Sketches are MERGEABLE by construction (cells add), so
    per-partition / per-day sketches union + re-agg into the global one —
    the property that makes CMS the standard streaming/distributed counter.
    """
    cells = _cms_cells(item, depth, width)
    return (
        df.select(F.explode(cells).alias("_cell"))
        .groupBy(F.col("_cell.r").alias("r"), F.col("_cell.col").alias("col"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    item: Column,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-query the sketch for each probe row: ``est`` = min over the
    ``depth`` cells addressed by the probe's item (missing cell → 0; the
    sketch omits never-hit cells).

    Scale shape: probes fan out to depth rows, equi-join the ≤depth×width-row
    sketch (broadcast — the sketch is fixed-size by construction), one
    min-agg back. The corpus itself is never touched at query time.

    Each probe ROW gets its own output row: a ``monotonically_increasing_id``
    keys the min-agg, so duplicate probe rows don't collapse, and the sketch
    side is renamed before the join, so probe columns named ``r``/``col``/``c``
    can't collide (ADVICE r4).
    """
    keyed = probes.withColumn("_probe_rid", F.monotonically_increasing_id()).withColumn(
        "_item", item
    )
    fan = keyed.select(
        "*", F.explode(_cms_cells(F.col("_item"), depth, width)).alias("_cell")
    )
    sk = F.broadcast(
        sketch.select(
            F.col("r").alias("_sk_r"), F.col("col").alias("_sk_col"), F.col("c").alias("_sk_c")
        )
    )
    joined = fan.join(
        sk,
        (fan["_cell.r"] == F.col("_sk_r")) & (fan["_cell.col"] == F.col("_sk_col")),
        "left",
    )
    group_cols = [c for c in probes.columns]
    return (
        joined.groupBy("_probe_rid", *group_cols)
        .agg(F.min(F.coalesce(F.col("_sk_c"), F.lit(0))).alias("est"))
        .drop("_probe_rid")
    )
