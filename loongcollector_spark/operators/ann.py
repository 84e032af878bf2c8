"""Approximate-nearest-neighbor search over embedding columns.

Two scale paths over the brute-force baseline (``q_ann_cosine_topk``):

* ``ann_ivf_topk`` — IVF-flat: corpus vectors are assigned to coarse
  centroids (inverted lists); a query ranks centroids and scans only the
  ``nprobe`` nearest lists. Assignment is one O(N·K) linear pass (the index
  build); search touches ~nprobe/K of the corpus. Deterministic coarse
  quantizer: the K lowest-id corpus vectors serve as centroids (production
  would k-means-train them — determinism is required here so a DuckDB oracle
  can replay the exact same index and the correctness gate covers the whole
  path, not just the verify step).
* hyperplane-LSH buckets (``dedup.hyperplane_buckets``) — the other family,
  used by embedding_dup_pairs_lsh.

Everything is native DataFrame ops: centroid fan-out is an explode of a
broadcast K-element array (K ≤ a few hundred), ranking is a window, the
probe join is a broadcast equi-join on centroid id — no cartesian anywhere.
All cosines are rounded to 6 digits BEFORE every argmax/rank so Spark and
DuckDB agree bit-for-bit on ordering decisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import cosine


def quantize_int8(df: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization (the standard ANN-index /
    embedding-store compression): scale = max|x| / 127,
    q_i = floor(x_i · 127 / max|x| + 0.5) ∈ [-127, 127].

    Output is audit-shaped: (id, dim, scale6, q_sum, q_min, q_max) — q_* are
    INTEGER aggregates of the quantized vector, so the oracle comparison is
    exact (no float-sum ordering hazard), while scale6 pins the float path.
    ``floor(x + 0.5)`` is used instead of round() because Spark (HALF_UP) and
    DuckDB (half-away-from-zero) disagree on negative .5 boundaries; floor is
    IEEE-identical in both.

    Scale shape: pure per-row array projection (transform/aggregate lambdas,
    whole-stage codegen) — rides the scan, no shuffle, no Python."""
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    m = F.greatest(F.array_max(F.transform(v, F.abs)), F.lit(1e-12))
    q = F.transform(v, lambda x: F.floor(x * F.lit(127.0) / m + F.lit(0.5)).cast("long"))
    return df.select(
        F.col("vec_id"),
        F.size(F.col("embedding")).alias("dim"),
        F.round(m / F.lit(127.0), 6).alias("scale6"),
        F.aggregate(q, F.lit(0).cast("long"), lambda acc, x: acc + x).alias("q_sum"),
        F.array_min(q).alias("q_min"),
        F.array_max(q).alias("q_max"),
    )


def ivf_assign(df: DataFrame, centroids: DataFrame) -> DataFrame:
    """(id, centroid_id) inverted-list assignment: argmax cosine over the
    broadcast centroid set, ties broken by lowest centroid id."""
    c = F.broadcast(
        centroids.select(
            F.col("vec_id").alias("centroid_id"), F.col("embedding").cast("array<double>").alias("c_vec")
        )
    )
    v = df.select(F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v"))
    scored = v.join(c).withColumn("c_cos", F.round(cosine(F.col("v"), F.col("c_vec")), 6))
    # argmax as a hash aggregate (max_by) rather than a row_number window: the
    # window sorts all N·K fan-out rows inside each shuffle partition; the agg
    # does a map-side partial argmax so only K-way reduced rows cross the
    # shuffle — the difference at 10^9 vectors. The ordering key packs
    # (cos, -centroid_id) into ONE bigint so the planner picks HashAggregate
    # (a struct key forces SortAggregate): c_cos is pre-rounded to 6 digits,
    # so round(c_cos*1e6)*10000 is exact and leaves 4 digits of headroom for
    # the low-centroid-id tiebreak (requires K ≤ 10000 centroids).
    order_key = (
        F.round(F.col("c_cos") * 1e6).cast("bigint") * F.lit(10000).cast("bigint")
        - F.col("centroid_id").cast("bigint")
    )
    return scored.groupBy("id").agg(
        F.max_by(F.col("centroid_id"), order_key).alias("centroid_id")
    )


def ann_ivf_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF top-k: (query_id, neighbor_id, cos6, rk) for each query id.

    Recall < 1 by construction (a true neighbor in an unprobed list is
    missed) — but the WHOLE path (quantizer, assignment, probe ranking,
    candidate scan) is deterministic, so the oracle checks the exact output,
    and recall vs brute force is a measured number, not a hope."""
    centroids = df.filter(F.col("vec_id").isin(*[int(q) for q in range(n_centroids)]))
    assign = ivf_assign(df, centroids)
    v = df.select(F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v"))
    corpus = v.join(assign, "id")

    q = v.filter(F.col("id").isin(*[int(x) for x in query_ids])).select(
        F.col("id").alias("query_id"), F.col("v").alias("q_vec")
    )
    # rank centroids per query, keep nprobe
    c = F.broadcast(
        centroids.select(
            F.col("vec_id").alias("centroid_id"), F.col("embedding").cast("array<double>").alias("c_vec")
        )
    )
    qc = q.join(c).withColumn("c_cos", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6))
    wq = Window.partitionBy("query_id").orderBy(F.col("c_cos").desc(), F.col("centroid_id"))
    probes = (
        qc.withColumn("prk", F.row_number().over(wq))
        .filter(F.col("prk") <= nprobe)
        .select("query_id", "q_vec", "centroid_id")
    )
    cands = probes.join(corpus, "centroid_id").filter(F.col("id") != F.col("query_id"))
    scored = cands.withColumn("cos6", F.round(cosine(F.col("q_vec"), F.col("v")), 6))
    wk = Window.partitionBy("query_id").orderBy(F.col("cos6").desc(), F.col("id"))
    return (
        scored.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= k)
        .select("query_id", F.col("id").alias("neighbor_id"), "cos6", "rk")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-scale ANN path
# ---------------------------------------------------------------------------

def _raw_dist2(a, b) -> F.Column:
    """Squared L2 distance as an ORDERED left fold over the index sequence —
    the same element order DuckDB's list_sum(list_transform(range…)) uses, so
    the raw double is bit-identical across engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _dist2(a, b) -> F.Column:
    """_raw_dist2 rounded at 9 BEFORE any argmin/rank so Spark and DuckDB
    replay identical ordering decisions (same policy as cosine/6)."""
    return F.round(_raw_dist2(a, b), 9)


def _pq_codebook_row(df: DataFrame, m: int, k: int):
    """ONE broadcastable row holding all m·k codebook entries as
    ``cbs: array<array<array<double>>>`` (cbs[j][c] = code c of subspace j).
    Deterministic 'training': the k lowest-id vectors' sub-slices are the
    codes — same rationale as ivf_assign's quantizer (a DuckDB oracle must
    replay the index bit-for-bit; production would Lloyd-train per subspace
    with the semdedup machinery, which changes only this function)."""
    v = df.select(F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v"))
    base = v.orderBy("id").limit(k)
    row = base.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("id").alias("c"), F.col("v").alias("vv")))
        ).alias("_vs")
    )
    # code == POSITION in the id-sorted list (0-based), not the raw id — the
    # code space must be dense [0, k) whatever the training ids are.
    return row.select(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: F.transform(
                F.col("_vs"),
                lambda s: F.slice(
                    s["vv"],
                    j * (F.size(s["vv"]) / m).cast("int") + 1,
                    (F.size(s["vv"]) / m).cast("int"),
                ),
            ),
        ).alias("cbs")
    )


def pq_encode(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """PQ encode: each vector → ``codes array<int>`` of length m (code j =
    argmin squared-L2 of sub-vector j against subspace j's k codes; ties to
    the lowest code). Jégou et al. 2011 "Product Quantization for Nearest
    Neighbor Search" — memory per vector drops from dim·4B to m bytes, the
    index that fits 10^11 vectors in RAM.

    Scale shape: ZERO corpus shuffle — the m·k codebook rides in as ONE
    broadcast row (semdedup's broadcast-argmin pattern) and encoding is a
    nested transform/array_min inside whole-stage codegen; cost O(dim·k) per
    vector, pipelined in the scan.

    ``codebook``: pass a precomputed ``_pq_codebook_row`` result to avoid
    re-deriving it (pq_ann_topk shares one codebook between encode and the
    query LUTs — one corpus pass instead of two)."""
    cb = codebook if codebook is not None else _pq_codebook_row(df, m, k)
    v = df.select(F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v"))
    sd = (F.size(F.col("v")) / m).cast("int")

    def code_for(j):
        sub = F.slice(F.col("v"), j * sd + 1, sd)
        best = F.array_min(
            F.transform(
                F.element_at(F.col("cbs"), j + 1),
                lambda cvec, c: F.struct(_dist2(sub, cvec).alias("d"), c.alias("code")),
            )
        )
        return best["code"]

    return v.crossJoin(F.broadcast(cb)).select(
        "id",
        F.transform(F.sequence(F.lit(0), F.lit(m - 1)), code_for).alias("codes"),
    )


def pq_ann_topk(
    df: DataFrame,
    query_ids: list[int],
    topk: int = 10,
    m: int = 4,
    k: int = 16,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: per query, distance to every
    corpus vector is approximated as Σ_j lut[j][codes[j]] where lut[j][c] =
    dist²(query_sub_j, codebook[j][c]) — the query is NEVER quantized (ADC,
    the accurate variant in Jégou et al.). Returns
    (query_id, neighbor_id, adc_n9, rk), rk ≤ topk — ``adc_n9`` is the ADC
    distance in INTEGER nanos (each lut cell is round(d²·10⁹) as bigint, the
    sum is exact integer math): a float Σ over a SQL group aggregates in
    engine-chosen order and can land on a different ULP than Spark's ordered
    fold (the skew_probe r4 lesson), while integer cells make the ranking
    canonicalization-proof.

    Scale shape: the corpus moves ONCE as (id, codes) — m small ints per
    vector; each of the Q queries carries its m·k lookup table in a broadcast
    (Q·m·k doubles), the scan computes Σ lut lookups per row (O(m), not
    O(dim)) inside codegen, and per-query top-k is a window over the scored
    stream. No pairwise vector math at query time — the PQ design point."""
    cb = _pq_codebook_row(df, m, k)
    codes = pq_encode(df, m, k, codebook=cb)
    v = df.select(F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v"))
    q = (
        v.filter(F.col("id").isin(*[int(x) for x in query_ids]))
        .select(F.col("id").alias("query_id"), F.col("v").alias("qv"))
        .crossJoin(F.broadcast(cb))
    )
    sd = (F.size(F.col("qv")) / m).cast("int")
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.transform(
            F.element_at(F.col("cbs"), j + 1),
            lambda cvec: F.round(
                _raw_dist2(F.slice(F.col("qv"), j * sd + 1, sd), cvec) * F.lit(1e9)
            ).cast("long"),
        ),
    )
    qlut = F.broadcast(q.select("query_id", lut.alias("lut")))
    scored = codes.join(qlut).filter(F.col("id") != F.col("query_id"))
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("lut"),
            lambda c, row: F.element_at(row, c + 1),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    wk = Window.partitionBy("query_id").orderBy(F.col("adc_n9"), F.col("id"))
    return (
        scored.withColumn("adc_n9", adc)
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= topk)
        .select("query_id", F.col("id").alias("neighbor_id"), "adc_n9", "rk")
    )
