"""URL canonicalization + canonical-URL dedup for web-scale corpus curation.

Web crawls reach the same page through many spellings — scheme case, a
``www.`` prefix, default ports, trailing slashes, tracking query parameters,
fragments, and query-parameter order all vary while the content is one page.
Canonical-URL dedup (keep ONE document per canonical URL) is the cheapest and
highest-yield dedup stage in a crawl pipeline (it runs before any content
hashing), so it belongs next to the content-level operators in ``dedup.py``.

Canonical form produced here (each rule is a deliberate, documented choice —
the whole transform is pure Catalyst ``regexp_replace``/array ops so a SQL
oracle can replay it exactly):

1. drop the fragment (``#...`` never reaches the server);
2. drop the scheme (``http``/``https``/case variants are one page for dedup
   purposes — schemeless output also collapses protocol-relative refs);
3. lowercase the authority, strip a leading ``www.``, strip an explicit
   default port ``:80``/``:443`` (host names are case-insensitive per RFC
   3986 §6.2.2.1; paths are NOT lowercased — they are case-sensitive);
4. strip trailing ``/`` runs from the path (``/a/`` ≡ ``/a`` in practice for
   crawl dedup; the root path collapses to the bare host);
5. drop tracking query parameters (``utm_*``, ``gclid``, ``fbclid``,
   ``ref``, ``mc_eid``), sort the survivors bytewise, and rejoin — parameter
   order is semantically irrelevant, tracking params are per-click noise.

Scale shape: ``url_canonicalize`` is a per-row projection (no shuffle, rides
the scan, whole-stage codegen). ``url_dedup`` adds ONE map-side-combinable
hash aggregate keyed by the canonical URL (min doc id + count) — the same
shape as exact content dedup; no window over the corpus, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# query parameters that never change page identity (per-click tracking noise)
TRACKING_PARAM_RE = r"^(utm_[^=]*|gclid|fbclid|ref|mc_eid)(=.*)?$"


def canonical_url(url: Column) -> Column:
    """Column expression: canonical form of ``url`` per the module rules."""
    u = F.regexp_replace(url, r"#.*$", "")  # 1. fragment
    u = F.regexp_replace(u, r"^([A-Za-z][A-Za-z0-9+.\-]*:)?//", "")  # 2. scheme (or //)
    host = F.lower(F.regexp_extract(u, r"^([^/?]*)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.regexp_replace(host, r":(80|443)$", "")  # 3. authority
    rest = F.regexp_replace(u, r"^[^/?]*", "")
    path = F.regexp_replace(F.regexp_extract(rest, r"^([^?]*)", 1), r"/+$", "")  # 4.
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&", -1),
            lambda p: (p != F.lit("")) & ~p.rlike(TRACKING_PARAM_RE),
        )
    )  # 5. tracking params out, bytewise sort
    qcanon = F.array_join(params, "&")
    return F.concat(
        host,
        path,
        F.when(qcanon != F.lit(""), F.concat(F.lit("?"), qcanon)).otherwise(F.lit("")),
    )


def url_canonicalize(df: DataFrame) -> DataFrame:
    """Append the canonical URL column. Pure projection — no shuffle."""
    return df.withColumn("url_canon", canonical_url(F.col("url")))


def url_dedup(df: DataFrame) -> DataFrame:
    """Canonical-URL dedup: canonicalize, then keep each canonical URL's
    lowest-``doc_id`` document. Rows: one per INPUT row —
    ``(doc_id, url_canon, is_kept, n_dups)`` where ``is_kept`` marks the
    survivor and ``n_dups`` is the canonical group's size (survivors of
    singleton groups have n_dups=1). Keeping per-row output (vs survivor
    list) lets the caller route duplicates to a quarantine sink unchanged.

    Scale shape: one hash agg keyed canonical URL (min id + count,
    map-side combinable) then ONE shuffle equi-join back on the canonical
    key. Group count ~ page count, far too large to broadcast at crawl
    scale — the join is the standard sort-merge/shuffled-hash co-location.
    """
    canon = url_canonicalize(df).select(
        F.col("doc_id"), F.col("url_canon")
    )
    # NULL URLs canonicalize to NULL, which a null-unsafe equi-join would
    # silently DROP (breaking the one-row-per-input-row contract). A null URL
    # is unknown, not identical to other null URLs — each is its own
    # singleton survivor, routed around the join.
    nulls = canon.filter(F.col("url_canon").isNull()).select(
        "doc_id",
        "url_canon",
        F.lit(True).alias("is_kept"),
        F.lit(1).cast("long").alias("n_dups"),
    )
    nn = canon.filter(F.col("url_canon").isNotNull())
    groups = nn.groupBy("url_canon").agg(
        F.min("doc_id").alias("_keep_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )
    return (
        nn.join(groups, "url_canon")
        .select(
            "doc_id",
            "url_canon",
            (F.col("doc_id") == F.col("_keep_id")).alias("is_kept"),
            "n_dups",
        )
        .unionByName(nulls)
    )
