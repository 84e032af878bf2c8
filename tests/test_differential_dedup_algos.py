"""Seeded differentials for the ALGORITHMIC dedup/curation kernels, checked
against independent pure-Python references with a different algorithm shape
(explicit loops / union-find, not a transliteration of the Spark window/agg
plans). The gate oracles for these ops replay the same *formula* in DuckDB;
this suite pins the *intended algorithm* instead:

* ``dup_span_strip`` (Lee et al. 2022 substring rule) vs a brute-force gram
  walker: a position is stripped iff some k-gram covering it occurs in ≥ 2
  DISTINCT documents. Corpus plants a cross-doc shared span, an exact dup
  pair, a WITHIN-doc repeated gram unique to its doc (must NOT strip — the
  occurrence-count mutant kills), sub-k docs and empty docs. The xxhash64
  fast path must produce identical rows (keys only partition/join).

* ``winnow_fingerprints`` (MOSS winnowing, SIGMOD'03) vs an explicit
  sliding-window loop: min hash per w-window, RIGHTMOST on ties (forced by
  repeating grams inside a window — a 2^40 space never ties by luck), the
  <w-grams boundary convention (one global-min fingerprint), no-gram docs.
  Leftmost-tie and prefix-window mutants both fail.

* ``connected_components`` / ``dup_clusters`` vs union-find over random
  graphs (chains ~12 deep, stars, cycles, duplicate + reversed edges): label
  = component-min id, cluster sizes = component node counts. A one-round
  neighbor-min mutant fails on any chain of diameter ≥ 3 — the differential
  proves the iteration (not just the join algebra) is load-bearing.

* ``simhash60_md5`` vs a per-token bit-vote loop over the same md5-60-bit
  family, with forced EXACT-TIE docs (two distinct tokens: every bit where
  they differ has 2·ones == n → vote 0). The ``>=`` tie mutant fails.

* ``segment_dedup`` vs a global first-occurrence fold keyed by min(id, pos)
  — ids crafted so corpus INPUT order disagrees with id order (the
  insertion-order-first mutant fails), plus an all-segments-seen-earlier doc
  (n_kept=0, empty text) and the empty-doc ''-segment edge.
"""

from __future__ import annotations

import hashlib
import math
import random
import re

from pyspark.sql import types as T

from loongcollector_spark.operators.dedup import (
    connected_components,
    dup_clusters,
    segment_dedup,
    simhash60_md5,
    winnow_fingerprints,
)
from loongcollector_spark.operators.tokens import dup_span_strip

SEED = 20260820


# ---------------------------------------------------------------------------
# dup_span_strip
# ---------------------------------------------------------------------------

def _span_corpus():
    rng = random.Random(SEED)
    docs: dict[str, list[int]] = {}
    # random base docs over a small vocab (natural cross-doc dups occur too)
    for i in range(36):
        docs[f"d{i:02d}"] = [rng.randrange(30) for _ in range(rng.randrange(0, 26))]
    shared = [101, 102, 103, 104, 105, 106]  # 6-token span, vocab-disjoint
    docs["dA"] = [rng.randrange(30) for _ in range(5)] + shared + [rng.randrange(30) for _ in range(4)]
    docs["dB"] = shared + [rng.randrange(30) for _ in range(7)]
    docs["dX1"] = [201, 202, 203, 204, 205, 206, 207]  # exact dup pair
    docs["dX2"] = list(docs["dX1"])
    # within-doc repeated gram UNIQUE to this doc: must NOT be stripped
    docs["dR"] = [301, 302, 303, 304] + [305] + [301, 302, 303, 304]
    docs["dshort"] = [1, 2, 3]  # < k
    docs["dempty"] = []
    return docs


def _emulate_span_strip(docs: dict[str, list[int]], k: int):
    gram_docs: dict[tuple, set] = {}
    for d, toks in docs.items():
        for i in range(len(toks) - k + 1):
            gram_docs.setdefault(tuple(toks[i:i + k]), set()).add(d)
    dup = {g for g, s in gram_docs.items() if len(s) >= 2}
    out = {}
    for d, toks in docs.items():
        cov: set[int] = set()
        for i in range(len(toks) - k + 1):
            if tuple(toks[i:i + k]) in dup:
                cov.update(range(i, i + k))
        kept = [t for j, t in enumerate(toks) if j not in cov]
        out[d] = (len(toks), len(cov), kept)
    return out


def test_dup_span_strip_differential(spark):
    k = 4
    docs = _span_corpus()
    df = spark.createDataFrame(
        [(d, toks) for d, toks in docs.items()],
        T.StructType([
            T.StructField("doc_id", T.StringType()),
            T.StructField("tokens", T.ArrayType(T.IntegerType())),
        ]),
    )
    want = _emulate_span_strip(docs, k)
    for method in ("md5", "xxhash64"):
        got = {
            r["doc_id"]: (r["n_tok"], r["n_removed"], list(r["tokens_clean"]))
            for r in dup_span_strip(df, k=k, hash_method=method).collect()
        }
        assert got == want, (method, {d: (got.get(d), want.get(d))
                                      for d in set(got) | set(want)
                                      if got.get(d) != want.get(d)})
    # the planted cases actually exercise what they claim:
    assert want["dR"][1] == 0            # within-doc repeat alone never strips
    assert want["dX1"][2] == [] and want["dX2"][2] == []   # exact dups fully covered
    assert want["dA"][1] >= 6 and want["dB"][1] >= 6       # shared span covered


def test_dup_span_strip_mutants_fail():
    k = 4
    docs = _span_corpus()
    want = _emulate_span_strip(docs, k)

    # mutant 1: total occurrence count ≥ 2 (within-doc repeats count)
    def occurrence_mutant():
        cnt: dict[tuple, int] = {}
        for toks in docs.values():
            for i in range(len(toks) - k + 1):
                g = tuple(toks[i:i + k])
                cnt[g] = cnt.get(g, 0) + 1
        dup = {g for g, n in cnt.items() if n >= 2}
        out = {}
        for d, toks in docs.items():
            cov: set[int] = set()
            for i in range(len(toks) - k + 1):
                if tuple(toks[i:i + k]) in dup:
                    cov.update(range(i, i + k))
            out[d] = (len(toks), len(cov), [t for j, t in enumerate(toks) if j not in cov])
        return out

    # mutant 2: cover off-by-one (k-1 positions per dup gram)
    def shortcover_mutant():
        gram_docs: dict[tuple, set] = {}
        for d, toks in docs.items():
            for i in range(len(toks) - k + 1):
                gram_docs.setdefault(tuple(toks[i:i + k]), set()).add(d)
        dup = {g for g, s in gram_docs.items() if len(s) >= 2}
        out = {}
        for d, toks in docs.items():
            cov: set[int] = set()
            for i in range(len(toks) - k + 1):
                if tuple(toks[i:i + k]) in dup:
                    cov.update(range(i, i + k - 1))
            out[d] = (len(toks), len(cov), [t for j, t in enumerate(toks) if j not in cov])
        return out

    assert occurrence_mutant() != want     # dR's unique internal repeat differs
    assert occurrence_mutant()["dR"][1] > 0
    assert shortcover_mutant() != want


# ---------------------------------------------------------------------------
# winnow_fingerprints
# ---------------------------------------------------------------------------

_HMOD = 1 << 40


def _winnow_corpus():
    rng = random.Random(SEED + 1)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "ETA", "theta"]
    texts = {}
    for i in range(30):
        n = rng.randrange(0, 21)
        words = [rng.choice(vocab) for _ in range(n)]
        # messy whitespace exercises normalize_text (ASCII ws only)
        sep = rng.choice([" ", "  ", "\t", " \t "])
        texts[f"w{i:02d}"] = sep.join(words) + rng.choice(["", " ", "\t"])
    # forced in-window hash ties: the same gram repeats inside one window
    texts["wtie1"] = "a b a b a b a b"
    texts["wtie2"] = "x x x x x x"
    texts["wshort0"] = "one"            # 1 word < k → no grams → no rows
    texts["wshort1"] = "one two"        # exactly one gram (n < w boundary)
    texts["wshort2"] = "one two three"  # two grams, still < w
    texts["wempty"] = "   "
    return texts


def _winnow_hashes(text: str, k: int):
    norm = re.sub(r"\s+", " ", text.lower()).strip()
    words = norm.split(" ")
    grams = [" ".join(words[i:i + k]) for i in range(len(words) - k + 1)]
    return [
        int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16) % _HMOD
        for g in grams
    ]


def _emulate_winnow(text: str, k: int, w: int, tie: str = "right", prefixes: bool = False):
    hashes = _winnow_hashes(text, k)
    n = len(hashes)
    fps: set[tuple[int, int]] = set()
    if n == 0:
        return fps
    pick = max if tie == "right" else min
    if n < w:
        m = min(hashes)
        fps.add((m, pick(i for i, h in enumerate(hashes) if h == m)))
        return fps
    starts = range(-(w - 1), n - w + 1) if prefixes else range(n - w + 1)
    for s in starts:
        lo = max(s, 0)
        window = list(range(lo, s + w))
        m = min(hashes[i] for i in window)
        fps.add((m, pick(i for i in window if hashes[i] == m)))
    return fps


def test_winnow_fingerprints_differential(spark):
    k, w = 2, 4
    texts = _winnow_corpus()
    df = spark.createDataFrame(list(texts.items()), "doc_id string, text string")
    got: dict[str, set] = {d: set() for d in texts}
    for r in winnow_fingerprints(df, k=k, w=w).collect():
        got[r["doc_id"]].add((r["fp"], r["fp_pos"]))
    want = {d: _emulate_winnow(t, k, w) for d, t in texts.items()}
    assert got == want, {d: (got[d] ^ want[d]) for d in texts if got[d] != want[d]}
    # boundary/tie cases really hit:
    assert want["wshort0"] == set() and want["wempty"] == set()
    assert len(want["wshort1"]) == 1 and len(want["wshort2"]) == 1
    assert len({h for h, _ in _emulate_winnow(texts["wtie2"], k, w)}) == 1


def test_winnow_mutants_fail():
    k, w = 2, 4
    texts = _winnow_corpus()
    want = {d: _emulate_winnow(t, k, w) for d, t in texts.items()}
    left = {d: _emulate_winnow(t, k, w, tie="left") for d, t in texts.items()}
    pref = {d: _emulate_winnow(t, k, w, prefixes=True) for d, t in texts.items()}
    assert left != want and left["wtie2"] != want["wtie2"]
    assert pref != want


# ---------------------------------------------------------------------------
# connected_components / dup_clusters
# ---------------------------------------------------------------------------

def _graph_corpus():
    rng = random.Random(SEED + 2)
    edges: list[tuple[int, int]] = []
    nid = 0

    def fresh(n):
        nonlocal nid
        ids = list(range(nid, nid + n))
        nid += n
        return ids

    # chains 12 deep (diameter forces ≥ ~6 propagation rounds)
    for _ in range(3):
        ch = fresh(12)
        rng.shuffle(ch)  # labels don't follow edge order
        edges += list(zip(ch, ch[1:]))
    # stars
    for _ in range(3):
        st = fresh(7)
        edges += [(st[0], x) for x in st[1:]]
    # cycles
    cyc = fresh(6)
    edges += list(zip(cyc, cyc[1:])) + [(cyc[-1], cyc[0])]
    # isolated pair + duplicate/reversed edges + random extra merges
    a, b = fresh(2)
    edges += [(a, b), (b, a), (a, b)]
    allnodes = list(range(nid))
    for _ in range(10):
        edges.append((rng.choice(allnodes), rng.choice(allnodes)))
    # big sparse ids (cast path)
    big = [10_000_000_000 + i for i in range(3)]
    edges += [(big[0], big[1]), (big[1], big[2])]
    return [e for e in edges if e[0] != e[1]]


def _union_find(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp: dict[int, list[int]] = {}
    for x in list(parent):
        comp.setdefault(find(x), []).append(x)
    labels = {}
    sizes = {}
    for members in comp.values():
        m = min(members)
        for x in members:
            labels[x] = m
        sizes[m] = len(members)
    return labels, sizes


def test_connected_components_differential(spark):
    edges = _graph_corpus()
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    labels, sizes = _union_find(edges)
    got = {r["node"]: r["lab"] for r in connected_components(df).collect()}
    assert got == labels, {n: (got.get(n), labels.get(n))
                           for n in set(got) | set(labels)
                           if got.get(n) != labels.get(n)}
    gotc = {
        r["doc_id"]: (r["rep_doc_id"], r["cluster_size"])
        for r in dup_clusters(df).collect()
    }
    wantc = {n: (l, sizes[l]) for n, l in labels.items()}
    assert gotc == wantc


def test_connected_components_deep_chain(spark):
    """Pin O(log² n) star-contraction on a deep graph: a 256-node shuffled
    chain (diameter 255) is far above what an O(diameter) min-label
    propagation could finish inside the 30-round cap — the fresh-seed
    differential caught the old hook-only implementation returning a
    silently-stale label at depth 31.  Large-star/small-star must converge
    well inside the cap (measured: 6-8 rounds) and raise rather than
    return stale labels if it ever does not."""
    rng = random.Random(987654)
    ch = list(range(256))
    rng.shuffle(ch)
    edges = list(zip(ch, ch[1:]))
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    labels, _ = _union_find(edges)
    got = {r["node"]: r["lab"] for r in connected_components(df).collect()}
    assert got == labels
    assert set(got.values()) == {0}  # one component, min id 0


def test_connected_components_one_round_mutant_fails():
    edges = _graph_corpus()
    labels, _ = _union_find(edges)
    # mutant: single neighbor-min pass (no iteration to fixpoint)
    und: dict[int, set] = {}
    for u, v in edges:
        und.setdefault(u, set()).add(v)
        und.setdefault(v, set()).add(u)
    one_round = {n: min([n] + list(nbrs)) for n, nbrs in und.items()}
    assert one_round != labels


# ---------------------------------------------------------------------------
# simhash60_md5
# ---------------------------------------------------------------------------

def _sim_corpus():
    rng = random.Random(SEED + 3)
    vocab = ["apple", "Banana", "cherry", "date", "elder", "fig", "grape", "kiwi"]
    texts: list[tuple[str, str | None]] = []
    for i in range(40):
        n = rng.randrange(0, 15)
        texts.append((f"s{i:02d}", " ".join(rng.choice(vocab) for _ in range(n))))
    # exact-tie docs: 2 distinct tokens → every differing bit has 2·ones == n
    texts += [("stie1", "apple fig"), ("stie2", "cherry kiwi cherry kiwi")]
    texts += [("sempty", ""), ("sws", " \t "), ("snull", None), ("sone", "GRAPE")]
    return texts


def _emulate_simhash60(text: str | None, tie_ge: bool = False) -> int:
    if text is None or text.strip() == "":
        return 0
    toks = text.lower().split()
    hs = [int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16) for t in toks]
    n = len(hs)
    sig = 0
    for b in range(60):
        ones = sum((h >> b) & 1 for h in hs)
        if (2 * ones >= n) if tie_ge else (2 * ones > n):
            sig |= 1 << b
    return sig


def test_simhash60_differential(spark):
    texts = _sim_corpus()
    df = spark.createDataFrame(texts, "doc_id string, text string")
    got = {r["doc_id"]: r["simhash"] for r in simhash60_md5(df).collect()}
    want = {d: _emulate_simhash60(t) for d, t in texts}
    assert got == want, {d: (got[d], want[d]) for d in got if got[d] != want[d]}
    assert want["sempty"] == 0 and want["snull"] == 0 and want["sws"] == 0
    # a single-token doc's signature IS its token hash (every vote 1·2 > 1)
    assert want["sone"] == int(hashlib.md5(b"grape").hexdigest()[:15], 16)


def test_simhash60_tie_mutant_fails():
    texts = _sim_corpus()
    want = {d: _emulate_simhash60(t) for d, t in texts}
    ge = {d: _emulate_simhash60(t, tie_ge=True) for d, t in texts}
    assert ge != want and ge["stie1"] != want["stie1"]


# ---------------------------------------------------------------------------
# segment_dedup
# ---------------------------------------------------------------------------

def _seg_corpus():
    rng = random.Random(SEED + 4)
    vocab = ["red", "blue", "green", "nav", "bar", "foot", "er", "text", "body"]
    rows: list[tuple[str, str]] = []
    boiler = "nav bar foot er nav bar"  # 6 words = 2 segments at sw=3
    for i in range(25):
        n = rng.randrange(0, 14)
        words = [rng.choice(vocab) for _ in range(n)]
        if rng.random() < 0.4:
            words = boiler.split(" ") + words
        rows.append((f"g{i:02d}", " ".join(words)))
    # input order DISAGREES with id order: the z-doc comes FIRST in the input
    # but its id sorts LAST — first-occurrence must go to the a-doc.
    rows.insert(0, ("zfirst", "unique seg ment trio here now"))
    rows.append(("aafter", "unique seg ment trio here now"))
    rows.append(("gall", boiler))       # every segment seen earlier → n_kept=0
    rows.append(("gempty", ""))
    return rows


def _emulate_segment_dedup(rows, sw: int):
    def norm_words(text):
        return re.sub(r"\s+", " ", text.lower()).strip().split(" ")

    segs_of = {}
    for d, text in rows:
        words = norm_words(text)
        n_segs = math.ceil(len(words) / sw)
        segs_of[d] = [" ".join(words[i * sw:(i + 1) * sw]) for i in range(n_segs)]
    first: dict[str, tuple] = {}
    for d, segs in segs_of.items():
        for pos, seg in enumerate(segs):
            if seg not in first or (d, pos) < first[seg]:
                first[seg] = (d, pos)
    out = {}
    for d, segs in segs_of.items():
        kept = [(pos, seg) for pos, seg in enumerate(segs) if first[seg] == (d, pos)]
        out[d] = (len(segs), len(kept), " ".join(s for _, s in sorted(kept)))
    return out


def test_segment_dedup_differential(spark):
    sw = 3
    rows = _seg_corpus()
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: (r["n_segs"], r["n_kept"], r["text_clean"])
        for r in segment_dedup(df, seg_words=sw).collect()
    }
    want = _emulate_segment_dedup(rows, sw)
    assert got == want, {d: (got.get(d), want.get(d))
                         for d in set(got) | set(want) if got.get(d) != want.get(d)}
    assert want["gall"][1] == 0 and want["gall"][2] == ""
    assert want["aafter"][1] == 2 and want["zfirst"][1] == 0  # id order, not input order


def test_segment_dedup_input_order_mutant_fails():
    sw = 3
    rows = _seg_corpus()
    want = _emulate_segment_dedup(rows, sw)

    # mutant: first occurrence by corpus INPUT order
    def norm_words(text):
        return re.sub(r"\s+", " ", text.lower()).strip().split(" ")

    first: dict[str, tuple] = {}
    segs_of = {}
    for d, text in rows:  # input order
        words = norm_words(text)
        n_segs = math.ceil(len(words) / sw)
        segs = [" ".join(words[i * sw:(i + 1) * sw]) for i in range(n_segs)]
        segs_of[d] = segs
        for pos, seg in enumerate(segs):
            first.setdefault(seg, (d, pos))
    mut = {}
    for d, segs in segs_of.items():
        kept = [(pos, seg) for pos, seg in enumerate(segs) if first[seg] == (d, pos)]
        mut[d] = (len(segs), len(kept), " ".join(s for _, s in sorted(kept)))
    assert mut != want and mut["zfirst"][1] == 2
