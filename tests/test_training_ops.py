"""Training-data pipeline operators: dedup (exact/ngram/minhash-LSH/simhash/
embedding), text analysis, grok, JSON flatten."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from loongcollector_spark.operators import dedup as D
from loongcollector_spark.operators import grok as G
from loongcollector_spark.operators import text as X
from loongcollector_spark.operators.parse import json_flatten


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy cat", "en"),   # near-dup of 1
        (3, "THE QUICK  BROWN fox jumps over the lazy dog", "en"),  # exact dup of 1 (normalized)
        (4, "le renard brun rapide saute pour les de la chiens et", "fr"),
        (5, "completely different text about spark engines and data", "en"),
        (6, "el zorro marron rapido salta sobre el perro perezoso y para", "es"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string, lang string")


def test_exact_dedup(docs):
    out = {r["dup_key"]: r for r in D.exact_dedup(docs).collect()}
    key = "the quick brown fox jumps over the lazy dog"
    assert out[key]["dup_cnt"] == 2 and out[key]["rep_id"] == 1
    assert len(out) == 5


def test_ngram_jaccard_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             D.ngram_jaccard_pairs(docs, n=2, threshold=0.5).collect()}
    assert (1, 3) in pairs and pairs[(1, 3)] == 1.0   # normalized-exact
    assert (1, 2) in pairs and 0.6 < pairs[(1, 2)] < 1.0
    assert (1, 5) not in pairs
    # python oracle for (1,2)
    def grams(t, n=2):
        w = " ".join(t.lower().split()).split(" ")
        return {" ".join(w[i:i+n]) for i in range(len(w)-n+1)}
    g1, g2 = grams("the quick brown fox jumps over the lazy dog"), grams("the quick brown fox jumps over the lazy cat")
    exp = len(g1 & g2) / len(g1 | g2)
    assert abs(pairs[(1, 2)] - exp) < 1e-6


def test_minhash_lsh_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             D.minhash_lsh_pairs(docs, num_hashes=32, bands=16, n=2, threshold=0.5).collect()}
    # high-similarity pairs must be found (identical sigs collide in every band)
    assert (1, 3) in pairs and pairs[(1, 3)] == 1.0
    assert (1, 2) in pairs
    # verification stage guarantees no false positives below threshold
    assert all(j >= 0.5 for j in pairs.values())


def test_minhash_signature_properties(docs):
    sigs = {r["id"]: r["sig"] for r in D.minhash_signatures(docs, num_hashes=16).collect()}
    assert sigs[1] == sigs[3]          # identical normalized text → identical sig
    agree = sum(a == b for a, b in zip(sigs[1], sigs[2])) / 16
    assert agree >= 0.5                # near-dups agree on many components
    assert sum(a == b for a, b in zip(sigs[1], sigs[5])) <= 4


def test_simhash_pairs(docs):
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash64(docs).select("doc_id", "simhash").collect()}
    assert sh[1] == sh[3]
    ham12 = bin((sh[1] ^ sh[2]) & ((1 << 64) - 1)).count("1")
    ham15 = bin((sh[1] ^ sh[5]) & ((1 << 64) - 1)).count("1")
    assert ham12 < ham15
    pairs = {(r["id_a"], r["id_b"]) for r in D.simhash_dup_pairs(docs, max_hamming=ham12).collect()}
    assert (1, 3) in pairs and (1, 2) in pairs


def test_embedding_dup_pairs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    pairs = {(r["id_a"], r["id_b"]): r["cos"] for r in D.embedding_dup_pairs(df, 0.95).collect()}
    assert set(pairs) == {(1, 2)} and pairs[(1, 2)] > 0.99


def test_embedding_dup_pairs_exact_gemm(spark):
    """Chunked-GEMM exact pairs == brute-force pairs, and the plan contains
    no BroadcastNestedLoopJoin (round-1's scale-killer shape)."""
    import random
    import warnings

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    brute = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in D.embedding_dup_pairs(df, 0.3).collect()
    }
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        gemm_df = D.embedding_dup_pairs_exact(df, 0.3, target_chunk=32)
    # the grouped-map function's type hints must not leave its eval type
    # uninferable (pyspark warns on every applyInPandas build)
    assert not [w for w in caught if "Cannot infer the eval type" in str(w.message)]
    plan = gemm_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    gemm = {(r["id_a"], r["id_b"]): r["cos"] for r in gemm_df.collect()}
    assert brute.keys() == gemm.keys() and len(gemm) > 0
    # both sides round to 4 digits (boundary-flip defense vs the DuckDB
    # oracle's differently-ordered sums) — rounded values must agree exactly
    for k in brute:
        assert brute[k] == gemm[k]


def test_embedding_dup_pairs_lsh(spark):
    """LSH pairs are a subset of exact pairs; high-cosine planted dup is
    recovered; no nested-loop join in the plan."""
    import random

    rng = random.Random(5)
    base = [rng.gauss(0, 1) for _ in range(64)]
    near = [x + rng.gauss(0, 0.02) for x in base]
    rows = [(0, base), (1, near)] + [
        (i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(2, 100)
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    lsh_df = D.embedding_dup_pairs_lsh(df, threshold=0.9, bands=8, planes_per_band=8, dim=64)
    plan = lsh_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    lsh = {(r["id_a"], r["id_b"]) for r in lsh_df.collect()}
    assert (0, 1) in lsh
    exact = {(r["id_a"], r["id_b"]) for r in D.embedding_dup_pairs(df, 0.9).collect()}
    assert lsh <= exact


def test_ngram_jaccard_hot_gram_cap(spark):
    """A hot gram shared by every doc must not create pairs when capped, and
    Jaccard is computed over the pruned gram sets on both sides."""
    rows = [(i, f"common prefix unique{i} word{i} tail{i}") for i in range(30)]
    rows += [(100, "alpha beta gamma delta"), (101, "alpha beta gamma epsilon")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    # "common prefix" appears in 30 docs → pruned at cap 10; alpha/beta grams survive
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(df, n=2, threshold=0.3, max_doc_grams=10).collect()
    }
    assert set(pairs) == {(100, 101)}
    # pruned-set Jaccard: grams {alpha beta, beta gamma, gamma delta|epsilon} → 2/4
    assert abs(pairs[(100, 101)] - 0.5) < 1e-9


def test_language_id(docs):
    out = {r["doc_id"]: r["lang_pred"] for r in X.language_id(docs).collect()}
    assert out[1] == "en" and out[4] == "fr" and out[6] == "es"


def test_quality_and_tokens(docs):
    q = {r["doc_id"]: r for r in X.quality_score(X.token_count(docs)).collect()}
    assert q[1]["n_ws_tokens"] == 9
    assert q[1]["n_bpe_tokens"] >= 9
    assert 0.0 <= q[1]["quality"] <= 1.0
    assert q[1]["quality"] > 0.3  # real sentence beats junk
    assert q[1]["stopword_ratio"] > 0.2


def test_fingerprint(docs):
    fp = {r["doc_id"]: r for r in X.fingerprint(docs).collect()}
    assert fp[1]["fp_md5"] == fp[3]["fp_md5"]  # normalization-invariant
    assert fp[1]["fp_md5"] != fp[2]["fp_md5"]
    assert isinstance(fp[1]["fp64"], int)


# --- grok -------------------------------------------------------------------

def test_grok_expand_and_cycles():
    rx, fields = G.expand("%{INT:a} %{WORD:b}")
    assert [f for f, _ in fields] == ["a", "b"]
    import re
    m = re.fullmatch(rx, "-42 hello")
    assert m and m.group(1) == "-42" and m.group(2) == "hello"
    with pytest.raises(G.GrokError):
        G.expand("%{NOPE:x}")
    with pytest.raises(G.GrokError):
        G.expand("%{A:x}", lib={"A": "%{B}", "B": "%{A}"})


def test_grok_apache_log(spark):
    line = '127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /apache_pb.gif HTTP/1.0" 200 2326'
    df = spark.createDataFrame([(line,), ("not a log line at all",)], "content string")
    out = G.parse_grok(df, ["%{COMMONAPACHELOG}"]).collect()
    by = {r["content"]: dict(r["fields"]) for r in out}
    f = by[line]
    assert f["clientip"] == "127.0.0.1" and f["auth"] == "frank"
    assert f["verb"] == "GET" and f["response"] == "200" and f["bytes"] == "2326"
    assert f["__raw__"] == line  # grok default KeepSource=true
    assert "clientip" not in by["not a log line at all"]


def test_grok_first_match_wins(spark):
    df = spark.createDataFrame([("x=12",), ("y=ab",)], "content string")
    out = G.parse_grok(df, [r"x=%{INT:xval}", r"y=%{WORD:yval}"]).collect()
    by = {r["content"]: dict(r["fields"]) for r in out}
    assert by["x=12"].get("xval") == "12" and "yval" not in by["x=12"]
    assert by["y=ab"].get("yval") == "ab" and "xval" not in by["y=ab"]


# --- json flatten -----------------------------------------------------------

def test_json_flatten_depth(spark):
    line = '{"a": {"b": {"c": 1}}, "d": [1, 2], "e": "v"}'
    df = spark.createDataFrame([(line,)], "content string")
    full = dict(json_flatten(df).collect()[0]["fields"])
    assert full == {"a_b_c": "1", "d": "[1,2]", "e": "v"}
    d1 = dict(json_flatten(df, expand_depth=1).collect()[0]["fields"])
    assert d1 == {"a": '{"b":{"c":1}}', "d": "[1,2]", "e": "v"}
    arr = dict(json_flatten(df, expand_array=True).collect()[0]["fields"])
    assert arr["d_0"] == "1" and arr["d_1"] == "2"


def test_ann_ivf_topk(spark):
    """IVF returns a candidate-restricted top-k: every returned cos matches
    the exact cosine, recall vs brute force is positive, and the candidate
    join has no cartesian on the corpus side."""
    import random

    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    from loongcollector_spark.operators.ann import ann_ivf_topk

    out_df = ann_ivf_topk(df, query_ids=[100, 200], k=5, n_centroids=8, nprobe=3)
    plan = out_df._jdf.queryExecution().executedPlan().toString()
    # only the K-centroid fan-outs may be nested-loop; the corpus candidate
    # join must be an EQUI join on centroid_id (hash or sort-merge — AQE picks)
    import re as _re

    assert _re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[centroid_id", plan)
    ivf = {(r["query_id"], r["neighbor_id"]): r["cos6"] for r in out_df.collect()}
    assert len(ivf) == 10  # 2 queries x k=5

    # brute-force reference
    from loongcollector_spark.operators.dedup import cosine
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    v = df.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    q = v.filter(F.col("id").isin(100, 200)).select(
        F.col("id").alias("query_id"), F.col("v").alias("q_vec")
    )
    scored = v.join(F.broadcast(q), F.col("id") != F.col("query_id")).withColumn(
        "cos6", F.round(cosine(F.col("q_vec"), F.col("v")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos6").desc(), F.col("id"))
    brute = {
        (r["query_id"], r["id"]): r["cos6"]
        for r in scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5).collect()
    }
    common = set(ivf) & set(brute)
    assert common, "IVF found none of the true top-k (nprobe=3/8 should catch some)"
    for key in common:
        assert abs(ivf[key] - brute[key]) < 1e-9  # exact cosines, same rounding


def test_connected_components_chain(spark):
    # chain 1-2-3-4 plus isolated pair 10-11: labels collapse to component min
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    labs = {r["node"]: r["lab"] for r in D.connected_components(edges).collect()}
    assert labs == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dup_clusters_sizes(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    rows = {r["doc_id"]: (r["rep_doc_id"], r["cluster_size"]) for r in
            D.dup_clusters(edges).collect()}
    assert rows == {1: (1, 3), 2: (1, 3), 3: (1, 3), 7: (7, 2), 8: (7, 2)}


def test_stratified_sample_deterministic(spark):
    from loongcollector_spark.operators.sampling import stratified_sample

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 3).cast("string")).alias("source"),
    )
    kept = stratified_sample(df, "doc_id", "source", {"src0": 0.5, "src1": 0.05},
                             default_rate=0.2)
    ids1 = sorted(r["doc_id"] for r in kept.collect())
    # same rows at a different partitioning (membership is keyed, not positional)
    ids2 = sorted(r["doc_id"] for r in
                  stratified_sample(df.repartition(13), "doc_id", "source",
                                    {"src0": 0.5, "src1": 0.05}, 0.2).collect())
    assert ids1 == ids2 and len(ids1) > 0
    by_src = {s: 0 for s in ("src0", "src1", "src2")}
    for r in kept.collect():
        by_src[r["source"]] += 1
    # ~667 per stratum: rates 0.5 / 0.05 / 0.2 within loose md5-noise bounds
    assert 250 < by_src["src0"] < 420
    assert 10 < by_src["src1"] < 70
    assert 85 < by_src["src2"] < 195


def test_vocab_topk(docs):
    out = X.vocab_topk(docs, k=5).collect()
    assert [r["rank"] for r in out] == [1, 2, 3, 4, 5]
    top = out[0]
    assert top["word"] == "the" and top["cnt"] == 6 and top["df_cnt"] == 3
    # ranks ordered by cnt desc then word asc
    assert all(out[i]["cnt"] >= out[i + 1]["cnt"] for i in range(len(out) - 1))


# ---------------------------------------------------------------------------
# round-3 training-pipeline ops: decontamination, packing, PII, repetition,
# mixture reweighting, segment dedup
# ---------------------------------------------------------------------------

def test_ngram_contamination(spark):
    from loongcollector_spark.operators.decontam import decontaminate, ngram_contamination

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
            (3, "alpha beta gamma delta unrelated tail words"),
        ],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame(
        [(100, "prefix alpha beta gamma delta suffix")], "doc_id int, text string"
    )
    hits = {r["doc_id"]: r for r in ngram_contamination(train, bench, n=4).collect()}
    # docs 1 and 3 share the 4-gram "alpha beta gamma delta" with bench doc 100
    assert set(hits) == {1, 3}
    assert hits[1]["hit_grams"] == 1 and hits[1]["bench_docs"] == 1
    clean = sorted(r["doc_id"] for r in decontaminate(train, bench, n=4).collect())
    assert clean == [2]


def test_pack_chunks_boundaries(spark):
    from loongcollector_spark.operators.packing import pack_chunks

    df = spark.createDataFrame(
        [
            (1, "a", 300),   # offsets 0-299    -> chunk 0
            (2, "a", 300),   # offsets 300-599  -> chunks 0-1 (spans boundary)
            (3, "a", 0),     # empty doc: occupies its start chunk (600 -> 1)
            (4, "a", 424),   # offsets 600-1023 -> chunks 1-1 (ends exactly at 1024)
            (5, "a", 1),     # offset 1024      -> chunk 2 (exact boundary start)
            (6, "b", 513),   # separate shard: offsets 0-512 -> chunks 0-1
        ],
        "doc_id int, source string, n_tok int",
    )
    out = {r["doc_id"]: r for r in pack_chunks(df, ctx_len=512).collect()}
    assert (out[1]["chunk_first"], out[1]["chunk_last"], out[1]["n_chunks"]) == (0, 0, 1)
    assert (out[2]["chunk_first"], out[2]["chunk_last"], out[2]["n_chunks"]) == (0, 1, 2)
    assert (out[3]["start_off"], out[3]["chunk_first"], out[3]["chunk_last"]) == (600, 1, 1)
    assert (out[4]["start_off"], out[4]["chunk_last"]) == (600, 1)
    assert (out[5]["start_off"], out[5]["chunk_first"]) == (1024, 2)
    assert (out[6]["shard"], out[6]["chunk_first"], out[6]["chunk_last"]) == ("b", 0, 1)


def test_chunk_sliding(spark):
    from loongcollector_spark.operators.packing import chunk_sliding

    df = spark.createDataFrame(
        [
            (1, list(range(10))),  # W=8,S=4: starts 1,5,9 -> lens 8,6,2
            (2, list(range(3))),   # shorter than min_len=4 -> nothing
            (3, list(range(8))),   # full window + a min_len-sized tail
            (4, []),               # empty -> nothing
        ],
        "doc_id int, tokens array<int>",
    )
    rows = chunk_sliding(df, window=8, stride=4, min_len=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: start 9 gives only 2 tokens < min_len -> dropped
    got1 = sorted((r["chunk_id"], r["chunk_start"], r["n_chunk_tok"], r["chunk"]) for r in by_doc[1])
    assert got1 == [(0, 1, 8, list(range(8))), (1, 5, 6, list(range(4, 10)))]
    assert 2 not in by_doc and 4 not in by_doc
    got3 = sorted((r["chunk_start"], r["chunk"]) for r in by_doc[3])
    assert got3 == [(1, list(range(8))), (5, [4, 5, 6, 7])]
    # overlap invariant: consecutive chunks share window - stride tokens
    assert got1[0][3][4:] == got1[1][3][:4]


def test_cms_overcount_and_merge(spark):
    from loongcollector_spark.operators.sketch import cms_build, cms_estimate

    rows = [(i, f"k{i % 37}") for i in range(2000)] + [(9999, "hot")] * 300
    df = spark.createDataFrame(rows, "i int, k string")
    sk = cms_build(df, F.col("k"), depth=4, width=256)
    probes = df.select("k").distinct()
    est = {r["k"]: r["est"] for r in cms_estimate(sk, probes, F.col("k"), depth=4, width=256).collect()}
    exact = {r["k"]: r["c"] for r in df.groupBy("k").agg(F.count("*").alias("c")).collect()}
    # one-sided error: CMS never undercounts
    for k, c in exact.items():
        assert est[k] >= c, (k, est[k], c)
    # with 38 keys in a 4x256 sketch, collisions are rare: most are exact
    assert sum(est[k] == exact[k] for k in exact) >= 35
    assert est["hot"] >= 300

    # mergeability: per-half sketches union + re-agg == whole-corpus sketch
    h1 = cms_build(df.filter("i % 2 = 0"), F.col("k"), depth=4, width=256)
    h2 = cms_build(df.filter("i % 2 = 1"), F.col("k"), depth=4, width=256)
    merged = h1.unionByName(h2).groupBy("r", "col").agg(F.sum("c").alias("c"))
    diff = (
        merged.alias("m")
        .join(sk.alias("s"), ["r", "col"], "full")
        .filter("coalesce(m.c, -1) != coalesce(s.c, -2)")
        .count()
    )
    assert diff == 0


def test_semdedup_planted(spark):
    from loongcollector_spark.operators.dedup import semdedup

    # two well-separated directions; ids 10/11 are near-copies of id 0's
    # direction, id 20 is a near-copy of id 1's — both must be flagged;
    # the orthogonal singletons must survive
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (10, [0.99, 0.01, 0.0, 0.0]),
        (11, [0.98, 0.0, 0.02, 0.0]),
        (20, [0.01, 0.99, 0.0, 0.0]),
        (30, [0.0, 0.0, 1.0, 0.0]),  # far from both seeds
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = {r["vec_id"]: r for r in semdedup(df, k=2, iters=1, tau=0.95).collect()}
    assert out[10]["is_dup"] and out[11]["is_dup"] and out[20]["is_dup"]
    assert not out[0]["is_dup"] and not out[1]["is_dup"] and not out[30]["is_dup"]
    # dups co-cluster with their seed
    assert out[10]["cluster"] == out[0]["cluster"] == out[11]["cluster"]
    assert out[20]["cluster"] == out[1]["cluster"]
    assert out[10]["max_earlier_cos"] >= 0.99
    # keep-lowest-id: the seed itself has no earlier neighbor above tau
    assert out[0]["max_earlier_cos"] is None


def test_token_budget_sample(spark):
    from pyspark.sql import Window
    from loongcollector_spark.operators.sampling import token_budget_sample

    df = spark.createDataFrame(
        [(i, "a" if i % 3 else "b", 10 + i % 7) for i in range(400)],
        "doc_id int, source string, n_tok int",
    )
    got = token_budget_sample(df, default_budget=800, budgets={"b": 300}).collect()
    # reference: plain per-stratum window over the same hash order
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ref = (
        df.withColumn("cum", F.sum(F.col("n_tok").cast("long")).over(w))
        .filter(
            F.col("cum") <= F.when(F.col("source") == "b", 300).otherwise(800)
        )
        .collect()
    )
    assert {(r["doc_id"], r["cum_tok"]) for r in got} == {
        (r["doc_id"], r["cum"]) for r in ref
    }
    # budgets actually bite and are honored per stratum
    by_src = {}
    for r in got:
        by_src[r["stratum"]] = max(by_src.get(r["stratum"], 0), r["cum_tok"])
    assert 0 < by_src["a"] <= 800 and 0 < by_src["b"] <= 300
    assert len(got) < 400


def test_pii_redact(spark):
    from loongcollector_spark.operators.text import pii_redact

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@example.co.uk from 192.168.001.7 call +1 555 123 4567 done"),
            (2, "no pii here at all"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in pii_redact(df).collect()}
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_phone"]) == (1, 1, 1)
    assert out[1]["text_redacted"] == "mail <EMAIL> from <IP> call <PHONE> done"
    assert (out[2]["n_email"], out[2]["n_ipv4"], out[2]["n_phone"]) == (0, 0, 0)
    assert out[2]["text_redacted"] == "no pii here at all"


def test_repetition_stats(spark):
    from loongcollector_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b a b a"),                 # 2-grams: ab ba ab ba -> dup 0.5, top 0.5
            (2, "u v w x y z"),               # all distinct -> dup 0, top 0.2
            (3, "spam spam spam spam spam"),  # one gram x4 -> dup 0.75, top 1.0
        ],
        "doc_id int, text string",
    )
    st = {r["doc_id"]: r for r in repetition_stats(df, n=2).collect()}
    assert st[1]["n_grams"] == 4 and st[1]["dup_gram_frac"] == 0.5 and st[1]["top_gram_frac"] == 0.5
    assert st[2]["dup_gram_frac"] == 0.0 and st[2]["top_gram_frac"] == 0.2
    assert st[3]["dup_gram_frac"] == 0.75 and st[3]["top_gram_frac"] == 1.0


def test_mixture_weights(spark):
    from loongcollector_spark.operators.sampling import mixture_weights

    rows = [(i, "big") for i in range(9)] + [(100, "small")]
    df = spark.createDataFrame(rows, "doc_id int, source string")
    out = {r["stratum"]: r for r in mixture_weights(df, "source", alpha=0.5).collect()}
    # p = .9/.1; w = 3/1; q = .75/.25; ratio q/p = .8333/2.5 -> rates .3333/1.0
    assert out["big"]["n_docs"] == 9 and out["small"]["n_docs"] == 1
    assert abs(out["big"]["p"] - 0.9) < 1e-9 and abs(out["big"]["q"] - 0.75) < 1e-6
    assert out["small"]["sample_rate"] == 1.0
    assert abs(out["big"]["sample_rate"] - 0.333333) < 1e-6
    # alpha=1 keeps natural proportions: every rate is 1.0
    nat = mixture_weights(df, "source", alpha=1.0).collect()
    assert all(r["sample_rate"] == 1.0 for r in nat)


def test_segment_dedup(spark):
    from loongcollector_spark.operators.dedup import segment_dedup

    seg_a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    seg_b = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"
    seg_c = "y1 y2 y3 y4 y5 y6 y7 y8 y9 y10"
    df = spark.createDataFrame(
        [
            (1, f"{seg_a} {seg_b}"),      # both segments first occurrence
            (2, f"{seg_a} {seg_c}"),      # seg_a dies (doc 1 pos 0 wins), seg_c survives
            (3, seg_b),                   # fully duplicated -> empty
            (4, "short tail"),            # sub-span segment, unique
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in segment_dedup(df, seg_words=10).collect()}
    assert (out[1]["n_segs"], out[1]["n_kept"], out[1]["text_clean"]) == (2, 2, f"{seg_a} {seg_b}")
    assert (out[2]["n_segs"], out[2]["n_kept"], out[2]["text_clean"]) == (2, 1, seg_c)
    assert (out[3]["n_segs"], out[3]["n_kept"], out[3]["text_clean"]) == (1, 0, "")
    assert (out[4]["n_segs"], out[4]["n_kept"], out[4]["text_clean"]) == (1, 1, "short tail")


def test_unigram_logprob(spark):
    import math

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id int, text string"
    )
    out = {r["doc_id"]: r for r in X.unigram_logprob(df).collect()}
    # corpus counts: a=2, b=2, c=1; total=5, vocab=3 -> p(a)=3/8, p(b)=3/8, p(c)=2/8
    lp_a = math.log(3 / 8)
    lp_c = math.log(2 / 8)
    assert out[1]["n_words"] == 3
    assert abs(out[1]["avg_nll"] - round(-(2 * lp_a + lp_a) / 3, 6)) < 1e-6
    assert out[2]["n_words"] == 2
    assert abs(out[2]["avg_nll"] - round(-(lp_a + lp_c) / 2, 6)) < 1e-6


def test_tfidf_top_terms(spark):
    df = spark.createDataFrame(
        [
            (1, "apple apple banana shared"),
            (2, "cherry shared shared"),
            (3, "banana cherry shared"),
        ],
        "doc_id int, text string",
    )
    out = X.tfidf_top_terms(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rk"], r["term"], r["score"]))
    # doc 1: apple tf=2 df=1 -> 2*ln3 (top); shared tf=1 df=3 -> score 0
    top1 = sorted(by_doc[1])[0]
    assert top1[1] == "apple" and abs(top1[2] - round(2 * 1.0986122886681098, 6)) < 1e-6
    # ties on score break by term asc: doc 3 banana/cherry both tf=1 df=2
    d3 = [t for _, t, _ in sorted(by_doc[3])]
    assert d3 == ["banana", "cherry"]
    assert all(len(v) <= 2 for v in by_doc.values())


def test_percentile_band_filter(spark):
    from loongcollector_spark.operators.sampling import percentile_band_filter

    df = spark.createDataFrame([(i, i) for i in range(1, 101)], "id int, v int")
    kept = sorted(r["id"] for r in percentile_band_filter(df, "v", 0.05, 0.95).collect())
    # P5 of 1..100 = 5.95, P95 = 95.05 (linear interpolation) -> keep 6..95
    assert kept == list(range(6, 96))
    # exact=False path still runs (approx sketch), keeps a similar band
    approx = percentile_band_filter(df, "v", 0.05, 0.95, exact=False).count()
    assert 85 <= approx <= 95


def test_quantize_int8(spark):
    from loongcollector_spark.operators.ann import quantize_int8

    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5]), (2, [0.0, 0.0]), (3, [-4.0])],
        "vec_id int, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    # vec 1: m=2 -> q = floor([63.5, -127, 31.75] + .5) = [64, -127, 32]
    assert (out[1]["dim"], out[1]["q_sum"], out[1]["q_min"], out[1]["q_max"]) == (3, -31, -127, 64)
    assert abs(out[1]["scale6"] - round(2.0 / 127, 6)) < 1e-9
    # all-zero vector: epsilon guard, q all zero
    assert (out[2]["q_sum"], out[2]["q_min"], out[2]["q_max"]) == (0, 0, 0)
    # single negative: q = floor(-127 + .5) = -127
    assert out[3]["q_sum"] == -127


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee: any shared word run of >= w+k-1 words yields a
    shared fingerprint, even when the run sits at DIFFERENT offsets (the case
    fixed-offset segment_dedup misses); short docs keep one global-min fp."""
    shared = "alpha beta gamma delta epsilon zeta"  # 6 words = w+k-1 (w=4,k=3)
    df = spark.createDataFrame(
        [
            (1, f"one two {shared} nine ten"),
            (2, f"{shared} completely different tail words"),  # offset shift
            (3, "tiny doc"),                                   # < k words -> 0 grams... actually 2 words < k=3
            (4, "just three words"),                           # exactly one gram, < w window
        ],
        "doc_id int, text string",
    )
    fps = D.winnow_fingerprints(df, k=3, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared 6-word run must share a fingerprint"
    assert 3 not in by_doc          # 2 words -> no 3-grams -> no fingerprints
    assert len(by_doc[4]) == 1      # single gram -> its hash is the one fp

    pairs = {(r["id_a"], r["id_b"]): r["n_shared"] for r in
             D.winnow_pairs(df, k=3, w=4, min_shared=1).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1


def test_winnow_rightmost_tie_and_positions(spark):
    """A repeated gram produces equal hashes; the packed key must select the
    RIGHTMOST position of the tie within each window, and fp_pos must decode
    back to a real gram position."""
    # 'x y z' gram repeats at positions 0 and 2
    df = spark.createDataFrame([(1, "x y z y x y z")], "doc_id int, text string")
    rows = D.winnow_fingerprints(df, k=3, w=2).collect()
    n_grams = 5  # 7 words -> 5 3-grams
    assert all(0 <= r["fp_pos"] < n_grams for r in rows)
    # window over positions (1,2): both grams 'y z y'(1)... hash ties happen
    # only for identical grams; 'x y z' at 0 vs 4: same fp, both selectable -> 
    # the distinct set contains at most one row per (fp, pos) pair
    assert len(rows) == len({(r["fp"], r["fp_pos"]) for r in rows})


def test_hash_split_deterministic_and_disjoint(spark):
    from loongcollector_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id int")
    out = hash_split(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] - 1600) < 120 and counts["train"] + counts["val"] + counts["test"] == 2000
    # pure function of the key: identical assignment across repartitionings
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(df.repartition(13), "doc_id",
         {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    assert a == b


def test_deterministic_shuffle_stable(spark):
    from loongcollector_spark.operators.sampling import deterministic_shuffle

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id int")
    o1 = [r["doc_id"] for r in deterministic_shuffle(df, "doc_id", seed=7)
          .orderBy("shuffle_rank").collect()]
    o2 = [r["doc_id"] for r in deterministic_shuffle(df.repartition(11), "doc_id", seed=7)
          .orderBy("shuffle_rank").collect()]
    assert o1 == o2                      # permutation is a function of (seed, key)
    assert sorted(o1) == list(range(500))  # it IS a permutation
    assert o1[:20] != list(range(20))      # and not the identity
    o3 = [r["doc_id"] for r in deterministic_shuffle(df, "doc_id", seed=8)
          .orderBy("shuffle_rank").collect()]
    assert o1 != o3                      # seed changes the order


def test_incremental_dedup(spark):
    corpus = spark.createDataFrame(
        [(1, "existing doc one"), (2, "existing doc two")], "doc_id int, text string"
    )
    new = spark.createDataFrame(
        [
            (10, "Existing  doc one"),   # normalized dup of corpus -> dropped
            (11, "brand new document"),  # novel -> kept
            (12, "brand new document"),  # within-batch dup -> dropped (11 wins)
            (13, "another new one"),     # novel -> kept
        ],
        "doc_id int, text string",
    )
    kept = sorted(r["doc_id"] for r in D.incremental_dedup(new, corpus).collect())
    assert kept == [11, 13]
    # within_batch=False keeps both batch copies (corpus check only)
    kept2 = sorted(
        r["doc_id"] for r in D.incremental_dedup(new, corpus, within_batch=False).collect()
    )
    assert kept2 == [11, 12, 13]


def test_boilerplate_strip(spark):
    # "cookie banner ok" span appears in 3 docs -> stripped everywhere at
    # min_docs=3; unique spans survive in position order
    rows = [
        (1, "cookie banner ok unique alpha text here now"),
        (2, "cookie banner ok different beta words go here"),
        (3, "cookie banner ok gamma body content stays put"),
        (4, "totally original document with no shared spans"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in
           X.boilerplate_strip(df, span=3, min_docs=3).collect()}
    # every doc has ceil(8/3)=3 spans
    assert all(out[i]["n_segs"] == 3 for i in (1, 2, 3, 4))
    # the shared leading span is gone from docs 1-3, kept order preserved
    assert out[1]["text_clean"] == "unique alpha text here now"
    assert out[2]["text_clean"] == "different beta words go here"
    assert out[1]["n_kept"] == 2
    # untouched doc keeps everything
    assert out[4]["n_kept"] == 3
    assert out[4]["text_clean"] == "totally original document with no shared spans"


def test_hashed_ngram_classifier(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "zk1 zk2")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in
           X.hashed_ngram_classifier(df).select("doc_id", "n_grams", "clf_score").collect()}
    # 3 words -> 3 unigrams + 2 bigrams
    assert out[1]["n_grams"] == 5
    assert out[3]["n_grams"] == 3
    # deterministic: identical text = identical score; scores in (0, 1)
    assert out[1]["clf_score"] == out[2]["clf_score"]
    assert 0.0 < out[1]["clf_score"] < 1.0


def test_bigram_logprob(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a b c d e f")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in X.bigram_logprob(df).collect()}
    assert out[1]["n_bigrams"] == 5 and out[2]["n_bigrams"] == 5
    # doc 1 is pure repetition of the corpus's dominant bigram -> lower NLL
    assert out[1]["avg_nll"] < out[2]["avg_nll"]


def test_length_batching(spark):
    from loongcollector_spark.operators.sampling import length_batching

    rows = [(i, "s", 10 * (i % 7) + 1) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id int, source string, n_chars int")
    out = {r["batch_id"]: r for r in
           length_batching(df, batch_rows=4).collect()}
    # 10 rows -> batches of 4,4,2 in length order
    assert [out[i]["n_rows"] for i in (0, 1, 2)] == [4, 4, 2]
    # batches are length-sorted: max of batch 0 <= min of batch 1, etc.
    assert out[0]["max_len"] <= out[1]["min_len"]
    assert out[1]["max_len"] <= out[2]["min_len"]
    # pad_frac consistent with the stats
    r = out[0]
    assert abs(r["pad_frac"] - (1 - r["sum_len"] / (r["n_rows"] * r["max_len"]))) < 1e-6


def test_bloom_membership(spark):
    corpus = spark.createDataFrame(
        [(i, f"corpus document number {i}") for i in range(50)],
        "doc_id int, text string",
    )
    bitmap = D.bloom_bitmap(corpus, m_bits=16384, k=3)
    # bitmap is bounded by m/63 words no matter the corpus size
    assert bitmap.count() <= 16384 // 63 + 1
    batch = spark.createDataFrame(
        [(100, "corpus document number 7"),   # exists -> MUST flag (no false negatives)
         (101, "Corpus  Document Number 8"),  # normalization-equal -> MUST flag
         (102, "entirely novel text never seen")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r["maybe_dup"] for r in
           D.bloom_membership(batch, bitmap, m_bits=16384, k=3).collect()}
    assert out[100] is True and out[101] is True
    # 3 hashes over 16384 bits with 150 set bits: FP odds ~(150/16384)^3 ~ 1e-6
    assert out[102] is False


def test_vocab_encode(spark):
    df = spark.createDataFrame(
        [(1, "aa bb aa cc"), (2, "aa bb zz-rare")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in
           X.vocab_encode(df, vocab_size=3, head=4).collect()}
    # corpus freqs: aa=3 bb=2 cc=1 zz-rare=1 -> vocab = {aa:1, bb:2, cc:3}
    # (ties on cnt break alphabetically: cc beats zz-rare)
    assert out[1]["ids_head"] == "1,2,1,3"
    assert out[1]["n_oov"] == 0
    assert out[2]["ids_head"] == "1,2,0"   # zz-rare is OOV -> 0
    assert out[2]["n_oov"] == 1
    assert abs(out[2]["oov_rate"] - 1 / 3) < 1e-5


def test_char_entropy(spark):
    df = spark.createDataFrame(
        [(1, "aaaaaaaa"), (2, "abcdefgh")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in X.char_entropy(df).collect()}
    import math
    assert out[1]["entropy"] == 0.0                       # single-char spam
    assert abs(out[2]["entropy"] - math.log(8)) < 1e-5    # uniform over 8 chars
    assert out[2]["n_chars_t"] == 8


def test_gopher_rules(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the riverbank today "
                "while birds sing in trees and wind moves through tall grass slowly"),
            (2, "word " * 3),                      # too few words
            (3, "spark table " * 30),              # no stopword from the en list
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in X.gopher_rules(df, min_words=20, max_words=80).collect()}
    assert out[1]["keep"] is True
    assert out[2]["r_word_count"] is False and out[2]["keep"] is False
    assert out[3]["r_word_count"] is True and out[3]["r_stopword"] is False
    assert out[3]["keep"] is False


def test_keyword_tag(spark):
    df = spark.createDataFrame(
        [
            (1, "spark spark sort table"),   # compute=3 storage=1
            (2, "table fast row fast"),      # storage=2 perf=2 -> tie: storage (decl order)
            (3, "nothing matches here"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in X.keyword_tag(df).collect()}
    assert out[1]["top_topic"] == "compute" and out[1]["compute_hits"] == 3
    assert out[2]["top_topic"] == "storage" and out[2]["total_hits"] == 4
    assert out[3]["top_topic"] == "none" and out[3]["total_hits"] == 0


def test_cluster_survivors(spark):
    from loongcollector_spark.operators.dedup import cluster_survivors

    clusters = spark.createDataFrame(
        [(10, 10, 3), (11, 10, 3), (12, 10, 3), (20, 20, 2), (21, 20, 2)],
        "doc_id long, rep_doc_id long, cluster_size int",
    )
    docs = spark.createDataFrame(
        [(10, 100), (11, 250), (12, 250), (20, 40), (21, 40)],
        "doc_id long, n_chars long",
    )
    out = {r["doc_id"]: r for r in cluster_survivors(clusters, docs).collect()}
    # cluster 10: max n_chars=250 shared by 11,12 -> min id 11 survives
    assert out[10]["survivor_doc_id"] == 11 and out[10]["is_drop"] is True
    assert out[11]["is_drop"] is False and out[11]["survivor_score"] == 250
    assert out[12]["is_drop"] is True
    # cluster 20: tie on 40 -> min id 20 survives
    assert out[20]["is_drop"] is False and out[21]["is_drop"] is True


def test_skew_probe(spark):
    from loongcollector_spark.operators.aggregate import skew_probe

    df = spark.createDataFrame(
        [(i, "hot" if i < 80 else ("warm" if i < 95 else "cold")) for i in range(100)],
        "doc_id int, source string",
    )
    out = {r["key"]: r for r in
           skew_probe(df, key_col="source", top_k=2, target_rows_per_task=10).collect()}
    assert set(out) == {"hot", "warm"}          # top-2 only
    assert out["hot"]["cnt"] == 80 and out["hot"]["share_ppm"] == 800000
    assert out["hot"]["skew_ppm"] == 2400000    # 80 / (100/3 mean), ×1e6
    assert out["hot"]["recommended_salts"] == 8
    assert out["warm"]["recommended_salts"] == 2
    assert out["hot"]["n_keys"] == 3


def test_zipf_fit(spark):
    import math
    # freq ~ 1/rank exactly: 8,4,2,1 for 4 words -> slope = -1 on log2... use ln
    rows = []
    did = 0
    for word, n in [("alpha", 8), ("beta", 4), ("gamma", 2), ("delta", 1)]:
        for _ in range(n):
            rows.append((did, word)); did += 1
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = X.zipf_fit(df, top_v=4).collect()[0]
    assert out["n_words_fit"] == 4
    assert out["top_word"] == "alpha" and out["top_cnt"] == 8
    # ln(cnt) = ln8 - slope*... perfect power law except rank spacing; the
    # fit over (ln r, ln c) with c = 8/2^(r-1) is not exactly -1; just sanity:
    assert -2.0 < out["zipf_slope"] < -0.5
    assert out["zipf_r2"] > 0.9


def test_dataset_card(spark):
    df = spark.createDataFrame(
        [(1, "a b c", "en", "s1"), (2, "d e", "fr", "s1"), (3, "f", "en", "s2")],
        "doc_id int, text string, lang string, source string",
    )
    out = {r["source"]: r for r in X.dataset_card(df).collect()}
    assert out["s1"]["n_docs"] == 2 and out["s1"]["n_words"] == 5
    assert out["s1"]["docs_en"] == 1 and out["s1"]["docs_fr"] == 1
    assert out["s1"]["min_words"] == 2 and out["s1"]["max_words"] == 3
    assert out["s2"]["n_docs"] == 1 and out["s2"]["docs_en"] == 1
    assert out["s2"]["avg_words"] == 1.0


# ---------------------------------------------------------------- asof join


def test_asof_join(spark):
    from datetime import datetime as dt

    from loongcollector_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [
            (1, dt(2024, 1, 1, 10, 0, 0), 100),
            (2, dt(2024, 1, 1, 12, 0, 0), 100),
            (3, dt(2024, 1, 1, 9, 0, 0), 200),   # before any right row
            (4, dt(2024, 1, 1, 11, 0, 0), 300),  # exact-ts tie with right
        ],
        "event_id int, ts timestamp, user_id int",
    )
    right = spark.createDataFrame(
        [
            (91, dt(2024, 1, 1, 9, 30, 0), 100, 1.0),
            (92, dt(2024, 1, 1, 11, 0, 0), 100, 2.0),
            (93, dt(2024, 1, 1, 11, 0, 0), 300, 3.0),   # equal to left id=4
            (94, dt(2024, 1, 1, 11, 0, 0), 300, 4.0),   # same-ts dup: max event_id wins
        ],
        "event_id int, ts timestamp, user_id int, value double",
    )
    out = {
        r["event_id"]: r
        for r in asof_join(
            left, right, on="user_id", ts_col="ts",
            right_cols=["event_id", "value"], suffix="_p",
            right_order_col="event_id",
        ).collect()
    }
    assert len(out) == 4
    assert out[1]["event_id_p"] == 91 and out[1]["value_p"] == 1.0
    assert out[2]["event_id_p"] == 92            # latest at-or-before 12:00
    assert out[3]["event_id_p"] is None          # no prior purchase
    assert out[4]["event_id_p"] == 94            # at-or-before includes equal ts; tie → max order col


def test_asof_join_tolerance(spark):
    from datetime import datetime as dt

    from loongcollector_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, dt(2024, 1, 1, 10, 0, 0), 7)], "event_id int, ts timestamp, user_id int"
    )
    right = spark.createDataFrame(
        [(9, dt(2024, 1, 1, 8, 0, 0), 7, 5.0)],
        "event_id int, ts timestamp, user_id int, value double",
    )
    hit = asof_join(left, right, on="user_id", ts_col="ts",
                    right_cols=["value"], tolerance_sec=3 * 3600).collect()[0]
    miss = asof_join(left, right, on="user_id", ts_col="ts",
                     right_cols=["value"], tolerance_sec=3600).collect()[0]
    assert hit["value_r"] == 5.0 and miss["value_r"] is None


def test_asof_join_null_payload_no_stitching(spark):
    """A right payload column that is legitimately NULL on the matched row must
    stay NULL — not be carried forward from an OLDER match (DuckDB ASOF /
    pandas merge_asof take all columns from the single matched row)."""
    from datetime import datetime as dt

    from loongcollector_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, dt(2024, 1, 1, 12, 0, 0), 7)], "event_id int, ts timestamp, user_id int"
    )
    right = spark.createDataFrame(
        [
            (90, dt(2024, 1, 1, 9, 0, 0), 7, 5.0),   # older match, value present
            (91, dt(2024, 1, 1, 11, 0, 0), 7, None),  # newest match, value NULL
        ],
        "event_id int, ts timestamp, user_id int, value double",
    )
    row = asof_join(
        left, right, on="user_id", ts_col="ts",
        right_cols=["event_id", "value"], suffix="_p", right_order_col="event_id",
    ).collect()[0]
    assert row["event_id_p"] == 91
    assert row["value_p"] is None  # NOT 5.0 stitched from event 90


def test_asof_tolerance_dst_safe(spark):
    """Staleness is decided on the tz-free wall-clock delta: with a DST-shifting
    session timezone, NTZ timestamps straddling the spring-forward gap must
    still measure 2h apart (the old TIMESTAMP→double round-trip read 1h and
    kept a stale match alive)."""
    from datetime import datetime as dt

    from loongcollector_spark.operators.asof import asof_join

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        # 2024-03-10: 02:00 EST jumps to 03:00 EDT. Wall-clock delta = 2h,
        # physical delta in NY = 1h.
        left = spark.createDataFrame(
            [(1, dt(2024, 3, 10, 3, 30, 0), 7)],
            "event_id int, ts timestamp_ntz, user_id int",
        )
        right = spark.createDataFrame(
            [(9, dt(2024, 3, 10, 1, 30, 0), 7, 5.0)],
            "event_id int, ts timestamp_ntz, user_id int, value double",
        )
        row = asof_join(
            left, right, on="user_id", ts_col="ts",
            right_cols=["value"], tolerance_sec=5400,  # 1.5h < 2h wall-clock
        ).collect()[0]
        assert row["value_r"] is None  # stale: 2h wall-clock > 1.5h tolerance
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


# ------------------------------------------------------------------- sketch


def test_hll_distinct(spark):
    from loongcollector_spark.operators.sketch import hll_distinct

    rows = [(f"g{i % 2}", i % 50) for i in range(1000)]  # g0/g1, 25 distinct each
    df = spark.createDataFrame(rows, "grp string, item int")
    out = {r["grp"]: r for r in
           hll_distinct(df, F.col("item"), ["grp"], p=6, audit=True).collect()}
    for g in ("g0", "g1"):
        assert out[g]["n_exact"] == 25
        # HLL with m=64 on 25 items: linear-counting regime, tight estimate
        assert abs(out[g]["n_est"] - 25) / 25 < 0.35
        assert out[g]["nonzero_buckets"] <= 25
        assert out[g]["z_scaled"] > 0
    # default (production) path: same estimate, no exact column
    dflt = {r["grp"]: r for r in hll_distinct(df, F.col("item"), ["grp"], p=6).collect()}
    for g in ("g0", "g1"):
        assert dflt[g]["n_est"] == out[g]["n_est"]
        assert "n_exact" not in dflt[g].asDict()


def test_hll_default_plan_has_no_raw_item(spark):
    """The sketch's reason to exist: the default aggregation must never move
    the raw item through the shuffle — no _item column, no count(distinct)
    anywhere in the optimized plan (VERDICT r3 perf item #3)."""
    from loongcollector_spark.operators.sketch import hll_distinct

    df = spark.createDataFrame([(1, "u1")], "grp int, item string")
    plan = (
        hll_distinct(df, F.col("item"), ["grp"], p=6)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "_item" not in plan
    assert "distinct" not in plan.lower()
    audit_plan = (
        hll_distinct(df, F.col("item"), ["grp"], p=6, audit=True)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "_item" in audit_plan  # the opt-in audit branch still works


def test_hll_determinism(spark):
    from loongcollector_spark.operators.sketch import hll_distinct

    df = spark.createDataFrame([(1, i) for i in range(200)], "grp int, item int")
    a = hll_distinct(df, F.col("item"), ["grp"], p=4).collect()[0]
    b = hll_distinct(df.repartition(7), F.col("item"), ["grp"], p=4).collect()[0]
    assert a["n_est"] == b["n_est"] and a["z_scaled"] == b["z_scaled"]


# ------------------------------------------------------------------- rollup


def test_rollup_counts(spark):
    from loongcollector_spark.operators.aggregate import rollup_counts

    df = spark.createDataFrame(
        [("a", "en", 10), ("a", "fr", 20), ("b", "en", 30)],
        "source string, lang string, n_chars int",
    )
    rows = {(r["source"], r["lang"]): r
            for r in rollup_counts(df, ["source", "lang"], measure_col="n_chars").collect()}
    assert rows[("(all)", "(all)")]["n_rows"] == 3
    assert rows[("(all)", "(all)")]["gid"] == 3
    assert rows[("a", "(all)")]["sum_n_chars"] == 30 and rows[("a", "(all)")]["gid"] == 1
    assert rows[("a", "en")]["n_rows"] == 1 and rows[("a", "en")]["gid"] == 0
    assert len(rows) == 1 + 2 + 3  # grand total + 2 sources + 3 leaf groups


# ---------------------------------------------------------------- thresholds


def test_threshold_sweep(docs):
    out = {r["threshold"]: r for r in X.threshold_sweep(docs, [0, 9, 100]).collect()}
    assert out[0]["kept_docs"] == 6 and out[0]["doc_frac"] == 1.0
    assert out[100]["kept_docs"] == 0 and out[100]["kept_words"] == 0
    assert 0 < out[9]["kept_docs"] <= 6
    assert out[9]["total_docs"] == 6


def test_length_histogram(docs):
    out = {r["bin"]: r for r in X.length_histogram(docs, lo=0, hi=20, n_bins=4).collect()}
    # docs have 9-11 words → bins 1 (5-10) and 2 (10-15) only
    assert set(out) <= {1, 2} and sum(r["n_docs"] for r in out.values()) == 6
    assert out[2]["bin_lo"] == 10.0 and out[2]["bin_hi"] == 15.0


def test_length_histogram_clamps(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, " ".join(["w"] * 500))], "doc_id int, text string"
    )
    out = {r["bin"]: r for r in X.length_histogram(df, lo=10, hi=20, n_bins=2).collect()}
    assert out[0]["n_docs"] == 1 and out[1]["n_docs"] == 1  # below-lo → 0, above-hi → last


def test_percentile_panel_exact(spark):
    from loongcollector_spark.operators.aggregate import percentile_panel

    # 1..5: type-7 p50 = 3.0, p90 = (n-1)*0.9 = 3.6 -> 4 + 0.6*(5-4) = 4.6
    df = spark.createDataFrame(
        [("a", float(v)) for v in (1, 2, 3, 4, 5)] + [("b", 10.0), ("b", None)],
        "grp string, value double",
    )
    rows = {
        r["grp"]: r
        for r in percentile_panel(df, "value", ["grp"], ps=(0.5, 0.9), exact=True).collect()
    }
    a, b = rows["a"], rows["b"]
    assert (a["n"], a["min_v"], a["max_v"]) == (5, 1.0, 5.0)
    assert (a["p50"], a["p90"]) == (3.0, 4.6)
    assert (b["n"], b["p50"]) == (1, 10.0)  # nulls ignored


def test_percentile_panel_approx_plan(spark):
    from loongcollector_spark.operators.aggregate import percentile_panel

    df = spark.range(1000).select(
        (F.col("id") % 4).cast("string").alias("grp"),
        F.col("id").cast("double").alias("value"),
    )
    out = percentile_panel(df, "value", ["grp"], ps=(0.5,))  # DEFAULT = approx
    # sketch aggregate, not a sort-based exact percentile (scale-safe default)
    assert "approx_percentile" in out._jdf.queryExecution().analyzed().toString()
    med = {r["grp"]: r["p50"] for r in out.collect()}
    for g, v in med.items():
        true_med = float(int(g)) + 4 * 124.5  # ids g, g+4, ..., g+996
        assert abs(v - true_med) <= 8.0


def test_batch_cuts_minute_and_count(spark):
    """FlushStrategy.h:88-104 SLS rule: a batch never spans a minute boundary
    (create-minute != event-minute cuts) and never exceeds min_cnt events."""
    from datetime import datetime as dt

    from loongcollector_spark.operators.aggregate import batch_cuts

    rows = (
        [("a", dt(2024, 3, 1, 10, 0, s), s) for s in range(5)]        # 5 in min 10:00
        + [("a", dt(2024, 3, 1, 10, 1, s), 100 + s) for s in range(2)]  # 2 in min 10:01
        + [("b", dt(2024, 3, 1, 10, 0, s), 200 + s) for s in range(3)]  # other group
    )
    df = spark.createDataFrame(rows, "grp string, ts timestamp, event_id int")
    out = {
        (r["grp"], str(r["minute"]), r["batch_seq"]): r
        for r in batch_cuts(df, ["grp"], min_cnt=2).collect()
    }
    # group a, minute 10:00: 5 events with cap 2 → batches of 2, 2, 1
    assert out[("a", "2024-03-01 10:00:00", 0)]["n_events"] == 2
    assert out[("a", "2024-03-01 10:00:00", 1)]["n_events"] == 2
    assert out[("a", "2024-03-01 10:00:00", 2)]["n_events"] == 1
    # minute boundary always cuts: 10:01 restarts at batch_seq 0
    assert out[("a", "2024-03-01 10:01:00", 0)]["n_events"] == 2
    assert out[("b", "2024-03-01 10:00:00", 0)]["n_events"] == 2
    assert out[("b", "2024-03-01 10:00:00", 1)]["n_events"] == 1
    assert len(out) == 6


def test_time_rollup_hourly(spark):
    from datetime import datetime as dt

    from loongcollector_spark.operators.aggregate import time_rollup

    rows = [
        (dt(2024, 3, 1, 10, 5), "a", 1.0),
        (dt(2024, 3, 1, 10, 59), "a", 3.0),
        (dt(2024, 3, 1, 11, 0), "a", 5.0),   # next bucket boundary
        (dt(2024, 3, 1, 10, 30), "b", 7.0),
    ]
    df = spark.createDataFrame(rows, "ts timestamp_ntz, event_type string, value double")
    out = {
        (r["bucket"].isoformat(), r["event_type"]): r
        for r in time_rollup(df, "ts", ["event_type"], value_col="value").collect()
    }
    a10 = out[("2024-03-01T10:00:00", "a")]
    assert (a10["n_rows"], a10["sum_v"], a10["avg_v"], a10["min_v"], a10["max_v"]) == (
        2, 4.0, 2.0, 1.0, 3.0,
    )
    assert out[("2024-03-01T11:00:00", "a")]["n_rows"] == 1
    assert out[("2024-03-01T10:00:00", "b")]["sum_v"] == 7.0


def test_time_rollup_decimal_grid_halfway(spark):
    """decimals=2 pins the cross-engine half-way hazard: 31×43.47 + 43.56
    sums to exactly 1391.13 and avg = 139113/3200 = 43.4728125, a decimal
    half at the 6th place where round(avg,6) differed between Spark's
    BigDecimal HALF_UP and DuckDB (sf0.1 driver replay, round 5).  The grid
    path must return the single IEEE quotient — bit-equal to Python's
    139113 / 3200.0 and to DuckDB evaluating the oracle-shaped SQL."""
    from datetime import datetime as dt

    import duckdb

    from loongcollector_spark.operators.aggregate import time_rollup

    rows = [(dt(2024, 1, 18, 22, i % 60), "signup", 43.47) for i in range(31)]
    rows.append((dt(2024, 1, 18, 22, 31), "signup", 43.56))
    df = spark.createDataFrame(rows, "ts timestamp_ntz, event_type string, value double")
    out = time_rollup(df, "ts", ["event_type"], value_col="value", decimals=2).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_rows"] == 32
    assert r["sum_v"] == 139113 / 100.0
    assert r["avg_v"] == 139113 / 3200.0  # exact IEEE quotient, no round()
    assert r["min_v"] == 43.47 and r["max_v"] == 43.56
    duck = duckdb.connect().execute(
        "select sum(c)/100.0, sum(c)/(count(*)*100.0) from ("
        "  select cast(round(v*100) as bigint) c from (values "
        + ",".join(["(43.47::double)"] * 31)
        + ",(43.56::double)) t(v))"
    ).fetchone()
    assert repr(duck[0]) == repr(r["sum_v"]) and repr(duck[1]) == repr(r["avg_v"])


def test_url_canonicalize_rules(spark):
    from loongcollector_spark.operators.url import url_canonicalize

    cases = [
        # (raw, expected canonical)
        ("HTTPS://WWW.Example.COM:443/A/b/#frag", "example.com/A/b"),
        ("http://example.com:80/", "example.com"),
        ("example.com/x?b=2&utm_source=s&a=1", "example.com/x?a=1&b=2"),
        ("//cdn.Example.com/img//", "cdn.example.com/img"),
        ("https://site.org/p?gclid=z&fbclid=y&ref=h", "site.org/p"),
        ("https://site.org/p?", "site.org/p"),
        ("https://a.b/P?x=1#f?y=2", "a.b/P?x=1"),  # fragment strips first
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], "i long, url string")
    got = {r["i"]: r["url_canon"] for r in url_canonicalize(df).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"


def test_url_dedup_keeps_min_id(spark):
    from loongcollector_spark.operators.url import url_dedup

    rows = [
        (1, "https://www.a.com/x/"),
        (2, "http://A.COM/x?utm_source=t"),
        (3, "a.com/x#frag"),
        (4, "a.com/y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["doc_id"]: r for r in url_dedup(df).collect()}
    assert out[1]["is_kept"] and out[1]["n_dups"] == 3
    assert not out[2]["is_kept"] and not out[3]["is_kept"]
    assert out[4]["is_kept"] and out[4]["n_dups"] == 1
    assert out[2]["url_canon"] == out[1]["url_canon"] == "a.com/x"


def test_pq_ann(spark):
    """PQ encode + ADC top-k: codes are dense positional indices, ADC ranking
    approximates exact L2 well enough that each query's true nearest neighbor
    (a near-duplicate vector planted next to it) ranks first, and the plan
    keeps the corpus unjoined to any vector table at query time (codes only)."""
    import random

    from loongcollector_spark.operators.ann import pq_ann_topk, pq_encode

    rng = random.Random(11)
    dim, n = 16, 80
    rows = []
    for i in range(n):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(dim)]))
    # plant near-dups: vector 70 ~ vector 30, vector 71 ~ vector 40
    rows[70] = (70, [x + 0.01 for x in rows[30][1]])
    rows[71] = (71, [x - 0.01 for x in rows[40][1]])
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    codes = {r.id: r.codes for r in pq_encode(df, m=4, k=8).collect()}
    assert len(codes) == n and all(len(c) == 4 for c in codes.values())
    assert all(0 <= x < 8 for c in codes.values() for x in c)
    # a training vector encodes to its own position in every subspace
    assert codes[0] == [0, 0, 0, 0] and codes[5] == [5, 5, 5, 5]
    out = pq_ann_topk(df, query_ids=[70, 71], topk=5, m=4, k=8)
    got = {(r.query_id, r.rk): r.neighbor_id for r in out.collect()}
    assert got[(70, 1)] == 30 and got[(71, 1)] == 40  # planted NN wins ADC
    assert len(got) == 10


def test_multi_metric_model(spark):
    """UntypedMultiDoubleValues model: counters add, gauges keep the latest
    observation, names live in one values map per event (MetricValue.h:47-81)."""
    from loongcollector_spark.operators.metric_multi import (
        COUNTER,
        GAUGE,
        multi_metric_merge,
        to_multi_metric,
    )

    rows = [
        ("a", "2024-01-01 10:00:00", 10.0),
        ("a", "2024-01-01 10:02:00", 30.0),
        ("a", "2024-01-01 10:01:00", 20.0),
        ("b", "2024-01-01 09:00:00", 5.0),
    ]
    df = spark.createDataFrame(rows, "grp string, ts_s string, v double").select(
        "grp", F.col("ts_s").cast("timestamp").alias("ts"), "v"
    )
    mm = to_multi_metric(
        df,
        counters={"total": F.col("v"), "hits": F.lit(1)},
        gauges={"last_v": F.col("v")},
        tag_cols=["grp"],
        time_col="ts",
    )
    one = mm.limit(1).collect()[0]
    assert set(one.values.keys()) == {"total", "hits", "last_v"}
    assert one.values["total"].mtype == COUNTER and one.values["last_v"].mtype == GAUGE
    merged = {
        r.grp: r
        for r in multi_metric_merge(mm, {"grp": F.col("tags")["grp"]}).collect()
    }
    assert merged["a"].values["total"].value == 60.0     # counter: sum
    assert merged["a"].values["hits"].value == 3.0
    assert merged["a"].values["last_v"].value == 30.0    # gauge: latest ts wins
    assert merged["a"].n_obs == 9 and merged["b"].values["last_v"].value == 5.0

    # a name in both counters and gauges would be a duplicate map key —
    # rejected up front instead of throwing DUPLICATED_MAP_KEY at runtime
    import pytest

    with pytest.raises(ValueError, match="both"):
        to_multi_metric(df, counters={"x": F.col("v")}, gauges={"x": F.col("v")},
                        tag_cols=["grp"], time_col="ts")

    # type-conflicted series resolve DETERMINISTICALLY to counter semantics
    # (min(mtype)), never partition-order-dependent first()
    cm = to_multi_metric(df.filter(F.col("grp") == "a"),
                         counters={"s": F.col("v")}, gauges={},
                         tag_cols=["grp"], time_col="ts")
    gm = to_multi_metric(df.filter(F.col("grp") == "b"),
                         counters={}, gauges={"s": F.col("v")},
                         tag_cols=["grp"], time_col="ts")
    mixed = multi_metric_merge(cm.union(gm), {"one": F.lit(1)}).collect()[0]
    assert mixed.values["s"].mtype == COUNTER
    assert mixed.values["s"].value == 60.0  # sums the counter-typed rows only


def test_stratified_sample_independent_of_hash_split(spark):
    """Sampling must be domain-separated from split assignment: a 50% sample
    keyed on the same id must contain val/test rows, not only train buckets."""
    from loongcollector_spark.operators.sampling import hash_split, stratified_sample

    df = spark.createDataFrame(
        [(i, "web") for i in range(4000)], "doc_id int, source string"
    )
    sample = stratified_sample(df, "doc_id", "source", {"web": 0.5})
    splits = hash_split(sample, "doc_id")
    got = {r.split for r in splits.select("split").distinct().collect()}
    assert "val" in got and "test" in got


# ------------------------------------------------- null-safety sweep (round 5)


def test_rollup_counts_null_dim_distinct_from_all(spark):
    """A genuine NULL detail value renders '(null)' and stays distinguishable
    from the rolled-up '(all)' subtotal row — only the grouping bit decides."""
    from loongcollector_spark.operators.aggregate import rollup_counts

    df = spark.createDataFrame(
        [("a", None, 10), ("a", "en", 20), (None, "en", 30)],
        "source string, lang string, n_chars int",
    )
    rows = {(r["source"], r["lang"], r["gid"]): r
            for r in rollup_counts(df, ["source", "lang"], measure_col="n_chars").collect()}
    # leaf rows (gid=0): NULLs render '(null)', never '(all)'
    assert rows[("a", "(null)", 0)]["n_rows"] == 1
    assert rows[("(null)", "en", 0)]["n_rows"] == 1
    # source subtotal rows (gid=1): lang is '(all)' by grouping bit
    assert rows[("a", "(all)", 1)]["n_rows"] == 2
    assert rows[("(null)", "(all)", 1)]["n_rows"] == 1
    # grand total
    assert rows[("(all)", "(all)", 3)]["n_rows"] == 3
    # the '(all)' label appears ONLY on rolled-up rows
    assert all(k[2] != 0 for k in rows if "(all)" in (k[0], k[1]))


def test_url_dedup_null_urls_survive_as_singletons(spark):
    """NULL URLs are unknown, not identical: each input row with a NULL
    canonical URL comes back as its own kept singleton (one row per input
    row), instead of being dropped by the null-unsafe equi-join."""
    from loongcollector_spark.operators.url import url_dedup

    df = spark.createDataFrame(
        [(1, "a.com/x"), (2, None), (3, None), (4, "a.com/x")],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r for r in url_dedup(df).collect()}
    assert len(out) == 4
    for nid in (2, 3):
        assert out[nid]["is_kept"] and out[nid]["n_dups"] == 1
        assert out[nid]["url_canon"] is None
    assert out[1]["is_kept"] and out[1]["n_dups"] == 2 and not out[4]["is_kept"]


def test_asof_join_null_right_ts_never_carries(spark):
    """A right row with NULL ts must not be carried as the 'most recent'
    match — before the filter it sorted FIRST ascending and leaked its
    payload to every left row preceding the first real right row."""
    from datetime import datetime as dt

    from loongcollector_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, dt(2024, 1, 1, 9, 0, 0), 100)],
        "event_id int, ts timestamp, user_id int",
    )
    right = spark.createDataFrame(
        [(90, None, 100, 666.0), (91, dt(2024, 1, 1, 10, 0, 0), 100, 1.0)],
        "event_id int, ts timestamp, user_id int, value double",
    )
    row = asof_join(
        left, right, on="user_id", ts_col="ts",
        right_cols=["event_id", "value"], suffix="_p",
        right_order_col="event_id",
    ).collect()[0]
    assert row["event_id_p"] is None and row["value_p"] is None


def test_filter_key_regex_null_fields_map(spark):
    """Exclude-only config on a NULL fields map: exists() is NULL, and
    True & ~NULL is NULL — the row was silently dropped. Coalesced to
    False, a NULL map matches no exclude regex and the row is KEPT;
    include regexes conversely cannot match a NULL map."""
    from loongcollector_spark.operators.filters import filter_key_regex

    df = spark.createDataFrame(
        [(1, {"k": "v"}), (2, None)],
        "id int, fields map<string,string>",
    )
    kept = {r["id"] for r in filter_key_regex(df, exclude=["^secret$"]).collect()}
    assert kept == {1, 2}
    kept = {r["id"] for r in filter_key_regex(df, include=["^k$"]).collect()}
    assert kept == {1}


def test_fan_out_duplicate_sink_rejected(spark):
    from loongcollector_spark.operators.route import SinkCondition, fan_out

    df = spark.createDataFrame([(1,)], "id int")
    with pytest.raises(ValueError, match="duplicate sink"):
        fan_out(df, [SinkCondition(sink="s"), SinkCondition(sink="s")])
