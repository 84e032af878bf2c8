"""Text-analysis operators for training-data pipelines (all native Catalyst —
no Python in any of these; every one is SQL-oracle-expressible).

* ``language_id``    — stopword-vote n-gram-free heuristic language ID.
* ``quality_score``  — length / punctuation / stopword-ratio / word-length
                       quality features + a composite score.
* ``token_count``    — whitespace tokens and a BPE-ish subword regex count.
* ``fingerprint``    — md5 content fingerprint over normalized text + 64-bit
                       prefix as a join-friendly bigint.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny self-authored stopword seed lists (top function words).
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "fr": ["le", "la", "les", "de", "des", "et", "en", "que", "pour", "dans"],
    "es": ["el", "la", "los", "de", "y", "en", "que", "para", "con", "por"],
    "de": ["der", "die", "das", "und", "von", "zu", "mit", "ist", "für", "auf"],
}


def _words(col: Column) -> Column:
    """Python ``text.lower().split()`` semantics: whitespace-run split with
    NO empty tokens. The array_remove matters on the edges — F.trim strips
    only ASCII space, so a text starting/ending with a tab or newline split
    to a phantom "" word (and an empty text counted 1 word) before; the
    DuckDB oracles carry the same ``list_filter(…, w -> w <> '')``."""
    return F.array_remove(F.split(F.trim(F.lower(col)), r"\s+", -1), "")


def language_id(df: DataFrame) -> DataFrame:
    """Stopword-vote language ID: the language whose ``STOPWORDS`` list
    intersects the document's word set most wins; ties and zero hits → 'und'.

    One pass, native set ops — at 100 TB this is a projection, no shuffle."""
    words = F.array_distinct(_words(F.col("text")))
    scores = {
        lang: F.size(F.array_intersect(words, F.array(*[F.lit(w) for w in lst])))
        for lang, lst in STOPWORDS.items()
    }
    best_score = F.greatest(*scores.values())
    # deterministic tie-break: first language (dict order) achieving the max
    pred = F.lit("und")
    for lang in reversed(list(scores)):
        pred = F.when((scores[lang] > 0) & (scores[lang] == best_score), F.lit(lang)).otherwise(pred)
    return df.withColumn("lang_pred", pred)


def quality_features(text: Column) -> dict[str, Column]:
    """The standard cheap quality heuristics (length, punctuation density,
    stopword ratio, mean word length) as named expressions."""
    words = _words(text)
    n_words = F.size(words)
    n_chars = F.length(text)
    en_sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    sw_hits = F.size(F.filter(words, lambda w: F.array_contains(en_sw, w)))
    punct = F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", ""))
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "mean_word_len": F.round(
            (n_chars - (n_words - F.lit(1))) / F.greatest(n_words, F.lit(1)), 6
        ),
        "punct_ratio": F.round(punct / F.greatest(n_chars, F.lit(1)), 6),
        "stopword_ratio": F.round(sw_hits / F.greatest(n_words, F.lit(1)), 6),
    }


def quality_score(df: DataFrame) -> DataFrame:
    """Composite [0,1] quality score: rewards stopword presence and moderate
    word length, penalizes punctuation soup and degenerate lengths."""
    ft = quality_features(F.col("text"))
    len_ok = (ft["n_words"] >= 5) & (ft["mean_word_len"] >= 2) & (ft["mean_word_len"] <= 12)
    score = (
        F.lit(0.4) * ft["stopword_ratio"] * 2.5
        + F.lit(0.3) * F.when(len_ok, 1.0).otherwise(0.0)
        + F.lit(0.3) * (F.lit(1.0) - F.least(ft["punct_ratio"] * 4, F.lit(1.0)))
    )
    out_df = df
    for name, expr in ft.items():
        if name not in df.columns:
            out_df = out_df.withColumn(name, expr)
    return out_df.withColumn("quality", F.round(F.least(score, F.lit(1.0)), 6))


# BPE-ish subword pieces: word chunks of up to 4 chars + single non-word marks.
BPE_ISH = r"[A-Za-z0-9]{1,4}|[^A-Za-z0-9\s]"


def token_count(df: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish subword count (regex piece model —
    deterministic stand-in for a real tokenizer's piece count)."""
    return df.withColumn("n_ws_tokens", F.size(_words(F.col("text")))).withColumn(
        "n_bpe_tokens", F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH), 0))
    )


def vocab_topk(df: DataFrame, k: int = 100) -> DataFrame:
    """Corpus vocabulary: top-k words by total frequency with document
    frequency and a dense 1..k rank. Rows: (word, cnt, df_cnt, rank).

    Scale shape: explode → ONE hash aggregation keyed by word (partial
    map-side combine collapses each partition's counts before the shuffle),
    then ``orderBy().limit(k)`` — Spark's takeOrdered, a per-partition top-k
    plus a k·P-row merge at the driver side of the exchange, NOT a global
    sort of the vocabulary. The rank window runs on the k surviving rows
    only, so its single-partition stage is k rows, never corpus-sized.
    Ties break on the word itself for determinism."""
    words = df.select(
        F.col("doc_id").alias("_doc"),
        F.explode(F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ", -1)).alias("word"),
    ).filter(F.col("word") != "")
    vocab = words.groupBy("word").agg(
        F.count(F.lit(1)).alias("cnt"), F.countDistinct("_doc").alias("df_cnt")
    )
    top = vocab.orderBy(F.col("cnt").desc(), F.col("word")).limit(k)
    w = Window.orderBy(F.col("cnt").desc(), F.col("word"))
    return top.withColumn("rank", F.row_number().over(w))


# PII patterns: the safe common regex subset (char classes, bounded repeats,
# non-capturing groups, \b) that Java (Spark) and RE2 (DuckDB/Go) interpret
# identically — no lookaround, no backrefs. Order matters: emails before
# phone-ish digit runs so the user part isn't half-eaten.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+[0-9][0-9 -]{7,}[0-9]", "<PHONE>"),
]


def pii_redact(df: DataFrame) -> DataFrame:
    """Scrub emails / IPv4s / international phone numbers, appending a
    per-category hit count. Pure chained ``regexp_replace`` +
    ``regexp_extract_all`` projections — scan-side at 100 TB, no shuffle, no
    Python. Counts are taken on the ORIGINAL text (before any replacement)
    so categories don't see each other's placeholder tokens."""
    red = F.col("text")
    for name, pat, repl in PII_PATTERNS:
        df = df.withColumn(
            f"n_{name}", F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), 0))
        )
        red = F.regexp_replace(red, pat, repl)
    return df.withColumn("text_redacted", red)


def repetition_stats(df: DataFrame, n: int = 2) -> DataFrame:
    """Gopher-style per-document repetition features over word ``n``-grams:

    * ``n_grams``       — total n-gram occurrences in the doc
    * ``dup_gram_frac`` — fraction of occurrences beyond each gram's first
                          (0 = all distinct, →1 = one gram repeated)
    * ``top_gram_frac`` — occurrence share of the single most frequent gram

    Rain-making repetition (boilerplate, keyword stuffing, decoding loops) is
    the cheapest high-signal quality cut on web-scale corpora (Gopher §A1.1
    uses thresholds over exactly these shapes).

    Scale shape: explode n-grams → ONE hash agg keyed (doc, gram) with
    map-side combine (each partition collapses its repeats before the
    shuffle) → ONE hash agg keyed doc. Both shuffles are keyed and
    combine-friendly; nothing is corpus-global, no window, no Python."""
    from loongcollector_spark.operators.dedup import normalize_text

    # every occurrence (NOT dedup.word_ngrams, which is array_distinct'd):
    # zip_with over shifted slices = one linear pass per extra word of n
    words = F.split(normalize_text(F.col("text")), " ", -1)
    cnt = F.greatest(F.size(words) - F.lit(n - 1), F.lit(0))
    gram_arr = F.slice(words, 1, cnt)
    for k in range(2, n + 1):
        gram_arr = F.zip_with(
            gram_arr, F.slice(words, k, cnt), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    grams = df.select(F.col("doc_id"), F.explode(gram_arr).alias("gram"))
    per_gram = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per_gram.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            (F.sum("cnt") - F.count(F.lit(1))).alias("_n_dup"),
            F.max("cnt").alias("_top_cnt"),
        )
        .select(
            "doc_id",
            "n_grams",
            F.round(F.col("_n_dup") / F.col("n_grams"), 6).alias("dup_gram_frac"),
            F.round(F.col("_top_cnt") / F.col("n_grams"), 6).alias("top_gram_frac"),
        )
    )


def unigram_logprob(df: DataFrame) -> DataFrame:
    """Corpus-unigram language-model quality score: per document, the mean
    negative log-probability (nats) of its words under an add-one-smoothed
    unigram LM fit on the corpus itself — the classic cheap perplexity proxy
    (CCNet-style filtering uses exactly this shape with a pretrained LM;
    fitting on the corpus keeps it self-contained and oracle-replayable).
    Rows: (doc_id, n_words, avg_nll) — high avg_nll = rare-word soup.

    Scale shape: explode words → ONE map-side-combined hash agg keyed
    (doc, word) → ONE hash agg keyed word for the LM (vocabulary-sized, ~1e6
    rows at web scale → broadcast) → broadcast join back → ONE hash agg keyed
    doc. The corpus totals are a 1-row aggregate cross-joined in. No window,
    no Python."""
    words = df.select(
        F.col("doc_id"), F.explode(_words(F.col("text"))).alias("word")
    ).filter(F.col("word") != "")
    per = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    lm = per.groupBy("word").agg(F.sum("tf").alias("cnt"))
    tot = lm.agg(
        F.sum("cnt").alias("_tot"), F.count(F.lit(1)).alias("_vocab")
    )
    # p(w) = (cnt+1) / (total+V); identical IEEE sequence in the DuckDB oracle
    lmp = F.broadcast(
        lm.crossJoin(F.broadcast(tot)).select(
            "word",
            F.log(
                (F.col("cnt") + F.lit(1)).cast("double")
                / (F.col("_tot") + F.col("_vocab")).cast("double")
            ).alias("_lp"),
        )
    )
    return (
        per.join(lmp, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_words"),
            F.round(-F.sum(F.col("tf") * F.col("_lp")) / F.sum("tf"), 6).alias("avg_nll"),
        )
    )


def tfidf_top_terms(df: DataFrame, k: int = 3) -> DataFrame:
    """Top-``k`` TF-IDF terms per document (the classic keyword extractor):
    score = tf(doc, w) · ln(N / df(w)). Rows: (doc_id, term, score, rk).
    Ordering decisions happen on the 6-digit-rounded score with the term
    itself as the tiebreak, so Spark and the oracle rank identically.

    Scale shape: explode → hash agg (doc, word) with map-side combine → the
    document-frequency table is vocabulary-sized (broadcast) → broadcast join
    → per-doc row_number window whose partitions are single documents (each a
    few hundred distinct terms), never corpus-wide."""
    words = df.select(
        F.col("doc_id"), F.explode(_words(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    per = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = per.groupBy("term").agg(F.count(F.lit(1)).alias("df_cnt"))
    n_docs = df.agg(F.countDistinct("doc_id").alias("_n"))
    scored = (
        per.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf") * F.log(F.col("_n").cast("double") / F.col("df_cnt")), 6
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", "term", "score", "rk")
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Content fingerprint: md5 of normalized text; fp64 = first 16 hex digits
    as a join/partition-friendly bigint."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    md5 = F.md5(norm.cast("binary"))
    return df.withColumn("fp_md5", md5).withColumn(
        "fp64", F.conv(F.substring(md5, 1, 15), 16, 10).cast("long")
    )


def boilerplate_strip(df: DataFrame, span: int = 8, min_docs: int = 20) -> DataFrame:
    """CCNet-style boilerplate removal: segment every document into fixed
    ``span``-word spans, count how many DISTINCT documents each normalized
    span appears in across the corpus, and strip spans that occur in
    ``min_docs`` or more documents (headers, footers, cookie banners, nav
    junk) from EVERY document. Unlike ``segment_dedup`` (which keeps the
    first occurrence), boilerplate spans are removed from all copies — the
    CCNet / RefinedWeb paragraph-hash rule.

    Rows: (doc_id, n_segs, n_kept, text_clean) with the surviving spans
    rejoined in position order.

    Scale shape: explode spans → ONE map-side-combined hash agg keyed span
    (distinct-doc counts via (span, doc) pre-agg) → the hot-span list is tiny
    by construction (only spans repeated across ≥min_docs docs) and
    BROADCASTS into a left-anti join that rides the scan → ONE hash agg keyed
    doc to reassemble. No window, no Python."""
    words = _words(F.col("text"))
    n_seg = F.ceil(F.size(words) / F.lit(span)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.struct(
            i.alias("pos"),
            F.array_join(F.slice(words, i * span + 1, span), " ").alias("seg"),
        ),
    )
    exploded = df.select(F.col("doc_id"), F.explode(segs).alias("s")).select(
        "doc_id", F.col("s.pos").alias("pos"), F.col("s.seg").alias("seg")
    )
    hot = (
        exploded.select("seg", "doc_id")
        .distinct()
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("seg")
    )
    kept = exploded.join(F.broadcast(hot), "seg", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("text_clean"),
    )
    totals = exploded.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_segs"))
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_segs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def hashed_ngram_classifier(df: DataFrame, buckets: int = 1024, seed: str = "q") -> DataFrame:
    """fastText-style linear quality classifier over hashed word uni+bigram
    features: bucket = md5(seed‖gram) % buckets, fixed deterministic weight
    per bucket, document score = sigmoid(mean weight). The weight table here
    is a fixed pseudo-random init (w(b) = (b·2654435761 mod 997 − 498)/498,
    zero-mean) — swapping in trained weights is a literal-map change; the
    *shape* (hashing-trick featurizer → linear head) is exactly fastText's.

    Scale shape: a pure per-row projection — no shuffle, no join, no Python.
    Gram weights are summed as exact INTEGERS (order-independent) and divided
    once at the end, so Spark and any SQL oracle agree bit-for-bit.

    Rows: input columns + (n_grams, clf_score)."""
    words = _words(F.col("text"))
    n = F.size(words)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(words, 1, F.greatest(n - 1, F.lit(0))),
            F.slice(words, 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = F.concat(words, bigrams)
    # integer weight numerator per gram: (bucket * 2654435761) % 997 - 498
    wsum = F.aggregate(
        grams,
        F.lit(0).cast("long"),
        lambda acc, g: acc
        + (
            (F.conv(F.substring(F.md5(F.concat(F.lit(seed + ":"), g)), 1, 8), 16, 10)
             .cast("long") % buckets)
            * F.lit(2654435761)
        )
        % 997
        - 498,
    )
    n_grams = F.size(grams)
    score = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(-(wsum.cast("double") / (F.lit(498.0) * n_grams)))
    )
    return df.withColumn("n_grams", n_grams).withColumn(
        "clf_score", F.round(score, 6)
    )


def bigram_logprob(df: DataFrame, lam: float = 0.7) -> DataFrame:
    """Interpolated bigram-LM quality score (the CCNet perplexity proxy one
    order up from ``unigram_logprob``): per document, mean NLL of its word
    bigrams under p(w2|w1) = λ·c(w1w2)/c(w1•) + (1−λ)·(c(w2)+1)/(N+V), both
    models fit on the corpus itself. Rows: (doc_id, n_bigrams, avg_nll).

    Scale shape: explode bigrams → hash agg keyed (doc, bigram) → corpus
    bigram counts via ONE more hash agg; the history count c(w1•) and the
    smoothed unigram term join on word keys. The bigram LM table is the one
    non-broadcastable side at web scale — it joins the per-doc table on the
    bigram key as a plain shuffled equi-join (both sides pre-reduced), and in
    production it is pruned to the top-M bigrams with the unigram term as
    backoff for the tail. No window, no Python."""
    words = df.select(
        F.col("doc_id"), _words(F.col("text")).alias("_ws")
    ).select(
        F.col("doc_id"),
        F.explode(
            F.zip_with(
                F.slice(F.col("_ws"), 1, F.greatest(F.size("_ws") - 1, F.lit(0))),
                F.slice(F.col("_ws"), 2, F.greatest(F.size("_ws") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    per = words.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("tf"))
    big = per.groupBy("w1", "w2").agg(F.sum("tf").alias("c12"))
    hist = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    uni = big.groupBy("w2").agg(F.sum("c12").alias("c2"))
    tot = uni.agg(F.sum("c2").alias("_tot"), F.count(F.lit(1)).alias("_vocab"))
    lm = (
        big.join(hist, "w1")
        .join(uni, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.log(
                F.lit(lam) * F.col("c12").cast("double") / F.col("c1")
                + F.lit(1.0 - lam)
                * (F.col("c2") + F.lit(1)).cast("double")
                / (F.col("_tot") + F.col("_vocab")).cast("double")
            ).alias("_lp"),
        )
    )
    return (
        per.join(lm, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.round(-F.sum(F.col("tf") * F.col("_lp")) / F.sum("tf"), 6).alias("avg_nll"),
        )
    )


def vocab_encode(df: DataFrame, vocab_size: int = 1000, head: int = 16) -> DataFrame:
    """Tokenize-to-ids: build a frequency-ranked word vocabulary of size
    ``vocab_size`` (rank 1 = most frequent; ties break on the word; id 0 =
    OOV/unk) and encode every document — the loader step that produces
    exactly the engine's input shape (``tokens array<int>``) from raw text.
    Rows: (doc_id, n_tok, n_oov, oov_rate, ids_head) where ids_head is the
    first ``head`` token ids comma-joined (keeps the encoding itself, not
    just the counts, oracle-checkable).

    Scale shape: ONE map-side-combined word-frequency agg → TakeOrdered K
    (distributed top-k, never a corpus-wide sort) → rank window over the K
    vocab rows only → vocab BROADCASTS into the encode join → ONE hash agg
    keyed doc to reassemble in position order. No corpus-wide window."""
    toks = df.select(
        F.col("doc_id"), F.posexplode(_words(F.col("text"))).alias("pos", "word")
    ).filter(F.col("word") != "")
    freq = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    topk = freq.orderBy(F.col("cnt").desc(), F.col("word")).limit(vocab_size)
    w = Window.orderBy(F.col("cnt").desc(), F.col("word"))
    vocab = topk.withColumn("tok_id", F.row_number().over(w)).select("word", "tok_id")
    enc = toks.join(F.broadcast(vocab), "word", "left").select(
        "doc_id", "pos", F.coalesce("tok_id", F.lit(0)).alias("tok_id")
    )
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum(F.when(F.col("tok_id") == 0, 1).otherwise(0)).alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("tok_id") == 0, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("oov_rate"),
        F.array_join(
            F.slice(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok_id"))),
                    lambda s: s["tok_id"].cast("string"),
                ),
                1,
                head,
            ),
            ",",
        ).alias("ids_head"),
    )


def char_entropy(df: DataFrame) -> DataFrame:
    """Per-document character-distribution Shannon entropy (nats) — the
    classic gibberish/binary-junk detector (random bytes ≈ ln(alphabet)
    entropy; repeated-char spam ≈ 0). Rows: (doc_id, n_chars_t, entropy).

    Scale shape: explode chars → ONE map-side-combined hash agg keyed
    (doc, char) — per-doc alphabets are ≤ a few hundred entries, so the agg
    collapses hard — → doc totals + entropy in one more keyed agg pair. No
    window, no Python."""
    chars = df.select(
        F.col("doc_id"), F.explode(F.split(F.col("text"), "", -1)).alias("ch")
    ).filter(F.col("ch") != "")
    per = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("cnt"))
    tot = per.groupBy("doc_id").agg(F.sum("cnt").alias("n"))
    return (
        per.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_chars_t"),
            F.round(
                -F.sum(
                    (F.col("cnt").cast("double") / F.col("n"))
                    * F.log(F.col("cnt").cast("double") / F.col("n"))
                ),
                6,
            ).alias("entropy"),
        )
    )


# Gopher rule thresholds besides the word-count band
GOPHER_MEAN_WORD_LEN = (2.0, 10.0)  # inclusive band
GOPHER_MAX_PUNCT_WORD_RATIO = 0.10
GOPHER_MIN_ALPHA_WORD_FRAC = 0.80
GOPHER_MIN_STOPWORD_HITS = 1


def gopher_rules(df: DataFrame, min_words: int = 20, max_words: int = 120) -> DataFrame:
    """Gopher-style document-format rules (Rae et al. 2021 §A1.1) as explicit
    per-rule booleans — the audit-friendly form of ``quality_score``: a
    curation run wants to know WHICH rule dropped a document, not just the
    composite.  Rules: word-count band, mean-word-length band, punctuation
    symbols per word, fraction of words containing an alphabetic character,
    and minimum distinct-stopword hits.  Rows: (doc_id, n_words,
    mean_word_len, r_word_count, r_mean_word_len, r_punct, r_alpha,
    r_stopword, keep).

    Scale shape: a pure per-row projection — no shuffle, no join, no Python;
    whole-stage-codegen'd array expressions over the split words."""
    words = _words(F.col("text"))
    n_words = F.size(words)
    wl_sum = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mean_wl = F.round(wl_sum / F.greatest(n_words, F.lit(1)).cast("double"), 6)
    punct = F.length(F.regexp_replace(F.col("text"), r"[^!-/:-@\[-`{-~]", ""))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    en_sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    sw_hits = F.size(F.array_intersect(F.array_distinct(words), en_sw))
    r_wc = (n_words >= min_words) & (n_words <= max_words)
    lo, hi = GOPHER_MEAN_WORD_LEN
    r_mwl = (mean_wl >= lo) & (mean_wl <= hi)
    r_punct = F.round(punct / F.greatest(n_words, F.lit(1)).cast("double"), 6) <= GOPHER_MAX_PUNCT_WORD_RATIO
    r_alpha = F.round(alpha_words / F.greatest(n_words, F.lit(1)).cast("double"), 6) >= GOPHER_MIN_ALPHA_WORD_FRAC
    r_sw = sw_hits >= GOPHER_MIN_STOPWORD_HITS
    return df.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        r_wc.alias("r_word_count"),
        r_mwl.alias("r_mean_word_len"),
        r_punct.alias("r_punct"),
        r_alpha.alias("r_alpha"),
        r_sw.alias("r_stopword"),
        (r_wc & r_mwl & r_punct & r_alpha & r_sw).alias("keep"),
    )


# Default taxonomy over bounded keyword lists. For taxonomies of this size a
# shuffle-free projection beats the explode+broadcast-join form; for 10^5+
# keyword dictionaries switch to posexplode + broadcast join on word.
KEYWORD_TAXONOMY: dict[str, list[str]] = {
    "compute": ["spark", "agg", "sort", "merge", "batch", "window"],
    "storage": ["table", "row", "part", "hash", "key", "scan"],
    "perf": ["fast", "slow", "value", "line"],
}


def keyword_tag(df: DataFrame) -> DataFrame:
    """``KEYWORD_TAXONOMY`` tagging: count keyword OCCURRENCES (not
    distinct) per topic and pick the winning topic (most hits; ties break on
    taxonomy declaration order). Rows: (doc_id, <topic>_hits per topic, total_hits, top_topic —
    'none' when zero hits).

    Scale shape: pure projection — per-topic counts are codegen'd
    ``size(filter(words, ...))`` over the split array; the argmax is a
    greatest/when chain. No shuffle, no join, no Python, and the keyword
    lists live in the plan as literals (nothing to broadcast)."""
    words = _words(F.col("text"))
    hit_cols = {}
    for topic, kws in KEYWORD_TAXONOMY.items():
        arr = F.array(*[F.lit(k) for k in kws])
        hit_cols[topic] = F.size(F.filter(words, lambda w: F.array_contains(arr, w)))
    total = None
    for c in hit_cols.values():
        total = c if total is None else total + c
    best = F.greatest(*hit_cols.values())
    top = F.lit("none")
    for topic in reversed(list(KEYWORD_TAXONOMY)):  # earlier topics win ties -> apply last
        top = F.when((hit_cols[topic] > 0) & (hit_cols[topic] == best), topic).otherwise(top)
    return df.select(
        "doc_id",
        *[hit_cols[t].cast("long").alias(f"{t}_hits") for t in KEYWORD_TAXONOMY],
        total.cast("long").alias("total_hits"),
        top.alias("top_topic"),
    )


def zipf_fit(df: DataFrame, top_v: int = 50) -> DataFrame:
    """Zipf power-law fit over the corpus vocabulary: regress ln(freq) on
    ln(rank) for the ``top_v`` most frequent words — natural text sits near
    slope −1; synthetic/templated corpora (like this one) flatten toward 0,
    making the slope a cheap corpus-health indicator. Rows: one —
    (n_words_fit, zipf_slope, zipf_r2, top_word, top_cnt).

    Scale shape: one map-side-combined word-count agg → distributed
    TakeOrdered ``top_v`` (never a corpus-wide sort) → rank window + regr_*
    aggregates over the ``top_v`` rows only."""
    toks = df.select(F.explode(_words(F.col("text"))).alias("word")).filter(
        F.col("word") != ""
    )
    freq = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    top = freq.orderBy(F.col("cnt").desc(), "word").limit(top_v)
    w = Window.orderBy(F.col("cnt").desc(), F.col("word"))
    ranked = top.withColumn("rank", F.row_number().over(w))
    lnr, lnc = F.log(F.col("rank").cast("double")), F.log(F.col("cnt").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_words_fit"),
        F.round(F.regr_slope(lnc, lnr), 5).alias("zipf_slope"),
        F.round(F.regr_r2(lnc, lnr), 5).alias("zipf_r2"),
        F.min(F.when(F.col("rank") == 1, F.col("word"))).alias("top_word"),
        F.max(F.when(F.col("rank") == 1, F.col("cnt"))).alias("top_cnt"),
    )


DATASET_CARD_LANGS = ["en", "fr", "es", "de", "zh"]


def dataset_card(df: DataFrame) -> DataFrame:
    """Per-source dataset card — the summary table a data curator publishes
    with a training mix: doc/word/char volumes, length spread, and the
    language composition as per-lang doc counts over ``DATASET_CARD_LANGS``
    (fixed column set =
    deterministic schema; no argmax tie hazards). Rows: one per source.

    Scale shape: ONE map-side-combined groupBy(source) over per-row
    projections (word counts via size(split), lang indicator sums) — a
    100 TB corpus reduces to |sources| rows in a single shuffle."""
    n_words = F.size(_words(F.col("text")))
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_words).alias("n_words"),
        F.sum(F.length("text")).alias("n_chars"),
        F.min(n_words).alias("min_words"),
        F.max(n_words).alias("max_words"),
        F.round(F.avg(n_words), 6).alias("avg_words"),
    ]
    for lang in DATASET_CARD_LANGS:
        aggs.append(
            F.sum(F.when(F.col("lang") == lang, 1).otherwise(0)).alias(f"docs_{lang}")
        )
    return df.groupBy("source").agg(*aggs)


def threshold_sweep(df: DataFrame, thresholds: list[int]) -> DataFrame:
    """Curation-planning sweep: for each candidate minimum-word-count
    threshold, how many documents and words survive?  The table a curator
    reads before committing a filter to a 100 TB run — pick the knee of the
    kept-tokens curve instead of guessing.  Rows: one per threshold —
    (threshold, kept_docs, kept_words, total_docs, doc_frac, word_frac).

    Scale shape: per-doc word counts are ONE projection pass; the |T|-row
    threshold table broadcast-cross-joins onto it and a map-side-combined
    groupBy(threshold) reduces N×|T| to |T| rows — the corpus is scanned
    once, never once-per-threshold."""
    spark = df.sparkSession
    thr = spark.createDataFrame([(int(t),) for t in thresholds], "threshold int")
    per_doc = df.select(F.size(_words(F.col("text"))).alias("nw"))
    joined = per_doc.crossJoin(F.broadcast(thr))
    keep = F.col("nw") >= F.col("threshold")
    return (
        joined.groupBy("threshold")
        .agg(
            F.sum(keep.cast("long")).alias("kept_docs"),
            F.sum(F.when(keep, F.col("nw")).otherwise(0)).cast("long").alias("kept_words"),
            F.count(F.lit(1)).alias("total_docs"),
            F.sum("nw").cast("long").alias("total_words"),
        )
        .select(
            "threshold",
            "kept_docs",
            "kept_words",
            "total_docs",
            F.round(F.col("kept_docs") / F.col("total_docs"), 6).alias("doc_frac"),
            F.round(F.col("kept_words") / F.col("total_words"), 6).alias("word_frac"),
        )
    )


def length_histogram(
    df: DataFrame,
    lo: int,
    hi: int,
    n_bins: int = 10,
    group_col: str | None = None,
) -> DataFrame:
    """Fixed-width word-count histogram — the length-distribution panel on a
    dataset card.  Bounds are EXPLICIT (no min/max pre-pass: at 100 TB a
    bounds scan doubles the job; curators know their clip range).  Values
    below ``lo`` clamp into bin 0, at-or-above ``hi`` into bin ``n_bins-1``.
    Rows: ([group], bin, bin_lo, bin_hi, n_docs, n_words) — only non-empty
    bins (a 0-fill is a |bins|-row driver-side concern, not a corpus scan).

    Scale shape: one projection (integer bin arithmetic, no floats — bin
    edges are exact for integer widths) + one map-side-combined groupBy."""
    if hi <= lo or n_bins < 1:
        raise ValueError("need hi > lo and n_bins >= 1")
    width = (hi - lo) / n_bins
    nw = F.size(_words(F.col("text")))
    raw_bin = F.floor((nw - F.lit(lo)) / F.lit(width)).cast("int")
    bin_ = F.least(F.greatest(raw_bin, F.lit(0)), F.lit(n_bins - 1))
    keys = ([F.col(group_col)] if group_col else []) + [bin_.alias("bin")]
    out = (
        df.select(*keys, nw.alias("nw"))
        .groupBy(*([group_col] if group_col else []), "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nw").cast("long").alias("n_words"),
        )
    )
    return out.select(
        *([group_col] if group_col else []),
        "bin",
        F.round(F.lit(lo) + F.col("bin") * F.lit(width), 6).alias("bin_lo"),
        F.round(F.lit(lo) + (F.col("bin") + 1) * F.lit(width), 6).alias("bin_hi"),
        "n_docs",
        "n_words",
    )
