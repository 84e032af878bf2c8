"""Benchmark decontamination for training corpora.

Not in the reference (a log agent has no notion of eval sets); a training-data
pipeline at 100 TB must drop documents that leak evaluation benchmarks. The
standard formulation (GPT-3 appendix C / The Pile): a training document is
contaminated if it shares at least one word n-gram (n≈13) with any benchmark
document.

Scale shape: the benchmark side is tiny (eval suites are MBs; the corpus is
TBs), so its distinct gram set is BROADCAST — the contamination check is a
map-side broadcast join riding the corpus scan, no shuffle of corpus grams
against each other, followed by one hash aggregation per contaminated doc.
Nothing here is quadratic and nothing shuffles the clean 99%+ of the corpus
anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from loongcollector_spark.operators.dedup import word_ngrams


def ngram_contamination(train: DataFrame, bench: DataFrame, n: int = 13) -> DataFrame:
    """Contaminated training docs: (doc_id, hit_grams, bench_docs).

    ``hit_grams`` = distinct n-grams of the doc that appear in ANY benchmark
    doc; ``bench_docs`` = distinct benchmark docs sharing at least one gram.
    Docs with zero hits are absent (the common case — they never leave the
    scan stage, the broadcast hash join discards them map-side).
    """
    tg = train.select(
        F.col("doc_id"),
        F.explode(word_ngrams(F.col("text"), n)).alias("gram"),
    )
    bg = bench.select(
        F.col("doc_id").alias("bench_id"),
        F.explode(word_ngrams(F.col("text"), n)).alias("gram"),
    )
    return (
        tg.join(F.broadcast(bg), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("hit_grams"),
            F.countDistinct("bench_id").alias("bench_docs"),
        )
    )


def decontaminate(train: DataFrame, bench: DataFrame, n: int = 13) -> DataFrame:
    """The clean corpus: ``train`` minus every contaminated doc — a broadcast
    left-anti join against the (small) contaminated-id set."""
    bad = ngram_contamination(train, bench, n).select("doc_id")
    return train.join(F.broadcast(bad), "doc_id", "left_anti")
