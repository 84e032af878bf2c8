"""Token codec: the JVM decode and the Arrow decode equal Python's
``bytes.decode`` on every corpus row; encode round-trips exactly (the per-row
token-array-equality invariant depends on this)."""

from __future__ import annotations

from pyspark.sql import functions as F

from loongcollector_spark.codec import (
    decode_arrow,
    decode_tokens_utf8,
    encode_string_pandas,
    with_content,
)
from loongcollector_spark.oracle import decode as py_decode


def test_decode_matches_python(seq_df):
    rows = seq_df.withColumn("c", decode_tokens_utf8("tokens")).select("tokens", "c").collect()
    assert len(rows) == 2000
    bad = [r["c"] for r in rows if r["c"] != py_decode(r["tokens"])]
    assert not bad, bad[:3]


def test_arrow_matches_python_on_corpus(seq_df):
    rows = decode_arrow(seq_df, "tokens", "c").select("tokens", "c").collect()
    assert len(rows) == 2000
    bad = [r["c"] for r in rows if r["c"] != py_decode(r["tokens"])]
    assert not bad, bad[:3]


def test_utf8_hybrid_non_ascii(spark):
    """The default decode must be exact on multi-byte UTF-8 (where the bare
    char() path emits per-byte Latin-1 codepoints instead)."""
    samples = [
        "plain ascii line",
        "Hi é€",  # 2- and 3-byte sequences
        "汉字 log 行",  # CJK
        "emoji \U0001f600 tail",  # 4-byte sequence
        "",
    ]
    df = spark.createDataFrame(
        [(list(s.encode("utf-8")),) for s in samples] + [(None,)],
        "tokens array<int>",
    )
    got = [r.c for r in df.withColumn("c", decode_tokens_utf8("tokens")).collect()]
    assert got == samples + [None]
    # with_content attaches the same decode
    got2 = [r.content for r in with_content(df).collect()]
    assert got2 == samples + [None]


def test_utf8_hybrid_stays_jvm_side(seq_df):
    """Plan shape: the default decode must not introduce a Python/Arrow eval
    node — the flagship's decode stage rides whole-stage codegen."""
    plan = with_content(seq_df)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInArrow" not in plan


def test_round_trip(seq_df):
    d = (
        seq_df.withColumn("c", decode_tokens_utf8("tokens"))
        .withColumn("t2", encode_string_pandas(F.col("c")))
        .filter(F.col("t2") != F.col("tokens"))
    )
    assert d.count() == 0


def test_utf8_strict_contract(spark):
    """strict=True fails loudly on tokens outside [0,255] (ADVICE r4: the
    default path silently mangles them — lpad truncation / char wraparound);
    in-contract rows still decode identically with the guard on."""
    import pytest

    ok = spark.createDataFrame(
        [([104, 105],), ([195, 169],)], "tokens array<int>"
    )
    got = [r.c for r in ok.withColumn("c", decode_tokens_utf8("tokens", strict=True)).collect()]
    assert got == ["hi", "é"]
    bad = spark.createDataFrame([([104, 300],)], "tokens array<int>")
    with pytest.raises(Exception, match="byte contract"):
        bad.withColumn("c", decode_tokens_utf8("tokens", strict=True)).collect()
    # the documented non-strict hazard: same row silently decodes to garbage
    assert bad.withColumn("c", decode_tokens_utf8("tokens")).collect()[0].c is not None


def test_strict_decode_flags_null_tokens(spark):
    # (t < 0) | (t > 255) is NULL for a NULL element and F.filter drops it —
    # without the explicit isNull() check a null token passed the strict gate
    # and then vanished silently in array_join.
    import pytest
    from loongcollector_spark.codec import decode_tokens_utf8

    df = spark.createDataFrame([([104, None, 105],)], "tokens array<int>")
    with pytest.raises(Exception, match="byte contract"):
        df.select(decode_tokens_utf8("tokens", strict=True)).collect()
