"""Seeded differential tests: a pure-Python reference evaluator vs the
Catalyst compilation, over randomized inputs collected in ONE Spark job per
test (per-example Spark round-trips would be 100× slower for no extra
coverage).

Targets:
* ``compile_condition`` — the ConditionExp and/or/not tree compiler
  (operators/filters.py) vs a Python re.search evaluator, over random trees
  and random fields maps. The regex pool is restricted to constructs with
  identical semantics in java.util.regex find() and Python re.search so the
  differential tests the COMPILER, not regex-dialect trivia.
* token decode — the JVM decode (plain and strict) and the Arrow decode vs
  Python's bytes.decode over random valid-UTF-8 payloads spanning 1..4-byte
  sequences (astral plane included) plus adversarial ASCII/boundary rows. Valid UTF-8 only: on
  invalid input the paths' replacement POLICIES are allowed to differ
  (Java/Arrow/Python replacement-char counts), and the corpus tests already
  pin the agreed behavior there.
"""

from __future__ import annotations

import random
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from loongcollector_spark.codec import decode_arrow, decode_tokens_utf8
from loongcollector_spark.operators.filters import compile_condition
from loongcollector_spark.operators.prom import _java_template

# ---------------------------------------------------------------------------
# condition-tree differential
# ---------------------------------------------------------------------------

_KEYS = ["k0", "k1", "k2", "k3", "k4"]
# identical semantics under java regex find() and python re.search
_REGEXES = ["a+", "^b", "[cd]e", "x|y", "foo", "[0-9]{2}", "z$", "^$", "a.c"]
_VAL_ALPHABET = "abcdefxyz0189 "


def _rand_value(rng: random.Random) -> str:
    return "".join(rng.choice(_VAL_ALPHABET) for _ in range(rng.randint(0, 6)))


def _rand_fields(rng: random.Random) -> dict[str, str]:
    return {k: _rand_value(rng) for k in _KEYS if rng.random() < 0.7}


def _rand_tree(rng: random.Random, depth: int) -> dict:
    if depth == 0 or rng.random() < 0.4:
        return {"key": rng.choice(_KEYS), "exp": rng.choice(_REGEXES)}
    op = rng.choice(["and", "or", "not"])
    n = 1 if op == "not" else rng.randint(2, 3)
    return {"operator": op, "operands": [_rand_tree(rng, depth - 1) for _ in range(n)]}


def _eval_tree(node: dict, fields: dict[str, str]) -> bool:
    if "operator" in node:
        kids = [_eval_tree(c, fields) for c in node["operands"]]
        op = node["operator"]
        if op == "and":
            return all(kids)
        if op == "or":
            return any(kids)
        return not kids[0]
    val = fields.get(node["key"])
    return val is not None and re.search(node["exp"], val) is not None


def test_condition_compiler_matches_python_reference(spark):
    """60 random trees × 150 random fields maps, evaluated as 60 boolean
    columns in one collect — every cell must equal the Python evaluator
    (leaf-absent = false, ProcessorFilterNative.cpp:448-489)."""
    rng = random.Random(20260819)
    rows = [(i, _rand_fields(rng)) for i in range(150)]
    trees = [_rand_tree(rng, 3) for _ in range(60)]

    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("fields", T.MapType(T.StringType(), T.StringType())),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    cols = [
        compile_condition(t, "fields", ["id", "fields"]).alias(f"t{j}")
        for j, t in enumerate(trees)
    ]
    got = {r["id"]: r for r in df.select("id", *cols).collect()}

    mismatches = []
    for i, fields in rows:
        for j, t in enumerate(trees):
            want = _eval_tree(t, fields)
            have = got[i][f"t{j}"]
            # compiled leaves are tri-state NULL-safe only at the filter
            # boundary; a top-level NULL means "drop" == False
            if bool(have) != want:
                mismatches.append((i, j, fields, t, have, want))
    assert not mismatches, mismatches[:3]


def test_condition_compiler_as_filter_matches_reference_rowset(spark):
    """Same differential through the actual filter path (NULL → drop)."""
    rng = random.Random(7)
    rows = [(i, _rand_fields(rng)) for i in range(120)]
    tree = {
        "operator": "and",
        "operands": [
            {"operator": "or", "operands": [{"key": "k0", "exp": "a+"}, {"key": "k1", "exp": "x|y"}]},
            {"operator": "not", "operands": [{"key": "k2", "exp": "z$"}]},
        ],
    }
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("fields", T.MapType(T.StringType(), T.StringType())),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    kept = {r["id"] for r in df.filter(compile_condition(tree, "fields", df.columns)).collect()}
    want = {i for i, f in rows if _eval_tree(tree, f)}
    assert kept == want


# ---------------------------------------------------------------------------
# token decode differential
# ---------------------------------------------------------------------------


def _random_unicode(rng: random.Random, n: int) -> str:
    """Random string spanning all four UTF-8 sequence lengths (surrogates
    excluded — they have no UTF-8 encoding)."""
    out = []
    for _ in range(n):
        r = rng.random()
        if r < 0.4:
            cp = rng.randint(0x20, 0x7E)  # 1-byte
        elif r < 0.6:
            cp = rng.randint(0x80, 0x7FF)  # 2-byte
        elif r < 0.8:
            cp = rng.randint(0x800, 0xFFFF)  # 3-byte
            if 0xD800 <= cp <= 0xDFFF:
                cp = 0x20AC
        else:
            cp = rng.randint(0x10000, 0x10FFFF)  # 4-byte (astral)
        out.append(chr(cp))
    return "".join(out)


@pytest.fixture(scope="module")
def decode_fixture(spark):
    rng = random.Random(99)
    payloads = [_random_unicode(rng, rng.randint(0, 40)) for _ in range(200)]
    payloads += [
        "",
        "plain ascii only",
        "\x00\x01\x7f",  # control bytes are 1-byte UTF-8
        "é" * 33,  # pure 2-byte run
        "世界" * 20,  # pure 3-byte run
        "\U0001f600\U0001f680",  # pure 4-byte run
        "aé世\U0001f600z",  # all four lengths in one row
        "",  # 1-/2-byte boundary
        "߿ࠀ",  # 2-/3-byte boundary
        "￿\U00010000",  # 3-/4-byte boundary
    ]
    rows = [(i, list(s.encode("utf-8")), s) for i, s in enumerate(payloads)]
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("tokens", T.ArrayType(T.IntegerType())),
            T.StructField("want", T.StringType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_all_decode_paths_exact_on_valid_utf8(decode_fixture):
    """auto (hybrid), auto+strict and arrow must each reproduce the exact
    source string for every valid-UTF-8 token row — one job, one collect."""
    df = decode_arrow(decode_fixture, "tokens", "c_arrow")
    df = (
        df.withColumn("c_auto", decode_tokens_utf8("tokens"))
        .withColumn("c_strict", decode_tokens_utf8("tokens", strict=True))
    )
    bad = []
    for r in df.collect():
        for path in ("c_auto", "c_strict", "c_arrow"):
            if r[path] != r["want"]:
                bad.append((r["id"], path, r[path], r["want"]))
    assert not bad, bad[:5]


# ---------------------------------------------------------------------------
# Prometheus replacement-template differential (Go Expand vs translated Java)
# ---------------------------------------------------------------------------


def _go_expand(m: re.Match, template: str) -> str:
    """Reference emulator of Go's Regexp.Expand over numeric references
    (regexp/regexp.go Expand doc): $$ → '$'; $name takes the LONGEST run of
    word chars ($1x is the name '1x', not group 1 + 'x'); out-of-range /
    unknown / unmatched refs expand to ''; a '$' starting no reference is
    literal."""
    out: list[str] = []
    i = 0
    while i < len(template):
        c = template[i]
        if c == "$":
            if template[i + 1 : i + 2] == "$":
                out.append("$")
                i += 2
                continue
            mm = re.match(r"\{(\w+)\}|(\w+)", template[i + 1 :])
            if mm:
                name = mm.group(1) or mm.group(2)
                if name.isdigit() and int(name) <= m.re.groups:
                    out.append(m.group(int(name)) or "")
                # non-numeric / out-of-range: Go expands to ""
                i += 1 + mm.end()
                continue
            out.append("$")
            i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


_PROM_CASES = [
    ("(a+)(b*)", ["aab", "a", "aabbb"]),
    ("([0-9]+)-([0-9]+)", ["12-34", "0-9"]),
    ("(x)|(y)", ["x", "y"]),  # one side always unmatched → "" per Go AND Java
    ("(?:no)(cap)", ["nocap"]),
    ("(a(b)c)", ["abc"]),
    ("a+", ["aaa"]),  # zero groups with the default '$1' template shape
]

_PROM_TEMPLATES = [
    "$1",
    "$2",
    "$1-$2",
    "$0",
    "${1}0",
    "$1x",
    "$$lit",
    "$",
    "a$",
    "pre-${2}-post",
    "$9",
    "$1${9}2",  # dropped ref between a live ref and a literal digit
    "${name}",
    "\\raw",
]


def test_prom_template_replacement_matches_go_expand(spark):
    """Every (anchored regex, fully-matching input, template) combination:
    Spark's regexp_replace with the TRANSLATED template must produce exactly
    what Go's Expand produces — one job over the whole cross product, the
    same call shape prom_relabel's replace action uses."""
    rows = []
    for regex, inputs in _PROM_CASES:
        full = f"^(?:{regex})$"
        creg = re.compile(full)
        for s in inputs:
            m = creg.search(s)
            assert m is not None, (regex, s)
            for t in _PROM_TEMPLATES:
                rows.append((s, full, _java_template(t, full), _go_expand(m, t)))
    df = spark.createDataFrame(rows, "input string, pattern string, repl string, want string")
    got = df.select(
        "input",
        "pattern",
        "repl",
        "want",
        F.regexp_replace(F.col("input"), F.col("pattern"), F.col("repl")).alias("have"),
    ).collect()
    bad = [(r["input"], r["pattern"], r["repl"], r["have"], r["want"]) for r in got if r["have"] != r["want"]]
    assert not bad, bad[:5]
