"""Seeded differentials for dict_map and the Go-style include/exclude
filters (the code paths NOT covered by test_differential.py's ConditionExp
compiler suite) vs pure-Python emulators:

* ``dict_map`` (processor_dict_map.go:96-186): broadcast lookup across the
  mode × HandleMissing grid — overwrite/fill (fill writes only when
  dest_key is ABSENT), missing default applied only to rows that HAVE the
  source key, dest==source in-place rewrite, and NULL/absent sources left
  unenriched. The corpus includes a row count assertion so a dict with
  duplicate keys can never silently fan out the fact side.
* ``filter_include_exclude`` (processor_filter_regex.go Include-AND /
  Exclude-NONE): regex SEARCH (not fullmatch) on values, absent key fails
  an include but passes an exclude, keys promoted as top-level columns
  resolve before the fields map.
* ``filter_key_regex``: include/exclude over key NAMES, incl. NULL fields
  maps under exclude-only configs (the once-buggy three-valued drop).

Mutants: fullmatch-instead-of-search, exclude-ANY-drops-all semantics
(keep iff no exclude matches ANY row — wrong scope), fill-always-overwrites,
and missing-default-applied-to-absent-source each fail somewhere.
"""

from __future__ import annotations

import random
import re

from pyspark.sql import types as T

from loongcollector_spark.operators.enrich import dict_map
from loongcollector_spark.operators.filters import (
    filter_include_exclude,
    filter_key_regex,
)

SEED = 20260819

_VALS = ["alpha", "beta", "gamma", "delta", "", "alphabet", "BETA", "x alpha y"]


def _fields(rng: random.Random) -> dict:
    f = {}
    if rng.random() < 0.85:
        f["color"] = rng.choice(_VALS)
    if rng.random() < 0.6:
        f["size"] = rng.choice(["s", "m", "l", "xl", "10", ""])
    if rng.random() < 0.3:
        f["label"] = rng.choice(_VALS)
    return f


# ---------------------------------------------------------------------------
# dict_map
# ---------------------------------------------------------------------------

_DICT = {"alpha": "A", "beta": "B", "": "EMPTY"}


def _emulate_dict_map(fields: dict, *, dest: str, missing, mode) -> dict:
    out = dict(fields)
    src = fields.get("color")
    mapped = _DICT.get(src) if src is not None else None
    if missing is not None and src is not None and mapped is None:
        mapped = missing
    if mode == "fill" and fields.get(dest) is not None:
        return out
    if mapped is not None:
        out[dest] = mapped
    return out


def test_dict_map_differential(spark):
    rng = random.Random(SEED)
    dict_df = spark.createDataFrame(
        list(_DICT.items()),
        T.StructType([
            T.StructField("k", T.StringType()),
            T.StructField("v", T.StringType()),
        ]),
    )
    grids = [
        dict(dest="mapped", missing=None, mode="overwrite"),
        dict(dest="mapped", missing="<?>", mode="overwrite"),
        dict(dest="label", missing=None, mode="fill"),      # dest may pre-exist
        dict(dest="label", missing="<?>", mode="fill"),
        dict(dest="color", missing="<?>", mode="overwrite"),  # in-place rewrite
    ]
    rows = [(i, _fields(rng)) for i in range(300)]
    df = spark.createDataFrame(
        rows,
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("fields", T.MapType(T.StringType(), T.StringType())),
        ]),
    )
    for g in grids:
        out = dict_map(df, dict_df, "color", g["dest"],
                       missing=g["missing"], mode=g["mode"])
        collected = out.collect()
        assert len(collected) == len(rows), "dict join fanned out the fact side"
        got = {r["id"]: r["fields"] for r in collected}
        want = {i: _emulate_dict_map(f, **g) for i, f in rows}
        assert got == want, (
            g, {k: (got[k], want[k]) for k in got if got[k] != want[k]},
        )


def test_dict_map_literal_matches_broadcast_join(spark):
    """A Python dict (literal map lookup, no join) and the same pairs as a
    DataFrame (broadcast join) enrich identically under every mode ×
    HandleMissing combination, on rows with the key, without it, with a
    null source value and with a value the dict lacks."""
    rng = random.Random(SEED + 1)
    rows = [(i, _fields(rng)) for i in range(200)]
    rows += [(1000, {"color": None, "label": "pre"}), (1001, {}), (1002, {"color": "zeta"}),
             (1003, {"color": "alpha", "label": "pre"})]
    df = spark.createDataFrame(rows, T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("fields", T.MapType(T.StringType(), T.StringType())),
    ]))
    dict_df = spark.createDataFrame(list(_DICT.items()), "k string, v string")
    for mode in ("overwrite", "fill"):
        for missing in (None, "other"):
            got = {
                kind: {r["id"]: r["fields"] for r in dict_map(
                    df, lookup, "color", "label", missing=missing, mode=mode).collect()}
                for kind, lookup in (("dict", dict(_DICT)), ("join", dict_df))
            }
            assert len(got["dict"]) == len(rows)
            assert got["dict"] == got["join"], (mode, missing)
            assert got["dict"] == {i: _emulate_dict_map(f, dest="label", missing=missing, mode=mode)
                                   for i, f in rows}, (mode, missing)


# ---------------------------------------------------------------------------
# filter_include_exclude
# ---------------------------------------------------------------------------

_IE_CONFIGS = [
    (dict(color=r"alpha"), None),
    (None, dict(color=r"alpha")),
    (dict(color=r"^alpha$", size=r"[sml]"), dict(label=r"BETA")),
    (dict(size=r"\d+"), dict(color=r"a")),
    (None, dict(color=r"a", size=r"x")),
]


def _emulate_ie(fields: dict, include, exclude) -> bool:
    for k, r in (include or {}).items():
        v = fields.get(k)
        if v is None or not re.search(r, v):
            return False
    for k, r in (exclude or {}).items():
        v = fields.get(k)
        if v is not None and re.search(r, v):
            return False
    return True


def test_filter_include_exclude_differential(spark):
    rng = random.Random(SEED + 1)
    rows = [(i, _fields(rng)) for i in range(300)]
    df = spark.createDataFrame(
        rows,
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("fields", T.MapType(T.StringType(), T.StringType())),
        ]),
    )
    for include, exclude in _IE_CONFIGS:
        got = {r["id"] for r in filter_include_exclude(df, include, exclude).collect()}
        want = {i for i, f in rows if _emulate_ie(f, include, exclude)}
        assert got == want, (include, exclude, sorted(got ^ want)[:10])


def test_filter_key_regex_differential(spark):
    rng = random.Random(SEED + 2)
    rows: list = [(i, _fields(rng)) for i in range(200)]
    rows += [(200, None), (201, {})]  # NULL map + empty map
    df = spark.createDataFrame(
        rows,
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("fields", T.MapType(T.StringType(), T.StringType())),
        ]),
    )
    configs = [
        (["col"], None), (None, ["lab"]), (["^size$"], ["label"]),
        (None, ["z"]), (["color", "size"], None),
    ]
    for include, exclude in configs:
        got = {r["id"] for r in filter_key_regex(df, include, exclude).collect()}
        want = set()
        for i, f in rows:
            keys = list((f or {}).keys())
            ok = all(any(re.search(r, k) for k in keys) for r in include or [])
            ok = ok and not any(
                any(re.search(r, k) for k in keys) for r in exclude or []
            )
            if ok:
                want.add(i)
        assert got == want, (include, exclude, sorted(got ^ want)[:10])


def test_dictfilter_corpus_kills_mutants():
    rng = random.Random(SEED + 1)
    rows = [(i, _fields(rng)) for i in range(300)]

    def fullmatch_ie(fields, include, exclude):
        for k, r in (include or {}).items():
            v = fields.get(k)
            if v is None or not re.fullmatch(r, v):
                return False
        for k, r in (exclude or {}).items():
            v = fields.get(k)
            if v is not None and re.fullmatch(r, v):
                return False
        return True

    killed = any(
        fullmatch_ie(f, inc, exc) != _emulate_ie(f, inc, exc)
        for inc, exc in _IE_CONFIGS for _i, f in rows
    )
    assert killed, "corpus never distinguishes search from fullmatch"

    rng2 = random.Random(SEED)
    drows = [(i, _fields(rng2)) for i in range(300)]

    def fill_overwrites(fields, *, dest, missing, mode):
        return _emulate_dict_map(fields, dest=dest, missing=missing,
                                 mode="overwrite")

    def missing_on_absent(fields, *, dest, missing, mode):
        out = _emulate_dict_map(fields, dest=dest, missing=missing, mode=mode)
        if missing is not None and fields.get("color") is None:
            if not (mode == "fill" and fields.get(dest) is not None):
                out = dict(out)
                out[dest] = missing
        return out

    g = dict(dest="label", missing="<?>", mode="fill")
    for mutant in (fill_overwrites, missing_on_absent):
        assert any(
            mutant(f, **g) != _emulate_dict_map(f, **g) for _i, f in drows
        ), f"corpus never exercises: {mutant.__name__}"
