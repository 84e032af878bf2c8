"""Seeded differential for the line-split family vs pure-Python folds:

* ``split_log_regex`` (split_log_regex.go:57-125): a line FULL-matching
  SplitRegex starts a new event, following non-matching lines attach, and
  the pre-first-match prefix flushes as ONE event of its own (unlike
  merge_multiline's single_line mode, which emits solo events — that
  distinction is exactly what the emulator pins). Patterns are drawn
  without explicit anchors so the operator's ``^(?:...)$`` wrap equals
  Python ``re.fullmatch``; corpora force top-level alternations, blobs with
  no match at all, blobs starting with a match, empty lines between events,
  a custom joiner, and trailing-newline blobs (the final empty line attaches
  to the last event).

Mutation-checked: a search-instead-of-fullmatch start detector and a
solo-prefix-events emulator (the merge_multiline semantics) must each fail
somewhere on the corpus.
"""

from __future__ import annotations

import random
import re

from pyspark.sql import types as T

from loongcollector_spark.operators.multiline import split_log_regex

SEED = 20260819

# Java/Python-identical, no explicit anchors → operator wrap == re.fullmatch
_SPLIT_PATTERNS = [
    r"\[\d{4}-\d{2}-\d{2}.*",
    r"ERROR.*|WARN.*",
    r"\S+ (start|begin)",
    r"-+",
]

_LINES = [
    "[2026-01-02 boot]", "[2026-1-2 bad]", "ERROR disk full", "WARNING-ish",
    "WARN low", "  at java.lang.Thread", "caused by: X", "", "svc start",
    "svc begin", "svc started", "---", "-", "plain text", "ERROR", "tail [",
]


def _emulate_split_log(blob: str, pattern: str, joiner: str):
    """(event_seq, content, n_lines) rows per the Go scanner fold."""
    rx = re.compile(pattern)
    groups: dict[int, list[str]] = {}
    seq = 0
    for ln in blob.split("\n"):
        if rx.fullmatch(ln):
            seq += 1
        groups.setdefault(seq, []).append(ln)
    return {
        s: (joiner.join(ls), len(ls)) for s, ls in groups.items()
    }


def test_split_log_regex_differential(spark):
    rng = random.Random(SEED)
    for pattern in _SPLIT_PATTERNS:
        for joiner in ("\n", " | "):
            blobs = []
            for _ in range(80):
                n = rng.randint(1, 12)
                blob = "\n".join(rng.choice(_LINES) for _ in range(n))
                if rng.random() < 0.15:
                    blob += "\n"  # trailing empty line attaches to last event
                blobs.append(blob)
            blobs += ["", "plain text", "ERROR disk full", "\n\n"]
            df = spark.createDataFrame(
                list(enumerate(blobs)),
                T.StructType([
                    T.StructField("rid", T.LongType()),
                    T.StructField("content", T.StringType()),
                ]),
            )
            out = split_log_regex(df, pattern, joiner=joiner)
            got: dict[int, dict] = {}
            for r in out.collect():
                got.setdefault(r["rid"], {})[r["event_seq"]] = (
                    r["content"], r["n_lines"]
                )
            want = {
                i: _emulate_split_log(b, pattern, joiner)
                for i, b in enumerate(blobs)
            }
            assert got == want, (
                pattern, joiner,
                {k: (got[k], want[k], blobs[k]) for k in got if got[k] != want[k]},
            )


def test_split_corpus_kills_mutants():
    rng = random.Random(SEED)

    def search_not_fullmatch(blob, pattern, joiner):
        rx = re.compile(pattern)
        groups: dict[int, list[str]] = {}
        seq = 0
        for ln in blob.split("\n"):
            if rx.search(ln):
                seq += 1
            groups.setdefault(seq, []).append(ln)
        return {s: (joiner.join(ls), len(ls)) for s, ls in groups.items()}

    def solo_prefix(blob, pattern, joiner):
        # merge_multiline single_line semantics: each leading unmatched line
        # becomes its OWN event — the distinction under test
        rx = re.compile(pattern)
        events: list[list[str]] = []
        started = False
        for ln in blob.split("\n"):
            if rx.fullmatch(ln):
                events.append([ln])
                started = True
            elif started:
                events[-1].append(ln)
            else:
                events.append([ln])
        return {s: (joiner.join(ls), len(ls)) for s, ls in enumerate(events)}

    killed_search = killed_solo = False
    for pattern in _SPLIT_PATTERNS:
        for joiner in ("\n", " | "):
            blobs = []
            for _ in range(80):
                n = rng.randint(1, 12)
                blob = "\n".join(rng.choice(_LINES) for _ in range(n))
                if rng.random() < 0.15:
                    blob += "\n"
                blobs.append(blob)
            blobs += ["", "plain text", "ERROR disk full", "\n\n"]
            for b in blobs:
                ref = _emulate_split_log(b, pattern, joiner)
                if search_not_fullmatch(b, pattern, joiner) != ref:
                    killed_search = True
                if solo_prefix(b, pattern, joiner) != ref:
                    killed_solo = True
    assert killed_search, "corpus never exercises full-match anchoring"
    assert killed_solo, "corpus never exercises the one-chunk prefix flush"
