"""Spark SQL expression text, generated in Python with no JVM call.

The pipeline's expression builders return SQL text instead of Column trees: a
Column tree costs one py4j round trip per ``F.*`` node (thousands per
pipeline), while a stage's text becomes one ``F.expr`` per column. Every
literal goes through ``lit`` and every column name through ``ident``, so
regexes, keys and separators carrying quotes, backslashes, tabs, ``\\x01``
or ``${`` reach the engine byte for byte. Operators are written infix and
parenthesized; a lambda is ``x -> …`` or ``(x, y) -> …`` with
a fresh variable name per lambda, so nested lambdas never shadow each other.
"""

from __future__ import annotations

import itertools

_fresh = itertools.count()

MAP_T = "map<string,string>"
EMPTY_MAP = f"CAST(map() AS {MAP_T})"
NULL_TS = "CAST(NULL AS TIMESTAMP)"


def lit(v: str | int | float | bool | None) -> str:
    """A SQL literal. Strings are single-quoted with ``\\`` and ``'``
    backslash-escaped (the parser's default string unescaping), and every
    ``${`` is written ``$\\{``: ``F.expr`` text goes through the session's
    variable substitution (``spark.sql.variable.substitute``, on by default)
    before literals are unescaped, which would replace ``${name}``,
    ``${env:X}`` or ``${system:X}`` inside a literal. A float is a DOUBLE, as
    ``F.lit`` makes it (a bare ``1.5`` would parse as a DECIMAL)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return f"CAST({lit(repr(v))} AS DOUBLE)"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'").replace("${", "$\\{") + "'"
    raise TypeError(f"no SQL literal for {type(v).__name__}")


def ident(name: str) -> str:
    """A back-quoted column name. A quoted identifier has no escape that could
    hide ``${`` from variable substitution (see ``lit``), so such a name is
    refused rather than silently rewritten; user-given keys are never
    identifiers here: map keys and struct fields are read by ``lit``."""
    if "${" in name:
        raise ValueError(f"column name {name!r} contains '${{'")
    return "`" + name.replace("`", "``") + "`"


def get(m: str, key: str) -> str:
    """``m[key]`` for a map expression and a literal key."""
    return f"{m}[{lit(key)}]"


def case(branches: list[tuple[str, str]], otherwise: str) -> str:
    """``CASE WHEN c THEN v … ELSE otherwise END``: first hit wins."""
    whens = " ".join(f"WHEN {c} THEN {v}" for c, v in branches)
    return f"(CASE {whens} ELSE {otherwise} END)"


def rlike(expr: str, pattern: str) -> str:
    return f"({expr} RLIKE {lit(pattern)})"


def lam(fn, arity: int = 1) -> str:
    """A SQL lambda whose body is ``fn(*variable_names)``."""
    names = [f"__x{next(_fresh)}" for _ in range(arity)]
    head = names[0] if arity == 1 else f"({', '.join(names)})"
    return f"{head} -> {fn(*names)}"


def let(value: str, fn) -> str:
    """Evaluate ``value`` once and bind it for ``fn``: a one-element
    ``transform``. Spark gives interpreted higher-order functions no
    common-subexpression elimination, so a subtree that a lambda body reads
    several times would otherwise be evaluated once per reference."""
    return f"element_at(transform(array({value}), {lam(fn)}), 1)"


def _n01(cond: str) -> str:
    """boolean → 0/1 int: a conditional length, the only conditional shape
    that stays cheap next to complex-typed values."""
    return f"(CASE WHEN {cond} THEN 1 ELSE 0 END)"


def opt_entry(key: str, value: str, present: str) -> str:
    """A 0- or 1-length ``array<struct<key,value>>``: a conditional map entry
    whose only conditional is its length. ``key`` is SQL text."""
    return f"slice(array(named_struct('key', {key}, 'value', {value})), 1, {_n01(present)})"


def entries_map(*entry_arrays: str) -> str:
    """One map from 0/1-length entry arrays (see ``opt_entry``)."""
    arr = entry_arrays[0] if len(entry_arrays) == 1 else f"concat({', '.join(entry_arrays)})"
    return f"coalesce(map_from_entries({arr}), {EMPTY_MAP})"


def literal_map(d: dict[str, str]) -> str:
    """A literal ``map<string,string>`` (empty dict → the empty map)."""
    if not d:
        return EMPTY_MAP
    return f"map({', '.join(lit(x) for kv in d.items() for x in kv)})"


def dedup_entries_last_wins(entries: str) -> str:
    """Drop every entry that has a LATER entry with the same key: duplicate-key
    last-wins per the reference's LogEvent::SetContent overwrite semantics
    (core/models/LogEvent.h:115-124), without relying on
    ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` (a vanilla session keeps the
    default EXCEPTION). O(k²) per row in the entry count, which is
    single-digit for log events."""

    def dedup(es: str) -> str:
        def later_has(e: str, i: str) -> str:
            tail = f"slice({es}, {i} + 2, greatest(size({es}) - {i} - 1, 0))"
            return f"(NOT exists({tail}, {lam(lambda o: f'({o}.key = {e}.key)')}))"

        return f"filter({es}, {lam(later_has, 2)})"

    return let(entries, dedup)


def merge_maps(base: str, overlay: str) -> str:
    """Structurally duplicate-free last-wins map merge: base entries shadowed by
    an overlay key are dropped BEFORE map construction, so the result is valid
    under any ``spark.sql.mapKeyDedupPolicy`` (incl. the default EXCEPTION).
    Matches LogEvent.h:115-124 overwrite semantics."""

    def merge(b: str, ov: str) -> str:
        kept = f"filter(map_entries({b}), {lam(lambda e: f'(NOT array_contains(map_keys({ov}), {e}.key))')})"
        return f"map_from_entries(concat({kept}, map_entries({ov})))"

    return let(base, lambda b: let(overlay, lambda ov: merge(b, ov)))


def set_field(base: str, key: str, value: str, present: str) -> str:
    """``base`` with ``key`` set to ``value`` where ``present`` and the value
    is non-null, else ``base`` unchanged; a null ``base`` stays null.

    Lambda-free, so it stays inside whole-stage codegen: the keys and values
    arrays are cut around the key's position and the new entry is appended,
    with the only conditionals on int positions and lengths (a conditional on
    an array value costs several times more). Duplicate-free by
    construction, so it is valid under any ``spark.sql.mapKeyDedupPolicy``.
    Overwrite semantics per LogEvent::SetContent (core/models/LogEvent.h:115-124).
    """
    k = lit(key)
    on = f"coalesce(({present} AND ({value} IS NOT NULL)), false)"
    keys, vals = f"map_keys({base})", f"map_values({base})"
    n = f"size({keys})"
    pos = f"array_position({keys}, {k})"
    # cut at the key's position when it is set and present, else past the end
    cut = f"(CASE WHEN ({on} AND ({pos} > 0)) THEN {pos} ELSE ({n} + 1) END)"
    tail_len = f"greatest({n} - {cut}, 0)"

    def rebuilt(arr: str, new: str) -> str:
        return (
            f"concat(slice({arr}, 1, {cut} - 1), slice({arr}, {cut} + 1, {tail_len}), "
            f"slice(array({new}), 1, {_n01(on)}))"
        )

    return f"map_from_arrays({rebuilt(keys, k)}, {rebuilt(vals, value)})"
