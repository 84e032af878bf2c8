"""Filter / predicate operators (SURVEY.md §2.3).

* ``filter_expression`` — processor_filter_regex_native ConditionExp mode:
  and/or/not expression tree over {key, exp(regex)} leaves
  (core/plugin/processor/ProcessorFilterNative.cpp:378-489).
* ``filter_include_exclude`` — Go processor_filter_regex: every Include regex
  must match AND no Exclude regex may match
  (plugins/processor/filter/regex/processor_filter_regex.go:33-112).
* ``filter_key_regex`` — keep row iff every Include regex matches some KEY NAME
  and no key name matches Exclude
  (plugins/processor/filter/keyregex/processor_filter_key_regex.go:28-100).
* ``drop_keys`` / ``pick_keys`` / ``drop_last_key`` — projection operators
  (plugins/processor/{drop,pickkey,droplastkey}).
* ``fields_with_condition`` — switch-case field actions
  (plugins/processor/fieldswithcondition/processor_fields_with_condition.go:43).

All filters compile to a single Catalyst boolean expression — Spark pushes it
into the scan where possible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import sqltext as S


def _field(fields_col: str, key: str, df_cols: list[str] | None = None) -> Column:
    """Resolve key against promoted top-level columns first, else the map."""
    if df_cols is not None and key in df_cols:
        return F.col(key)
    return F.col(fields_col)[key]


def compile_condition(node: dict, fields_col: str = "fields", df_cols: list[str] | None = None) -> Column:
    """Compile a ConditionExp JSON tree into one Catalyst boolean column.

    Tree grammar (ProcessorFilterNative.cpp:378-446)::

        {"operator": "and"|"or"|"not", "operands": [...]}
      | {"key": <field>, "exp": <regex>}   # leaf: regex full-search on value

    A leaf is false when the key is absent (node Match, .cpp:448-489).
    """
    if "operator" in node:
        op = node["operator"].lower()
        kids = [compile_condition(c, fields_col, df_cols) for c in node["operands"]]
        if op == "and":
            out = kids[0]
            for k in kids[1:]:
                out = out & k
            return out
        if op == "or":
            out = kids[0]
            for k in kids[1:]:
                out = out | k
            return out
        if op == "not":
            if len(kids) != 1:
                raise ValueError(
                    f"'not' takes exactly one operand, got {len(kids)} — "
                    "extra operands would be silently discarded"
                )
            return ~kids[0]
        raise ValueError(f"unknown operator {op!r}")
    val = _field(fields_col, node["key"], df_cols)
    return val.isNotNull() & val.rlike(node["exp"])


def filter_expression(df: DataFrame, tree: dict) -> DataFrame:
    return df.filter(compile_condition(tree, "fields", df.columns))


def filter_include_exclude(
    df: DataFrame,
    include: dict[str, str] | None = None,
    exclude: dict[str, str] | None = None,
) -> DataFrame:
    """Keep rows where all Include key→regex match and no Exclude matches."""
    cond = F.lit(True)
    for k, r in (include or {}).items():
        v = _field("fields", k, df.columns)
        cond = cond & v.isNotNull() & v.rlike(r)
    for k, r in (exclude or {}).items():
        v = _field("fields", k, df.columns)
        cond = cond & ~(v.isNotNull() & v.rlike(r))
    return df.filter(cond)


def filter_key_regex(
    df: DataFrame,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
) -> DataFrame:
    """Keep row iff every include regex matches SOME key name, none match
    exclude. Each ``exists`` is coalesced to False: on a NULL fields map the
    bare expression is NULL, and under an exclude-only config ``True & ~NULL``
    is NULL — the filter then DROPPED a row no exclude regex matched."""
    keys = F.map_keys(F.col("fields"))
    cond = F.lit(True)
    for r in include or []:
        cond = cond & F.coalesce(F.exists(keys, lambda k: k.rlike(r)), F.lit(False))
    for r in exclude or []:
        cond = cond & ~F.coalesce(F.exists(keys, lambda k: k.rlike(r)), F.lit(False))
    return df.filter(cond)


def drop_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """processor_drop: remove listed keys from the fields map."""
    key_arr = F.array(*[F.lit(k) for k in keys])
    return df.withColumn(
        "fields", F.map_filter(F.col("fields"), lambda k, _: ~F.array_contains(key_arr, k))
    )


def pick_keys(df: DataFrame, include: list[str] | None = None) -> DataFrame:
    """processor_pick_key: keep the whitelisted keys; drop rows left empty
    (processor_pick_key.go:67-96). The blacklist is not carried."""
    m = F.col("fields")
    if include:
        inc = F.array(*[F.lit(k) for k in include])
        m = F.map_filter(m, lambda k, _: F.array_contains(inc, k))
    return df.withColumn("fields", m).filter(F.size(F.col("fields")) > 0)


def drop_last_key(df: DataFrame, drop_key: str, include: list[str]) -> DataFrame:
    """processor_drop_last_key: drop ``drop_key`` (typically raw) once all
    ``include`` keys exist (processor_drop_last_key.go:26)."""
    m = F.col("fields")
    have_all = F.lit(True)
    for k in include:
        have_all = have_all & m[k].isNotNull()
    return df.withColumn(
        "fields",
        F.when(have_all, F.map_filter(m, lambda k, _: k != F.lit(drop_key))).otherwise(m),
    )


def fields_with_condition(
    df: DataFrame,
    cases: list[dict],
    drop_if_not_match: bool = False,
) -> DataFrame:
    """processor_fields_with_condition: first matching case applies field actions.

    Each case: ``{"condition": {key: value, ...},
    "relation_operator": "equals|regexp|contains|startwith",
    "logical_operator": "and|or",
    "add_fields": {...}, "drop_keys": [...]}``
    (processor_fields_with_condition.go:31-160 — relation applies per field
    condition, logical combines them; defaults equals/and). Compiled to one
    CASE over the fields map.
    """

    def case_cond(c: dict) -> str:
        rel = c.get("relation_operator", "equals")
        logical = c.get("logical_operator", "and")
        terms = []
        for k, v in c.get("condition", {}).items():
            fld = S.get("fields", k)
            if rel == "regexp":
                t = S.rlike(fld, v)
            elif rel == "contains":
                t = f"contains({fld}, {S.lit(v)})"
            elif rel == "startwith":
                t = f"startswith({fld}, {S.lit(v)})"
            else:
                t = f"({fld} = {S.lit(v)})"
            terms.append(f"coalesce({t}, false)")
        if not terms:
            return "true"
        return "(" + f" {'OR' if logical == 'or' else 'AND'} ".join(terms) + ")"

    def case_apply(c: dict) -> str:
        m = "fields"
        if c.get("drop_keys"):
            darr = f"array({', '.join(S.lit(k) for k in c['drop_keys'])})"
            m = f"map_filter({m}, {S.lam(lambda k, _: f'(NOT array_contains({darr}, {k}))', 2)})"
        if c.get("add_fields"):
            m = S.merge_maps(m, S.literal_map(c["add_fields"]))
        return m

    # CASE WHEN is first-match-wins by construction — re-ANDing each branch
    # with the negation of all prior conditions re-encoded every earlier
    # predicate into every later branch (O(k²) expression size for zero
    # semantic effect).
    new_map = S.case([(case_cond(c), case_apply(c)) for c in cases], "fields") if cases else "fields"
    # Match is decided on the ORIGINAL fields, so the drop filter must run
    # BEFORE the map is rewritten: filtering after withColumn re-resolves
    # `fields` against the transformed map, and a row whose only matching term
    # was clobbered by its own case's add_fields (e.g. condition lvl~err.*
    # plus add_fields lvl=case0) would be wrongly dropped (fresh-seed
    # differential, round 5).  Filter-first is also the cheaper plan: only
    # survivors pay for the map rewrite.
    out = df
    if drop_if_not_match:
        out = out.filter(F.expr("(" + " OR ".join(["false"] + [case_cond(c) for c in cases]) + ")"))
    return out.withColumn("fields", F.expr(new_map))
