"""Routing: row-level logstore router + group-level flusher conditions.

* ``route_rows`` — aggregator_logstore_router semantics: anchored full-match
  regexes tried in order, first hit wins, non-matching rows → default sink or
  dropped (plugins/aggregator/logstorerouter/aggregator_router.go:97-133).
  Compiles to ONE SQL ``CASE`` — a single projection, no shuffle.
* ``sink_conditions`` — Router fan-out semantics
  (core/collection_pipeline/route/Router.cpp:50-82): unconditional sinks always
  receive a copy; conditional sinks receive rows matching their Condition
  (event_type equality or tag equality, Condition.cpp:36-113). A row can go to
  MULTIPLE sinks: ``fan_out`` gives one filtered DataFrame per sink, and
  ``with_sink_column`` explodes each row into one copy per sink so a single
  ``partitionBy`` write on the copies commits them all.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import sqltext as S


@dataclass(frozen=True)
class RouteRule:
    regex: str  # full-match on the key's value (anchored automatically)
    sink: str


def _anchor(r: str) -> str:
    # Wrap in a non-capturing group BEFORE anchoring: bare "^" + "json|delimiter"
    # + "$" would anchor only the alternation's outer branches ("^json" OR
    # "delimiter$"), matching 'json2' / 'xdelimiter' — not a full match. The
    # group makes the anchors apply to the whole pattern; redundant inner
    # anchors (a user-supplied "^foo$") stay valid inside the group.
    return rf"^(?:{r})$"


def route_rows(
    df: DataFrame,
    rules: list[RouteRule],
    source_key: str = "source",
    default_sink: str | None = "default",
) -> DataFrame:
    """First-match-wins anchored regex routing into a ``route`` column.

    ``default_sink=None`` reproduces DropDisMatch (aggregator_router.go:97-133):
    non-matching rows are dropped.
    """
    src = S.ident(source_key) if source_key in df.columns else S.get("fields", source_key)
    hits = [(f"(({src} IS NOT NULL) AND {S.rlike(src, _anchor(r.regex))})", S.lit(r.sink)) for r in rules]
    expr = S.case(hits, S.lit(default_sink)) if hits else S.lit(default_sink)
    out = df.withColumn("route", F.expr(expr))
    if default_sink is None:
        out = out.filter(F.col("route").isNotNull())
    return out


@dataclass(frozen=True)
class SinkCondition:
    """Condition (core/collection_pipeline/route/Condition.cpp).

    type: 'always' (unconditional flusher) | 'event_type' | 'tag' | 'route'.
    """

    sink: str
    type: str = "always"
    key: str = ""
    value: str = ""
    discard_tag: bool = False  # DiscardingTag removes the tag after routing


def sink_predicate(cond: SinkCondition) -> Column:
    if cond.type == "always":
        return F.lit(True)
    if cond.type == "event_type":
        return F.col("event_type") == F.lit(cond.value)
    if cond.type == "tag":
        return F.col("tags")[cond.key] == F.lit(cond.value)
    if cond.type == "route":
        return F.col("route") == F.lit(cond.value)
    raise ValueError(f"unknown condition type {cond.type!r}")


def check_distinct_sinks(conditions: list[SinkCondition]) -> None:
    """Each condition needs its own sink: a repeated name would silently
    merge (or, in ``fan_out``, REPLACE) one condition's rows with another's."""
    dup = {c.sink for c in conditions if sum(x.sink == c.sink for x in conditions) > 1}
    if dup:
        raise ValueError(
            f"duplicate sink name(s) {sorted(dup)} — each later condition "
            "would silently REPLACE the earlier one's rows; give each "
            "condition a distinct sink (or pre-merge the conditions)"
        )


def _discard_tag(c: SinkCondition) -> Column:
    return F.map_filter(F.col("tags"), lambda k, _: k != F.lit(c.key))


def fan_out(df: DataFrame, conditions: list[SinkCondition]) -> dict[str, DataFrame]:
    """Router.cpp:50-82 multi-sink duplication: each sink gets the rows its
    condition matches; a row may appear in several sinks. Caller should
    ``df.persist()`` first so the routed plan is computed once."""
    check_distinct_sinks(conditions)
    out: dict[str, DataFrame] = {}
    for c in conditions:
        sunk = df.filter(sink_predicate(c))
        if c.type == "tag" and c.discard_tag:
            sunk = sunk.withColumn("tags", _discard_tag(c))
        out[c.sink] = sunk
    return out


def with_sink_column(df: DataFrame, conditions: list[SinkCondition]) -> DataFrame:
    """``fan_out`` as one plan: each row exploded into one copy per sink whose
    condition holds, that sink's name in ``_sink`` — a row in k sinks appears
    k times, a row in none is dropped — so ONE ``partitionBy("_sink")`` write
    commits every sink. ``discard_tag`` applies to its own sink's copies."""
    check_distinct_sinks(conditions)
    hits = F.array(*[F.when(sink_predicate(c), F.lit(c.sink)) for c in conditions])
    out = df.withColumn("_sink", F.explode(F.filter(hits, lambda s: s.isNotNull())))
    discards = [c for c in conditions if c.type == "tag" and c.discard_tag]
    if discards:
        tags = F.col("tags")
        for c in discards:
            tags = F.when(F.col("_sink") == F.lit(c.sink), _discard_tag(c)).otherwise(tags)
        out = out.withColumn("tags", tags)
    return out
