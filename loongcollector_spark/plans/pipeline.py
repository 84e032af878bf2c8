"""Config-driven pipeline compiler — the CollectionPipeline::Init analog
(core/collection_pipeline/CollectionPipeline.cpp:140,242): a pipeline spec
(Python dict) is compiled ONCE into a DataFrame DAG; Catalyst is the optimizer
the reference never had.

Key scale decision: per-``source`` parser dispatch happens inside ONE lazy
projection (``parse_by_source``), so the input table is scanned exactly once and
each row evaluates only its own parser — no per-source unions, no repeated IO.

Every stage's expressions are Spark SQL text generated in Python
(``sqltext``), applied with one ``withColumns`` of ``F.expr`` columns: a warm
build is tens of py4j calls, where a Column tree costs one per expression
node. The build still runs per job (the stream builds once per query).

A full pipeline = decode → parse(by source) → filters → enrich → route →
salted repartition → fan-out sinks + per-sink counts.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import sqltext as S
from ..codec import with_content
from ..operators import parse as P
from ..operators.route import RouteRule, route_rows


@dataclass(frozen=True)
class ParserSpec:
    """One per-source parser config (the processor config JSON analog,
    example_config/ in the reference)."""

    kind: str  # regex | json | delimiter | apsara | kv
    regex: str = ""
    keys: tuple[str, ...] = ()
    separator: str = "|"
    allow_shortened: bool = False


def _branch_fields(spec: ParserSpec, src: str, enabled: str) -> tuple[str, str, str | None]:
    """(masked_fields_map, matched, event_ts|None) SQL text for one parser spec,
    with the default CommonParserOptions (raw line kept under ``__raw_log__``
    on failure); delimiter overflow is ``extend`` and kv splits on tab/colon.

    The map is EMPTY on rows where ``enabled`` is false, and each parser gates
    its input string on ``enabled`` so the expensive work (regex, json parse)
    runs only on its own source's rows."""
    if spec.kind == "regex":
        m, ok = P.regex_fields(src, spec.regex, list(spec.keys), enabled=enabled)
        return m, ok, None
    if spec.kind == "json":
        m, ok = P.json_fields(src, enabled)
        return m, ok, None
    if spec.kind == "delimiter":
        m, ok = P.delimiter_fields(
            src, list(spec.keys), spec.separator, allow_shortened=spec.allow_shortened, enabled=enabled
        )
        return m, ok, None
    if spec.kind == "apsara":
        return P.apsara_fields(src, enabled)
    if spec.kind == "kv":
        m, ok = P.kv_fields(src, enabled=enabled)
        return m, ok, None
    raise ValueError(f"unknown parser kind {spec.kind!r}")


def parse_by_source(df: DataFrame, parsers: dict[str, ParserSpec]) -> DataFrame:
    """Dispatch parsers per source value in one projection (single scan).

    The fields map is a ``map_concat`` of per-source MASKED maps (empty for
    rows of other sources) — NOT a CASE over maps: CASE with map-typed
    branches costs ~5× the map construction itself (see operators/parse.py
    module docstring). Conditionals stay on primitives (source equality, slice
    lengths); per-parser input gating keeps each regex/json evaluation on its
    own source's rows only. The three columns are SQL text, applied in one
    ``withColumns``.

    Rows whose source has no configured parser keep an empty fields map and
    ``_parse_ok = false`` (they still flow — routing decides their sink).
    A pre-existing ``event_time`` is PRESERVED whenever the row's parser emits
    no timestamp (timestamp-less parser kind, or a failed parse) — a parser
    only ever overwrites event time with a value it actually extracted.
    """
    if not parsers:
        raise ValueError("parse_by_source: parsers dict is empty — configure at least one source")
    prev_ts = "event_time" if "event_time" in df.columns else S.NULL_TS
    maps: list[str] = []
    oks: list[tuple[str, str]] = []
    tss: list[tuple[str, str]] = []
    for source_val, spec in parsers.items():
        cond = f"(source = {S.lit(source_val)})"
        parsed, matched, ts = _branch_fields(spec, "content", cond)
        maps.append(parsed)
        oks.append((cond, matched))
        # fall back to the pre-existing event time, never clobber it with NULL
        tss.append((cond, prev_ts if ts is None else f"(CASE WHEN {matched} THEN coalesce({ts}, {prev_ts}) ELSE {prev_ts} END)"))

    # Per-source parsed maps never collide with EACH OTHER (mutually exclusive
    # source conditions → at most one is non-empty per row), but any of them CAN
    # collide with a pre-existing fields key (e.g. an upstream enrich already set
    # 'status' and the nginx regex extracts it too). merge_maps drops shadowed
    # base entries structurally (last-wins, LogEvent::SetContent semantics)
    # instead of letting map_concat throw DUPLICATE_MAP_KEY under the default
    # mapKeyDedupPolicy=EXCEPTION.
    parsed_expr = maps[0] if len(maps) == 1 else f"map_concat({', '.join(maps)})"
    if "fields" in df.columns:
        parsed_expr = S.merge_maps(f"coalesce(fields, {S.EMPTY_MAP})", parsed_expr)
    return df.withColumns({
        "fields": F.expr(parsed_expr),
        P.PARSE_OK: F.expr(f"coalesce({S.case(oks, 'false')}, false)"),
        "event_time": F.expr(S.case(tss, prev_ts)),
    })


# ---------------------------------------------------------------------------
# Default flagship pipeline config (SURVEY.md §7.1 minimum end-to-end slice)
# ---------------------------------------------------------------------------

NGINX_REGEX = (
    r'([^ ]*) ([^ ]*) ([^ ]*) \[([^\]]*)\] "(\S+) ([^"]*) (\S*)" '
    r'([^ ]*) ([^ ]*) "([^"]*)" "([^"]*)"'
)
NGINX_KEYS = (
    "ip",
    "ident",
    "auth",
    "timestamp",
    "method",
    "request",
    "http_version",
    "response_code",
    "bytes",
    "referrer",
    "user_agent",
)
DELIM_KEYS = ("ip", "time", "method", "url", "status", "bytes")

DEFAULT_PARSERS: dict[str, ParserSpec] = {
    "nginx": ParserSpec(kind="regex", regex=NGINX_REGEX, keys=NGINX_KEYS),
    "apsara": ParserSpec(kind="apsara"),
    "json": ParserSpec(kind="json"),
    "delimiter": ParserSpec(kind="delimiter", keys=DELIM_KEYS, separator="|", allow_shortened=True),
    "kv": ParserSpec(kind="kv"),
}

# FIXTURES.md §4 routing table (aggregator_logstore_router semantics)
DEFAULT_ROUTES = [
    RouteRule("nginx", "sink_nginx"),
    RouteRule("apsara", "sink_apsara"),
    RouteRule("json|delimiter", "sink_structured"),
]

# Default enrich stage (the north-star lookup / desensitize step):
# status code → class via a literal map lookup; last IP octet redacted.
STATUS_CLASSES = [
    ("200", "ok"), ("301", "redirect"), ("403", "client_error"),
    ("404", "client_error"), ("500", "server_error"),
]


def default_enrich(spark) -> "Callable[[DataFrame], DataFrame]":  # noqa: F821
    """processor_dict_map + processor_desensitize over the parsed fields —
    the reference's rename/filter/desensitize enrich line as one composable
    stage. The dict is a literal map, so the stage is one projection: no
    join, no broadcast job (``spark`` is unused, kept for callers)."""
    from ..operators.enrich import desensitize_const, dict_map

    classes = dict(STATUS_CLASSES)

    def _apply(df: DataFrame) -> DataFrame:
        df = dict_map(
            df, classes, source_key="response_code", dest_key="status_class", missing="other"
        )
        df = desensitize_const(df, "ip", r"\d+$", "x")  # redact last IP octet
        return df

    return _apply


def build_pipeline(
    df: DataFrame,
    routes: list[RouteRule] | None = None,
    default_sink: str | None = "sink_default",
    enrich=None,
) -> DataFrame:
    """decode → parse(by source, ``DEFAULT_PARSERS``) → [enrich] → route.
    ``tokens`` is carried untouched.

    ``enrich`` is a DataFrame→DataFrame stage (see ``default_enrich``) applied
    between parse and route — the lookup / desensitize line.
    """
    routes = DEFAULT_ROUTES if routes is None else routes
    out = with_content(df)
    out = parse_by_source(out, DEFAULT_PARSERS)
    if enrich is not None:
        out = enrich(out)
    return route_rows(out, routes, source_key="source", default_sink=default_sink)
