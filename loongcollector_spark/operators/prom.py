"""Prometheus exposition-format parse + relabel —
ProcessorPromParseMetricNative (core/plugin/processor/inner/
ProcessorPromParseMetricNative.cpp + the TextParser state machine it drives,
core/prometheus/labels/TextParser.cpp:85-330) and
ProcessorPromRelabelMetricNative's relabel action set
(core/prometheus/labels/Relabel.cpp:141-252), re-expressed as pure-Catalyst
projections: one validating regex + one pair-extraction pass per line for the
parser, and per-rule map/filter expressions for relabeling. No Python in
either path; both pipeline inside the scan stage (zero shuffle), so the
operators hold their shape at any scrape-corpus size.

Parser semantics preserved from TextParser:

* comment/blank lines are skipped silently (IsValidMetric,
  core/prometheus/Utils.cpp:102-113); structurally invalid lines are DROPPED
  (ParseLine false → event not emitted);
* metric name ``[A-Za-z_:][A-Za-z0-9_:]*``; label names
  ``[A-Za-z_][A-Za-z0-9_]*``; label values are double-quoted with the escape
  set ``\\\\``, ``\\"``, ``\\n`` — an INVALID escape pair is kept verbatim
  (TextParser.cpp:178-195), which the sentinel-chain unescape reproduces
  exactly left-to-right;
* after each label value only ``,`` or ``}`` may follow (trailing comma ok);
* sample value must terminate at whitespace/#/EOL; ``+Inf``/``-Inf``/``NaN``
  spellings parse per C++ ``StringTo<double>`` (hex-float spellings are
  accepted by the C++ parser but not here — not emitted by any exporter);
* the optional trailing ``# exemplar`` section is ignored;
* a timestamp below 2^31 is interpreted as SECONDS and scaled ×1000,
  otherwise it is milliseconds (TextParser.cpp:306-310); with
  ``honor_timestamps`` a (scaled) timestamp under 10 digits of seconds is an
  error (line dropped, TextParser.cpp:314-318), without it the scrape-time
  default is used;
* ``__name__`` is injected into the label map last (overwriting a parsed
  label of that name), mirroring ProcessorPromParseMetricNative.cpp:63.

Relabel semantics follow the reference's action set; ``replace`` uses the
upstream-Prometheus ANCHORED full-match expansion (the reference's boost
variant splices into partial matches — identical on the anchored regexes real
scrape configs use, noted divergence otherwise).
"""

from __future__ import annotations

import re as _re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import sqltext as S

_NAME = r"[A-Za-z_:][A-Za-z0-9_:]*"
_LNAME = r"[A-Za-z_][A-Za-z0-9_]*"
_LVAL = r'"(?:[^"\\]|\\.)*"'
_PAIR = rf"{_LNAME}\s*=\s*{_LVAL}"
_LABELS = rf"\{{\s*(?:{_PAIR}\s*,\s*)*(?:{_PAIR}\s*)?\}}"
_NUM = r"[0-9.eE+\-IiNnFfTtYyXxAa]+"
_LINE = rf"^\s*({_NAME})\s*({_LABELS})?\s*({_NUM})(?:[ \t]+({_NUM}))?[ \t]*(?:#.*)?$"

_SENTINEL = "\x01"


def _unescape(v: str) -> str:
    """Left-to-right prometheus label-value unescape via a COLLISION-PROOF
    sentinel chain: a raw 0x01 byte in the input (exporters can emit any
    byte; the reference TextParser passes bytes through untouched) is first
    escaped to ``S2``, literal ``\\\\`` is protected as ``S1``, then ``\\"``
    and ``\\n`` decode, then ``S1``→backslash and ``S2``→0x01 restore. No
    input byte sequence can forge an ``S1``/``S2`` token, so genuine 0x01
    bytes survive verbatim. Invalid pairs (e.g. ``\\x``) fall through
    verbatim — reference behavior."""
    steps = [
        (_SENTINEL, _SENTINEL + "2"), ("\\\\", _SENTINEL + "1"), ('\\"', '"'), ("\\n", "\n"),
        (_SENTINEL + "1", "\\"), (_SENTINEL + "2", _SENTINEL),
    ]
    for old, new in steps:
        v = f"replace({v}, {S.lit(old)}, {S.lit(new)})"
    return v


_KEY_RX = rf"^({_LNAME})"
_VALUE_RX = r'"((?:[^"\\]|\\.)*)"'


def _label_entry(pair: str) -> str:
    key = f"regexp_extract({pair}, {S.lit(_KEY_RX)}, 1)"
    value = _unescape(f"regexp_extract({pair}, {S.lit(_VALUE_RX)}, 1)")
    return f"named_struct('key', {key}, 'value', {value})"


def prom_parse(df: DataFrame, default_ts_ms: int = 0, honor_timestamps: bool = True) -> DataFrame:
    """Parse one exposition line per row into
    ``(name, labels map<string,string>, value double, ts_ms bigint)``,
    dropping comment/blank/invalid lines; all other columns pass through."""
    line = S.lit(_LINE)

    def group(i: int) -> str:
        return f"regexp_extract(content, {line}, {i})"

    leading_ws = S.lit(r"^[ \t]+")
    stripped = f"regexp_replace(content, {leading_ws}, '')"
    is_metric = f"((length({stripped}) > 0) AND (NOT startswith({stripped}, '#')))"
    shape_ok = f"(content RLIKE {line})"
    name, vs, ts_s = group(1), group(3), group(4)

    pairs = f"regexp_extract_all({group(2)}, {S.lit(f'({_PAIR})')}, 1)"
    name_entry = f"named_struct('key', '__name__', 'value', {name})"
    with_name = f"concat(transform({pairs}, {S.lam(_label_entry)}), array({name_entry}))"
    labels = f"map_from_entries({S.dedup_entries_last_wins(with_name)})"

    lv = f"lower({vs})"
    value = S.case(
        [
            (f"({lv} IN ('inf', '+inf', 'infinity', '+infinity'))", S.lit(float("inf"))),
            (f"({lv} IN ('-inf', '-infinity'))", S.lit(float("-inf"))),
            (f"({lv} IN ('nan', '+nan', '-nan'))", S.lit(float("nan"))),
        ],
        f"try_cast({vs} AS DOUBLE)",
    )

    has_ts = f"({ts_s} != '')"
    tnum = f"try_cast({ts_s} AS DOUBLE)"
    milli = f"(CASE WHEN ({tnum} < {S.lit(float(1 << 31))}) THEN ({tnum} * 1000) ELSE {tnum} END)"
    # STRICT bounds on the value actually cast: float(2^63) itself (what a
    # 19-digit decimal rounds to) does NOT fit in a long — an inclusive bound
    # let that single line overflow the cast (a job-killing error under ANSI)
    # instead of being dropped per the parser's invalid-line contract.
    ts_ok = (
        f"(({tnum} IS NOT NULL) AND ({milli} < {S.lit(float(1 << 63))}) "
        f"AND ({milli} > {S.lit(float(-(1 << 63)))}))"
    )
    if honor_timestamps:
        ts_ok = f"({ts_ok} AND (floor(({milli} / 1000)) >= 1000000000))"
        ts_ms = f"(CASE WHEN {has_ts} THEN CAST({milli} AS BIGINT) ELSE {S.lit(default_ts_ms)} END)"
    else:
        ts_ms = f"CAST({S.lit(default_ts_ms)} AS BIGINT)"

    ok = f"({is_metric} AND {shape_ok} AND ({value} IS NOT NULL) AND ((NOT {has_ts}) OR {ts_ok}))"
    keep = [col for col in df.columns if col != "content"]
    clash = sorted(set(keep) & {"name", "labels", "value", "ts_ms"})
    if clash:
        raise ValueError(
            f"prom_parse: input column(s) {clash} collide with the parser's "
            "output columns (name, labels, value, ts_ms) — rename or drop them "
            "first; a silent duplicate column fails far downstream with "
            "AMBIGUOUS_REFERENCE"
        )
    return (
        df.select(
            *keep,
            F.expr(ok).alias("_ok"),
            *[F.expr(f"(CASE WHEN {ok} THEN {v} END)").alias(c) for c, v in
              (("name", name), ("labels", labels), ("value", value), ("ts_ms", ts_ms))],
        )
        .filter(F.col("_ok"))
        .drop("_ok")
    )


@dataclass(frozen=True)
class RelabelRule:
    """One relabel_config (Relabel.cpp field set). ``regex`` is implicitly
    anchored (prometheus semantics); ``replacement``/``target_label`` may use
    ``$1``-style group references for replace/labelmap."""

    action: str  # keep|drop|keepequal|dropequal|replace|lowercase|uppercase|
    #              hashmod|labelmap|labeldrop|labelkeep|dropmetric
    source_labels: tuple[str, ...] = ()
    separator: str = ";"
    target_label: str = ""
    regex: str = "(.*)"
    replacement: str = "$1"
    modulus: int = 0
    match_list: tuple[str, ...] = ()


def _java_template(template: str, regex: str) -> str:
    """Translate a Prometheus replacement template into a Java
    ``Matcher.replaceAll`` replacement that is SAFE for the given pattern.

    Go's ``Regexp.Expand`` (what Prometheus uses) expands a ``$n``/``${name}``
    reference to the EMPTY STRING when the group doesn't exist, and treats a
    ``$`` that starts no valid reference literally; Java instead throws
    ``IndexOutOfBoundsException: No group n`` and parses ``\\``/``$`` as live
    syntax. Feeding the DEFAULT replacement ``$1`` through with a group-less
    user regex (a perfectly legal Prometheus config) crashed the query. Here:
    ``$$`` → literal ``$``; a numeric/named ref is kept (``${n}`` form) only
    if the compiled pattern actually has that group, else dropped; any other
    ``$`` or ``\\`` is escaped so it passes through verbatim."""
    try:
        compiled = _re.compile(regex)
    except _re.error:
        # Pattern not introspectable from Python (e.g. Java-only syntax):
        # pass the template through untranslated — never regress a config
        # that worked before this guard existed.
        return template
    ngroups, names = compiled.groups, compiled.groupindex
    out: list[str] = []
    i = 0
    # Java has NO brace syntax for numbered refs (${1} is rejected), so a
    # numeric ref is emitted unbraced ($1) and an immediately following
    # literal digit is backslash-escaped so Java can't absorb it into the
    # group number (template "${1}0" must mean group 1 then literal '0').
    after_numeric_ref = False
    while i < len(template):
        ch = template[i]
        if ch == "$":
            if i + 1 < len(template) and template[i + 1] == "$":
                out.append(r"\$")
                i += 2
                after_numeric_ref = False
                continue
            m = _re.match(r"\{(\w+)\}|(\w+)", template[i + 1 :])
            if m:
                name = m.group(1) or m.group(2)
                if name.isdigit():
                    if int(name) <= ngroups:
                        out.append(f"${int(name)}")
                        after_numeric_ref = True
                    # else: Go expands a nonexistent group to "" — emit
                    # NOTHING, and the flag must SURVIVE the drop: the last
                    # emitted content still ends with a numeric ref, so a
                    # literal digit following the dropped ref would otherwise
                    # sit adjacent to it and Java could absorb it into the
                    # group number ("$1${99}2" with >=12 groups → "$12",
                    # the wrong group — fuzz-found).
                else:
                    if name in names:
                        out.append(f"${{{name}}}")
                        after_numeric_ref = False
                    # else: dropped — flag survives, same reason as above
                i += 1 + m.end()
                continue
            out.append(r"\$")  # lone '$' (end / before non-word): Go keeps it
            i += 1
            after_numeric_ref = False
            continue
        if ch == "\\":
            out.append("\\\\")
            i += 1
            after_numeric_ref = False
            continue
        if after_numeric_ref and ch.isdigit():
            out.append("\\" + ch)
            i += 1
            continue
        out.append(ch)
        after_numeric_ref = False
        i += 1
    return "".join(out)


def _src_val(labels: str, rule: RelabelRule) -> str:
    vals = [f"coalesce(try_element_at({labels}, {S.lit(sl)}), '')" for sl in rule.source_labels]
    return f"concat_ws({S.lit(rule.separator)}, {', '.join(vals or [S.lit('')])})"


def prom_relabel(df: DataFrame, rules: list[RelabelRule]) -> DataFrame:
    """Apply relabel rules in order (Relabel.cpp:141-252). Row-dropping
    actions (keep/drop/keepequal/dropequal/dropmetric) become filters; label
    rewrites fold into one map expression per rule.

    CRITICAL plan-shape detail: every rule's expression reads the CURRENT
    labels map through exactly ONE ``sqltext.let`` binding. withColumn chains
    collapse into a single Project, substituting rule N's full expression
    into every reference rule N+1 makes — with the 3-6 naked references the
    naive form needs (val per source label, erase branch, merge branch) the
    expression tree grows ~5^rules and a 7-rule chain took 15s for 4k rows.
    The let-bound form keeps one reference per rule → linear tree, one
    evaluation of the incoming map per rule at runtime."""
    out = df

    def one_label(key: str, value: str) -> str:
        return f"map_from_arrays(array({key}), array({value}))"

    def rewrite(rule: RelabelRule, a: str, full: str):
        rx = S.lit(full)

        def fn(labels: str) -> str:
            val = _src_val(labels, rule)
            if a == "replace":
                newkey = f"regexp_replace({val}, {rx}, {S.lit(_java_template(rule.target_label, full))})"
                newval = f"regexp_replace({val}, {rx}, {S.lit(_java_template(rule.replacement, full))})"
                erased = f"map_filter({labels}, {S.lam(lambda k, _: f'({k} != {newkey})', 2)})"
                merged = S.merge_maps(labels, one_label(newkey, newval))
                rewritten = f"(CASE WHEN ({newval} = '') THEN {erased} ELSE {merged} END)"
                return f"(CASE WHEN ({val} RLIKE {rx}) THEN {rewritten} ELSE {labels} END)"
            if a in ("lowercase", "uppercase"):
                cased = f"{'lower' if a == 'lowercase' else 'upper'}({val})"
                return S.merge_maps(labels, one_label(S.lit(rule.target_label), cased))
            if a == "hashmod":
                # last 8 md5 bytes as uint64 mod modulus (Relabel.cpp:195-206);
                # conv() yields the unsigned decimal string, decimal(38,0)
                # holds the full uint64 range
                h = f"conv(substring(md5(CAST({val} AS BINARY)), 17, 16), 16, 10)"
                mod = f"CAST(pmod(CAST({h} AS DECIMAL(38,0)), {rule.modulus}) AS BIGINT)"
                return S.merge_maps(labels, one_label(S.lit(rule.target_label), f"CAST({mod} AS STRING)"))
            if a == "labelmap":
                template = S.lit(_java_template(rule.replacement, full))

                def renamed(e: str) -> str:
                    return f"named_struct('key', regexp_replace({e}.key, {rx}, {template}), 'value', {e}.value)"

                hits = f"filter(map_entries({labels}), {S.lam(lambda e: f'({e}.key RLIKE {rx})')})"
                mapped = f"transform({hits}, {S.lam(renamed)})"
                return S.merge_maps(labels, f"map_from_entries({S.dedup_entries_last_wins(mapped)})")
            if a == "labeldrop":
                return f"map_filter({labels}, {S.lam(lambda k, _: f'(NOT ({k} RLIKE {rx}))', 2)})"
            if a == "labelkeep":
                return f"map_filter({labels}, {S.lam(lambda k, _: f'({k} RLIKE {rx})', 2)})"
            raise ValueError(f"unknown relabel action {a!r}")

        return fn

    def condition(rule: RelabelRule, a: str, full: str):
        def fn(labels: str) -> str:
            val = _src_val(labels, rule)
            target = f"coalesce(try_element_at({labels}, {S.lit(rule.target_label)}), '')"
            if a == "keep":
                return S.rlike(val, full)
            if a == "drop":
                return f"(NOT {S.rlike(val, full)})"
            if a == "keepequal":
                return f"({target} = {val})"
            if a == "dropequal":
                return f"({target} != {val})"
            if not rule.match_list:  # dropmetric with nothing to drop
                return "true"
            return f"(NOT ({val} IN ({', '.join(S.lit(m) for m in rule.match_list)})))"

        return fn

    for rule in rules:
        full = f"^(?:{rule.regex})$"
        a = rule.action
        if a in ("keep", "drop", "keepequal", "dropequal", "dropmetric"):
            out = out.filter(F.expr(S.let("labels", condition(rule, a, full))))
        else:
            out = out.withColumn("labels", F.expr(S.let("labels", rewrite(rule, a, full))))
    return out
