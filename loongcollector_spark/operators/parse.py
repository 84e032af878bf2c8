"""Parse / projection operators.

Reproduces the semantics of the reference's native parsers (SURVEY.md §2.2):

* ``parse_regex``     — processor_parse_regex_native
                        (core/plugin/processor/ProcessorParseRegexNative.cpp)
* ``parse_json``      — processor_parse_json_native
                        (core/plugin/processor/ProcessorParseJsonNative.cpp:105-202)
* ``parse_delimiter`` — processor_parse_delimiter_native
                        (core/plugin/processor/ProcessorParseDelimiterNative.cpp:206-409)
* ``parse_apsara``    — processor_parse_apsara_native
                        (core/plugin/processor/ProcessorParseApsaraNative.cpp:116-463)
* ``parse_timestamp`` — processor_parse_timestamp_native
                        (core/plugin/processor/ProcessorParseTimestampNative.cpp)
* ``split_key_value`` — processor_split_key_value
                        (plugins/processor/split/keyvalue/key_value_splitter.go:26-52)

Shared **CommonParserOptions** semantics
(core/plugin/processor/CommonParserOptions.h:30-39, .cpp:91-117):
on success the source key is removed unless ``keep_source_on_success`` keeps the
raw under ``__raw__``; on failure the raw is kept under ``__raw_log__``
(``keep_source_on_fail``) or the event is **dropped**. Only the regex parser
takes non-default options; the others keep the raw line on failure.

Architecture — the "masked slice" scheme, built as Spark SQL text
(``sqltext``): a stage's columns are generated in Python and reach the JVM as
one ``F.expr`` each, not as one py4j round trip per expression node.

Conditionals on complex-typed values (``CASE`` whose branches are maps, arrays
or structs) cost several times the map construction itself, while a
conditional int is free. So every parser builds its output map exactly ONCE
per row via ``map_from_arrays``/``map_from_entries`` over arrays whose LENGTHS
are the only conditionals (``slice(arr, 1, CASE WHEN cond THEN n ELSE 0 END)``).
Parse-fail fallback entries and CommonParserOptions policies are 0/1-length
sliced entry arrays, and per-source dispatch (plans/pipeline.py) is a
``map_concat`` of per-source masked maps.

Higher-order functions (``transform``, ``filter``, ``aggregate`` and the
``sqltext.let`` binding built on ``transform``) run outside whole-stage
codegen, per element. The text uses a codegen'd built-in wherever one does
the job; the lambdas left are the apsara chain, gated so that rows of other
sources never enter it, and the kv fold, which runs only on its own source's
rows.

Each parser exposes an expression-level builder
``*_fields(src, ..., enabled) -> (fields_map, ok[, ts])`` over SQL text
— ``enabled`` masks the parser to an empty map on rows of other sources —
plus a thin DataFrame wrapper. Everything is native Catalyst (zero Python in
the hot path); the regex parser uses a single-pass packing trick —
``regexp_replace(line, anchored, "$1\\x01$2…")`` + ``split`` — so each row
costs ONE regex evaluation (match success is detected from the split arity).
"""

from __future__ import annotations

import re as _re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import sqltext as S

# Field separator for the packed-capture trick. \x01 never appears in valid
# log payloads produced by the synth (ASCII printable + \t). A payload that
# does contain \x01 inside a matching line would split into extra parts and be
# treated as a parse failure (documented deviation; sanitize upstream if real
# data may contain \x01).
_SEP = "\x01"

PARSE_OK = "_parse_ok"  # per-row parse outcome column

_ENTRY_T = "array<struct<key:string,value:string>>"


def _gate(src: str, enabled: str | None) -> str:
    """``src`` on enabled rows, NULL elsewhere (when-on-string is cheap): the
    expensive work downstream of it skips rows of other sources."""
    return src if enabled is None else f"(CASE WHEN {enabled} THEN {src} END)"


def _mask_len(n: int | str, cond: str) -> str:
    return f"(CASE WHEN {cond} THEN {n} ELSE 0 END)"


def _ok(cond: str) -> str:
    return f"coalesce({cond}, false)"


@dataclass(frozen=True)
class ParserOptions:
    """CommonParserOptions (CommonParserOptions.h:30-39); the raw line is
    kept under ``RAW_ON_SUCCESS_KEY``/``RAW_ON_FAIL_KEY``."""

    keep_source_on_success: bool = False
    keep_source_on_fail: bool = True


RAW_ON_SUCCESS_KEY = "__raw__"  # the reference's RenamedSourceKey default
RAW_ON_FAIL_KEY = "__raw_log__"  # the reference's CopingRawLog key
_DEFAULT_OPTS = ParserOptions()


def _policy_entries(src: str, ok: str, enabled: str | None, opts: ParserOptions) -> list[str]:
    """CommonParserOptions keep-raw entries (CommonParserOptions.cpp:91-117) as
    masked 0/1 entry arrays."""
    en = "true" if enabled is None else enabled
    out = []
    if opts.keep_source_on_fail:
        out.append(S.opt_entry(S.lit(RAW_ON_FAIL_KEY), src, f"({en} AND (NOT {ok}))"))
    if opts.keep_source_on_success:
        out.append(S.opt_entry(S.lit(RAW_ON_SUCCESS_KEY), src, f"({en} AND {ok})"))
    return out


def _with_policy(parsed: str, src: str, ok: str, enabled: str | None, opts: ParserOptions) -> str:
    pol = _policy_entries(src, ok, enabled, opts)
    return f"map_concat({parsed}, {S.entries_map(*pol)})" if pol else parsed


def _finalize_fields(df: DataFrame, fields_map: str, ok: str, opts: ParserOptions) -> DataFrame:
    if "fields" in df.columns:
        # chained parse: later parser's keys overwrite (last-wins, conf-free)
        fields_map = S.merge_maps(f"coalesce(fields, {S.EMPTY_MAP})", fields_map)
    out = df.withColumns({"fields": F.expr(fields_map), PARSE_OK: F.expr(ok)})
    if not opts.keep_source_on_fail:
        out = out.filter(F.col(PARSE_OK))  # ShouldEraseEvent → drop unparseable rows
    return out


# ---------------------------------------------------------------------------
# regex (processor_parse_regex_native)
# ---------------------------------------------------------------------------

def anchor_full_match(regex: str) -> str:
    """Emulate boost regex_match (whole-line) with ^...$ anchoring
    (ProcessorParseRegexNative.cpp:227-244)."""
    if not regex.startswith("^"):
        regex = "^" + regex
    if not regex.endswith("$"):
        regex = regex + "$"
    return regex


def regex_fields(
    src: str,
    regex: str,
    keys: list[str],
    opts: ParserOptions = ParserOptions(),
    enabled: str | None = None,
) -> tuple[str, str]:
    """(fields_map, ok) for full-line regex capture parse.

    One regex pass: the anchored pattern is rewritten to ``$1\\x01$2…`` and
    split; a successful whole-line match yields exactly len(keys) parts (a
    non-match leaves the line unchanged → 1 part). ``(.*)`` short-circuits to a
    plain copy (ProcessorParseRegexNative.cpp:68,147-148)."""
    en = "true" if enabled is None else enabled
    gated = _gate(src, enabled)  # other sources skip the regex
    n = len(keys)
    if regex in ("(.*)", "^(.*)$") and n == 1:
        ok = f"({src} IS NOT NULL)"
        m = S.entries_map(
            S.opt_entry(S.lit(keys[0]), src, f"({en} AND {ok})"), *_policy_entries(src, ok, en, opts)
        )
        return m, ok
    anchored = anchor_full_match(regex)
    if n == 1:
        # arity can't distinguish match from non-match for a single key
        ok = S.rlike(gated, anchored)
        val = f"regexp_extract({gated}, {S.lit(anchored)}, 1)"
        m = S.entries_map(
            S.opt_entry(S.lit(keys[0]), val, f"({en} AND {_ok(ok)})"),
            *_policy_entries(src, _ok(ok), en, opts),
        )
        return m, ok
    repl = _SEP.join(f"${i + 1}" for i in range(n))
    arr = f"split(regexp_replace({gated}, {S.lit(anchored)}, {S.lit(repl)}), {S.lit(_SEP)}, -1)"
    # lines containing the \x01 packing byte are treated as parse FAILURES in
    # both directions: a matching line with \x01 in a capture would split
    # wrong (documented deviation, SURVEY.md §8.6), and a NON-matching line
    # with exactly n-1 \x01 bytes would otherwise false-positive as a match
    ok = f"((size({arr}) = {n}) AND (NOT {_ok(f'contains({gated}, {S.lit(_SEP)})')}))"
    ln = _mask_len(n, f"({en} AND {_ok(ok)})")
    karr = f"array({', '.join(S.lit(k) for k in keys)})"
    parsed = f"coalesce(map_from_arrays(slice({karr}, 1, {ln}), slice({arr}, 1, {ln})), {S.EMPTY_MAP})"
    return _with_policy(parsed, src, _ok(ok), en, opts), ok


def parse_regex(
    df: DataFrame,
    regex: str,
    keys: list[str],
    source_col: str = "content",
    opts: ParserOptions = ParserOptions(),
) -> DataFrame:
    m, ok = regex_fields(S.ident(source_col), regex, list(keys), opts)
    return _finalize_fields(df, m, ok, opts)


# ---------------------------------------------------------------------------
# json (processor_parse_json_native)
# ---------------------------------------------------------------------------

def json_fields(src: str, enabled: str | None = None) -> tuple[str, str]:
    """(fields_map, ok): top-level members → string fields; nested values stay
    serialized JSON (ProcessorParseJsonNative.cpp:186-200); non-object /
    malformed → failure (.cpp:167-181).

    Known deviation: numeric leaves are stringified by Java shortest-repr,
    which uses E-notation for |x| < 1e-3 or >= 1e7 ("2.0E-4") where rapidjson
    prints plain ("0.0002"); identical within the plain-notation range."""
    parsed = f"from_json({_gate(src, enabled)}, {S.lit(S.MAP_T)})"
    ok = f"({parsed} IS NOT NULL)"
    return _with_policy(f"coalesce({parsed}, {S.EMPTY_MAP})", src, ok, enabled, _DEFAULT_OPTS), ok


def parse_json(df: DataFrame, source_col: str = "content") -> DataFrame:
    m, ok = json_fields(S.ident(source_col))
    return _finalize_fields(df, m, ok, _DEFAULT_OPTS)


# ---------------------------------------------------------------------------
# delimiter (processor_parse_delimiter_native)
# ---------------------------------------------------------------------------

def delimiter_fields(
    src: str,
    keys: list[str],
    separator: str = "|",
    overflow: str = "extend",  # extend | keep | discard
    allow_shortened: bool = False,
    max_extend_cols: int = 8,
    enabled: str | None = None,
) -> tuple[str, str]:
    """(fields_map, ok). Overflow policies
    (ProcessorParseDelimiterNative.cpp:258-338): ``extend`` → ``__column{N}__``
    extra keys; ``keep`` → remainder glued into ``__column{len(keys)}__``;
    short rows only when ``allow_shortened`` (.cpp:285). Fields are trimmed
    (.cpp:226-242)."""
    en = "true" if enabled is None else enabled
    n = len(keys)
    arr = f"split({_gate(src, enabled)}, {S.lit(_re.escape(separator))}, -1)"
    sz = f"size({arr})"
    ok = f"({sz} >= {1 if allow_shortened else n})"
    on = f"({en} AND {_ok(ok)})"

    def trimmed(i: int) -> str:
        return f"trim(try_element_at({arr}, {i + 1}))"

    avail = f"(CASE WHEN {on} THEN least({sz}, {n}) ELSE 0 END)"
    karr = f"array({', '.join(S.lit(k) for k in keys)})"
    varr = f"array({', '.join(trimmed(i) for i in range(n))})"
    parsed = f"coalesce(map_from_arrays(slice({karr}, 1, {avail}), slice({varr}, 1, {avail})), {S.EMPTY_MAP})"

    extras: list[str] = []
    if overflow == "extend":
        ekarr = f"array({', '.join(S.lit(f'__column{n + j}__') for j in range(max_extend_cols))})"
        evarr = f"array({', '.join(trimmed(n + j) for j in range(max_extend_cols))})"
        ecnt = f"(CASE WHEN {on} THEN least(greatest({sz} - {n}, 0), {max_extend_cols}) ELSE 0 END)"
        extend = f"coalesce(map_from_arrays(slice({ekarr}, 1, {ecnt}), slice({evarr}, 1, {ecnt})), {S.EMPTY_MAP})"
        parsed = f"map_concat({parsed}, {extend})"
    elif overflow == "keep":
        glued = f"array_join(slice({arr}, {n + 1}, greatest({sz} - {n}, 0)), {S.lit(separator)})"
        extras.append(S.opt_entry(S.lit(f"__column{n}__"), glued, f"({on} AND ({sz} > {n}))"))

    extras.extend(_policy_entries(src, _ok(ok), en, _DEFAULT_OPTS))
    if extras:
        parsed = f"map_concat({parsed}, {S.entries_map(*extras)})"
    return parsed, ok


def csv_fields(src: str, keys: list[str], separator: str, quote: str) -> tuple[str, str]:
    """Quoted delimiter mode via from_csv (FSM semantics,
    ProcessorParseDelimiterNative.cpp:251-256). Also serves processor_csv
    (plugins/processor/csv/processor_csv.go:30). ``escape`` is set to the
    quote char for RFC-4180 doubled-quote unescaping ("" → ") — Go
    encoding/csv and the native FSM both do this; Spark's univocity default
    (backslash escape) would leave the doubled quotes in the value.

    The struct's fields are positional (``_c0`` … ``_cN``), mapped back to
    ``keys`` in the entries: struct field lookup ignores case, so keys that
    differ only in case would be ambiguous as field names."""
    schema = ", ".join(f"_c{i} string" for i in range(len(keys)))
    csv_opts = S.literal_map({"sep": separator, "quote": quote, "escape": quote})
    st = f"from_csv({src}, {S.lit(schema)}, {csv_opts})"
    ok = f"(({st} IS NOT NULL) AND ({st}._c0 IS NOT NULL))"
    entries = [S.opt_entry(S.lit(k), f"{st}._c{i}", f"({st}._c{i} IS NOT NULL)") for i, k in enumerate(keys)]
    entries.extend(_policy_entries(src, ok, None, _DEFAULT_OPTS))
    return S.entries_map(*entries), ok


def parse_delimiter(
    df: DataFrame,
    keys: list[str],
    separator: str = "|",
    source_col: str = "content",
    overflow: str = "extend",
    allow_shortened: bool = False,
    quote: str | None = None,
    max_extend_cols: int = 8,
) -> DataFrame:
    src = S.ident(source_col)
    if quote:
        m, ok = csv_fields(src, list(keys), separator, quote)
    else:
        m, ok = delimiter_fields(src, list(keys), separator, overflow, allow_shortened, max_extend_cols)
    return _finalize_fields(df, m, ok, _DEFAULT_OPTS)


# ---------------------------------------------------------------------------
# apsara (processor_parse_apsara_native)
# ---------------------------------------------------------------------------

# largest epoch-seconds treated as a valid apsara time: 9999-12-31T23:59:59Z.
# Keeps the ×1,000,000 microtime multiply far inside long range (and the year
# sane); anything larger is a malformed time (null ts), mirroring the
# reference's Strptime-fail path.
_EPOCH_MAX_S = 253402300799
_TIME_RX = r"^\[([^\]]*)\]$"
_DIGITS_RX = r"^\d+$"


def _epoch_time(tstr: str, epoch: str) -> str:
    """The apsara time: an all-digit string is epoch seconds (``epoch`` is its
    try_cast), anything else a timestamp string. try_cast + the year-9999
    bound: an oversized digit run must yield a NULL time, not kill the job
    under Spark 4's ANSI default, nor overflow the ×1e6 microtime multiply.
    The reference's strtol-style Strptime("%s") fails such lines to time 0
    (ApsaraEasyReadLogTimeParser); null-ts is our analog.
    ``timestamp_seconds``, NOT ``to_timestamp(from_unixtime(e))``: the string
    round trip resolves fall-back-DST local times to the wrong instant in
    non-UTC session timezones and costs a per-row format+parse."""
    seconds = f"(CASE WHEN (({epoch} IS NOT NULL) AND ({epoch} <= {_EPOCH_MAX_S})) THEN timestamp_seconds({epoch}) END)"
    return f"(CASE WHEN {S.rlike(tstr, _DIGITS_RX)} THEN {seconds} ELSE try_to_timestamp({tstr}) END)"


def apsara_fields(src: str, enabled: str | None = None) -> tuple[str, str, str]:
    """(fields_map, ok, event_ts) for Apsara format
    ``[time]\\t[LEVEL]\\t[thread]\\t[file:line]\\tk:v…``.

    Positional ``[...]`` base fields classified by charset
    (ProcessorParseApsaraNative.cpp:433-463): all-caps → __LEVEL__, all-digits
    → __THREAD__, contains ``/`` or both ``.`` and ``:`` → __FILE__ +
    __LINE__ (split on the LAST colon). Tab-separated ``k:v`` tail appended;
    ``microtime`` emitted (.cpp:226-232).

    The fields map is one chain of ``let`` bindings (parts, time string,
    bracket blocks, file:line, level, thread, microtime: each read several
    times by the lambdas below it). The chain's outer ``transform`` runs over
    ``CASE WHEN enabled THEN array(parts) END``, a NULL array on rows of other
    sources, so those rows never call its lambdas."""
    en = "true" if enabled is None else enabled
    parts0 = f"split({_gate(src, enabled)}, {S.lit(chr(9))}, -1)"

    def time_str(parts: str) -> str:
        return f"regexp_extract(element_at({parts}, 1), {S.lit(_TIME_RX)}, 1)"

    def matched_on(tstr: str) -> str:
        return f"(({tstr} IS NOT NULL) AND ({tstr} != ''))"

    # The ok/ts return columns evaluate their own short chains
    tstr0 = time_str(parts0)
    matched = matched_on(tstr0)
    ts = _epoch_time(tstr0, f"try_cast({tstr0} AS BIGINT)")

    def is_bracket(p: str) -> str:
        # string predicates, NOT regex: regex inside a lambda runs
        # interpreted per element, measured ~50× slower
        return f"(startswith({p}, '[') AND endswith({p}, ']'))"

    def build_map(parts: str) -> str:
        rest = f"slice({parts}, 2, greatest(size({parts}) - 1, 0))"

        def with_tstr(tstr: str) -> str:
            m2 = matched_on(tstr)
            kv_tail = f"array_join(filter({rest}, {S.lam(lambda p: f'(NOT {is_bracket(p)})')}), {S.lit(chr(9))})"
            # gate on match + non-empty tail: failed rows must carry only the
            # raw-keep policy entry (and '' would emit a {'': null} entry)
            kv_gated = f"(CASE WHEN ({m2} AND ({kv_tail} != '')) THEN {kv_tail} END)"

            def kv_entry(t: str) -> str:
                k = f"substring_index({t}, ':', 1)"
                v = f"(CASE WHEN contains({t}, ':') THEN substr({t}, length({k}) + 2) END)"
                return f"named_struct('key', {k}, 'value', {v})"

            # entries + last-wins dedupe (str_to_map crashes on intra-line
            # duplicate keys under the default mapKeyDedupPolicy=EXCEPTION)
            kv_entries = f"transform(split({kv_gated}, {S.lit(chr(9))}, -1), {S.lam(kv_entry)})"
            kv_map = f"coalesce(map_from_entries({S.dedup_entries_last_wins(kv_entries)}), {S.EMPTY_MAP})"

            def with_epoch(el: str) -> str:
                el_ok = f"(({el} IS NOT NULL) AND ({el} <= {_EPOCH_MAX_S}))"
                from_epoch = f"(CASE WHEN {el_ok} THEN CAST(({el} * 1000000) AS STRING) END)"
                from_text = f"CAST(unix_micros(try_to_timestamp({tstr})) AS STRING)"
                return f"(CASE WHEN {S.rlike(tstr, _DIGITS_RX)} THEN {from_epoch} ELSE {from_text} END)"

            # the epoch long is let-bound: a naked try_cast would re-parse the
            # string once per reference
            micro = S.let(f"try_cast({tstr} AS BIGINT)", with_epoch)
            # All bracketed blocks re-joined; each classifier is ONE JVM regex
            # pass over that string (first match == first-matching-block rule)
            brs = f"array_join(filter({rest}, {S.lam(is_bracket)}), {S.lit(chr(9))})"

            def with_brs(b: str) -> str:
                def block(rx: str) -> str:
                    return f"nullif(regexp_extract({b}, {S.lit(rx)}, 1), '')"

                level, thread = block(r"\[([A-Z]+)\]"), block(r"\[(\d+)\]")
                # contains '/', or both '.' and ':' (either order) — lookaheads
                fileline = block(r"\[(?:(?=[^\]]*/)|(?=[^\]]*\.)(?=[^\]]*:))([^\]]*)\]")

                def assemble(fl: str, lvl: str, thr: str, mic: str) -> str:
                    line_no = f"substring_index({fl}, ':', -1)"
                    file_path = f"substr({fl}, 1, greatest(length({fl}) - length({line_no}) - 1, 0))"
                    on = f"({en} AND {m2})"

                    def entry(key: str, val: str, present: str) -> str:
                        return S.opt_entry(S.lit(key), val, f"({on} AND ({present} IS NOT NULL))")

                    base = S.entries_map(
                        entry("microtime", mic, mic),
                        entry("__LEVEL__", lvl, lvl),
                        entry("__THREAD__", thr, thr),
                        entry("__FILE__", file_path, fl),
                        entry("__LINE__", line_no, fl),
                        *_policy_entries(src, m2, en, _DEFAULT_OPTS),
                    )
                    return S.merge_maps(base, kv_map)

                return S.let(fileline, lambda fl: S.let(level, lambda lvl: S.let(
                    thread, lambda thr: S.let(micro, lambda mic: assemble(fl, lvl, thr, mic)))))

            return S.let(brs, with_brs)

        return S.let(time_str(parts), with_tstr)

    gated_parts = f"(CASE WHEN {en} THEN array({parts0}) END)"
    fields = f"coalesce(element_at(transform({gated_parts}, {S.lam(build_map)}), 1), {S.EMPTY_MAP})"
    return fields, matched, ts


def parse_apsara(df: DataFrame) -> DataFrame:
    m, ok, ts = apsara_fields("content")
    prev_ts = "event_time" if "event_time" in df.columns else S.NULL_TS
    out = _finalize_fields(df, m, ok, _DEFAULT_OPTS)
    return out.withColumn("event_time", F.expr(f"(CASE WHEN {ok} THEN {ts} ELSE {prev_ts} END)"))


# ---------------------------------------------------------------------------
# timestamp (processor_parse_timestamp_native / strptime / gotime)
# ---------------------------------------------------------------------------

def parse_timestamp(
    df: DataFrame,
    source_key: str,
    fmt: str,
    discard_before: str | None = None,
) -> DataFrame:
    """strptime the ``source_key`` field → event timestamp; ``discard_before``
    mirrors dropping events older than ilogtail_discard_interval
    (ProcessorParseTimestampNative.cpp:125-171)."""
    ts = F.try_to_timestamp(F.col("fields")[source_key], F.lit(fmt))
    prev = F.col("event_time") if "event_time" in df.columns else F.lit(None).cast("timestamp")
    out = df.withColumn("event_time", F.coalesce(ts, prev))
    if discard_before is not None:
        out = out.filter(F.col("event_time") >= F.lit(discard_before).cast("timestamp"))
    return out


# ---------------------------------------------------------------------------
# key/value split (processor_split_key_value)
# ---------------------------------------------------------------------------

def kv_fields(
    src: str,
    delimiter: str = "\t",
    separator: str = ":",
    enabled: str | None = None,
) -> tuple[str, str]:
    """(fields_map, ok). Anomaly synth keys
    (key_value_splitter.go:26-52,98): empty key → ``empty_key_{N}``, token
    without separator → ``no_separator_key_{N}``, N counting anomalies of that
    kind so far in the event — computed with an ``aggregate`` fold threading
    two counters through the token array (a lambda; acceptable — runs only on
    rows of this source thanks to input gating)."""
    sep = S.lit(separator)
    toks = f"split({_gate(src, enabled)}, {S.lit(_re.escape(delimiter))}, -1)"

    def step(acc: str, t: str) -> str:
        def state(ek: str, nk: str, key: str, value: str) -> str:
            entry = f"array(named_struct('key', {key}, 'value', {value}))"
            return f"named_struct('ek', {ek}, 'nk', {nk}, 'entries', concat({acc}.entries, {entry}))"

        k = f"substring_index({t}, {sep}, 1)"
        return S.case(
            [
                (f"(NOT contains({t}, {sep}))", state(
                    f"{acc}.ek", f"{acc}.nk + 1",
                    f"concat('no_separator_key_', CAST({acc}.nk AS STRING))", t,
                )),
                (f"({k} = '')", state(
                    f"{acc}.ek + 1", f"{acc}.nk",
                    f"concat('empty_key_', CAST({acc}.ek AS STRING))", f"substr({t}, {len(separator) + 1})",
                )),
            ],
            state(f"{acc}.ek", f"{acc}.nk", k, f"substr({t}, length({k}) + {len(separator) + 1})"),
        )

    init = f"named_struct('ek', 0, 'nk', 0, 'entries', CAST(array() AS {_ENTRY_T}))"
    fold = f"aggregate({toks}, {init}, {S.lam(step, 2)})"
    fields = f"coalesce(map_from_entries({S.dedup_entries_last_wins(f'{fold}.entries')}), {S.EMPTY_MAP})"
    return fields, f"({src} IS NOT NULL)"


def split_key_value(df: DataFrame, delimiter: str = "\t", separator: str = ":") -> DataFrame:
    parsed, matched = kv_fields("content", delimiter, separator)
    if "fields" in df.columns:
        parsed = S.merge_maps(f"coalesce(fields, {S.EMPTY_MAP})", parsed)
    return df.withColumns({"fields": F.expr(parsed), PARSE_OK: F.expr(matched)})


# ---------------------------------------------------------------------------
# Go-style recursive JSON flatten (processor_json)
# ---------------------------------------------------------------------------

def json_flatten(
    df: DataFrame,
    expand_depth: int = 0,  # 0 = unlimited (processor_json.go:29-41)
    expand_array: bool = False,
) -> DataFrame:
    """processor_json (Go): recursive flatten with ExpandDepth/ExpandArray
    (plugins/processor/json/processor_json.go:29-41,120-180); keys join with
    the default ExpandConnector ``_`` and carry no Prefix.

    Depth-bounded recursive flatten is not expressible natively → Arrow-batched
    pandas UDF (slow path by design; the native ``parse_json`` covers the
    depth-1 hot case)."""
    import json as _json

    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql import types as T

    @pandas_udf(T.MapType(T.StringType(), T.StringType()))
    def _flatten(s):  # type: ignore[no-untyped-def]
        def leaf(v) -> str:
            if isinstance(v, str):
                return v
            if isinstance(v, bool):
                return "true" if v else "false"
            if v is None:
                return "null"
            if isinstance(v, (dict, list)):
                return _json.dumps(v, separators=(",", ":"))
            return _json.dumps(v)

        def walk(obj, key: str, depth: int, out: dict) -> None:
            expandable = isinstance(obj, dict) or (expand_array and isinstance(obj, list))
            if not expandable or (expand_depth and depth >= expand_depth):
                out[key] = leaf(obj)
                return
            items = obj.items() if isinstance(obj, dict) else enumerate(obj)
            for k, v in items:
                nk = f"{key}_{k}" if key else str(k)
                walk(v, nk, depth + 1, out)

        def one(line):
            if line is None:
                return None
            try:
                obj = _json.loads(line)
            except Exception:
                return None
            if not isinstance(obj, (dict, list)):
                return None
            out: dict = {}
            walk(obj, "", 0, out)
            return out

        return s.map(one)

    if "fields" in df.columns:
        # merge_maps, not map_concat: a flattened key that collides with an
        # existing field must last-win structurally, not throw under the
        # driver's vanilla mapKeyDedupPolicy=EXCEPTION session. The UDF result
        # lands in a real column first, which the merge's SQL text names.
        tmp = "__json_flat__"
        out = df.withColumn(tmp, _flatten(F.col("content")))
        merged = S.merge_maps(f"coalesce(fields, {S.EMPTY_MAP})", f"coalesce({tmp}, {S.EMPTY_MAP})")
        return out.withColumns({"fields": F.expr(merged), PARSE_OK: F.col(tmp).isNotNull()}).drop(tmp)
    parsed = _flatten(F.col("content"))
    return df.withColumns({"fields": F.coalesce(parsed, F.expr(S.EMPTY_MAP)), PARSE_OK: parsed.isNotNull()})
