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
raw under ``renamed_source_key``; on failure the raw is kept
(``keep_source_on_fail``) or the event is **dropped**.

Architecture — the "masked slice" scheme. Benchmarks on this Spark build show
two expression-level cliffs (measured at 2.4M rows, local[32]):

  * ``when()/CASE`` whose BRANCH VALUES are complex-typed (map/array/struct)
    cost ~5× the map construction itself (when-on-primitive is free);
  * higher-order lambdas (``map_filter``, ``filter``, ``transform`` with
    regex or even null-checks) run interpreted per element (~4µs/entry/row).

So every parser here builds its output map exactly ONCE per row via
``map_from_arrays``/``map_from_entries`` over arrays whose LENGTHS are the only
conditionals (``slice(arr, 1, when(cond, n).otherwise(0))`` — when-on-int).
Parse-fail fallback entries and CommonParserOptions policies are 0/1-length
sliced entry arrays, and per-source dispatch (plans/pipeline.py) is a
``map_concat`` of per-source masked maps — no when-on-map anywhere on the hot
path.

Each parser exposes an expression-level builder
``*_fields(src, ..., opts, enabled) -> (fields_map, ok[, ts])`` where
``enabled`` masks the parser to an empty map on rows of other sources, plus a
thin DataFrame wrapper. Everything is native Catalyst (whole-stage codegen,
zero Python in the hot path); the regex parser uses a single-pass packing trick
— ``regexp_replace(line, anchored, "$1\\x01$2…")`` + ``split`` — so each row
costs ONE regex evaluation (match success is detected from the split arity).
"""

from __future__ import annotations

import re as _re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Field separator for the packed-capture trick. \x01 never appears in valid
# log payloads produced by the synth (ASCII printable + \t). A payload that
# does contain \x01 inside a matching line would split into extra parts and be
# treated as a parse failure (documented deviation; sanitize upstream if real
# data may contain \x01).
_SEP = "\x01"

PARSE_OK = "_parse_ok"  # per-row parse outcome column

_MAP_T = "map<string,string>"
_ENTRY_T = "array<struct<key:string,value:string>>"


def _empty_map() -> Column:
    return F.create_map().cast(_MAP_T)


def _n01(cond: Column) -> Column:
    """boolean → 0/1 int (the only conditional shape that stays cheap)."""
    return F.when(cond, F.lit(1)).otherwise(F.lit(0))


def _mask_len(n: Column | int, cond: Column) -> Column:
    n = F.lit(n) if isinstance(n, int) else n
    return F.when(cond, n).otherwise(F.lit(0))


def _opt_entry(key: Column | str, val: Column, present: Column) -> Column:
    """array<struct<key,value>> of length 0 or 1 — a conditional map entry
    without when-on-complex."""
    k = F.lit(key) if isinstance(key, str) else key
    return F.slice(
        F.array(F.struct(k.alias("key"), val.alias("value"))), 1, _n01(present)
    )


def _entries_map(*entry_arrays: Column) -> Column:
    """Concat 0/1-length entry arrays into one map."""
    arr = entry_arrays[0] if len(entry_arrays) == 1 else F.concat(*entry_arrays)
    return F.coalesce(F.map_from_entries(arr), _empty_map())


def _let(value: Column, fn) -> Column:
    """Single-evaluation let-binding: bind an expression to a HOF lambda
    variable (single-element transform) so every downstream reference reads
    the MATERIALIZED value instead of re-evaluating the tree. Interpreted HOF
    expressions get no common-subexpression elimination — without this,
    helpers that reference a big subtree 2-3 times (or worse, per-element
    inside a lambda) multiply the whole upstream parse cost; measured 97→~15
    CPU-sec on the apsara branch of the flagship."""
    return F.element_at(F.transform(F.array(value), fn), 1)


def _dedup_entries_last_wins(entries: Column) -> Column:
    """Drop every entry that has a LATER entry with the same key — duplicate-key
    last-wins per the reference's LogEvent::SetContent overwrite semantics
    (core/models/LogEvent.h:115-124) — WITHOUT relying on
    ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` (the driver's harness session does
    not carry that conf; round 1 lost 3 queries to it). O(k²) per row in the
    entry count, which is single-digit for log events."""

    def dedup(es: Column) -> Column:
        n = F.size(es)
        return F.filter(
            es,
            lambda e, i: ~F.exists(
                F.slice(es, i + F.lit(2), F.greatest(n - i - F.lit(1), F.lit(0))),
                lambda o: o["key"] == e["key"],
            ),
        )

    return _let(entries, dedup)


def merge_maps(base: Column, overlay: Column) -> Column:
    """Structurally duplicate-free last-wins map merge: base entries shadowed by
    an overlay key are dropped BEFORE map construction, so the result is valid
    under any ``spark.sql.mapKeyDedupPolicy`` (incl. the default EXCEPTION).
    Matches LogEvent.h:115-124 overwrite semantics."""

    def merge(b: Column, ov: Column) -> Column:
        kept = F.filter(
            F.map_entries(b), lambda e: ~F.array_contains(F.map_keys(ov), e["key"])
        )
        return F.map_from_entries(F.concat(kept, F.map_entries(ov)))

    return _let(base, lambda b: _let(overlay, lambda ov: merge(b, ov)))


@dataclass(frozen=True)
class ParserOptions:
    """CommonParserOptions (CommonParserOptions.h:30-39)."""

    keep_source_on_success: bool = False
    keep_source_on_fail: bool = True
    renamed_source_key: str = "__raw__"
    copy_raw_on_fail_key: str = "__raw_log__"


def _policy_entries(src: Column, ok: Column, enabled: Column | None, opts: ParserOptions) -> list[Column]:
    """CommonParserOptions keep-raw entries (CommonParserOptions.cpp:91-117) as
    masked 0/1 entry arrays."""
    en = F.lit(True) if enabled is None else enabled
    out = []
    if opts.keep_source_on_fail:
        out.append(_opt_entry(opts.copy_raw_on_fail_key, src, en & ~ok))
    if opts.keep_source_on_success:
        out.append(_opt_entry(opts.renamed_source_key, src, en & ok))
    return out


def _finalize_fields(
    df: DataFrame, fields_map: Column, ok: Column, opts: ParserOptions
) -> DataFrame:
    if "fields" in df.columns:
        # chained parse: later parser's keys overwrite (last-wins, conf-free)
        fields_map = merge_maps(F.coalesce(F.col("fields"), _empty_map()), fields_map)
    out = df.withColumn("fields", fields_map).withColumn(PARSE_OK, ok)
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
    src: Column,
    regex: str,
    keys: list[str],
    opts: ParserOptions = ParserOptions(),
    enabled: Column | None = None,
) -> tuple[Column, Column]:
    """(fields_map, ok) for full-line regex capture parse.

    One regex pass: the anchored pattern is rewritten to ``$1\\x01$2…`` and
    split; a successful whole-line match yields exactly len(keys) parts (a
    non-match leaves the line unchanged → 1 part). ``(.*)`` short-circuits to a
    plain copy (ProcessorParseRegexNative.cpp:68,147-148)."""
    en = F.lit(True) if enabled is None else enabled
    gated = src if enabled is None else F.when(en, src)  # other sources skip the regex
    n = len(keys)
    if regex in ("(.*)", "^(.*)$") and n == 1:
        ok = src.isNotNull()
        m = _entries_map(_opt_entry(keys[0], src, en & ok), *_policy_entries(src, ok, en, opts))
        return m, ok
    anchored = anchor_full_match(regex)
    if n == 1:
        # arity can't distinguish match from non-match for a single key
        ok = gated.rlike(anchored)
        val = F.regexp_extract(gated, anchored, 1)
        m = _entries_map(
            _opt_entry(keys[0], val, en & F.coalesce(ok, F.lit(False))),
            *_policy_entries(src, F.coalesce(ok, F.lit(False)), en, opts),
        )
        return m, ok
    repl = _SEP.join(f"${i + 1}" for i in range(n))
    arr = F.split(F.regexp_replace(gated, anchored, repl), _SEP, -1)
    # lines containing the \x01 packing byte are treated as parse FAILURES in
    # both directions: a matching line with \x01 in a capture would split
    # wrong (documented deviation, SURVEY.md §8.6), and a NON-matching line
    # with exactly n-1 \x01 bytes would otherwise false-positive as a match
    ok = (F.size(arr) == F.lit(n)) & ~F.coalesce(gated.contains(_SEP), F.lit(False))
    karr = F.array(*[F.lit(k) for k in keys])
    ln = _mask_len(n, en & F.coalesce(ok, F.lit(False)))
    parsed = F.coalesce(
        F.map_from_arrays(F.slice(karr, 1, ln), F.slice(arr, 1, ln)), _empty_map()
    )
    pol = _policy_entries(src, F.coalesce(ok, F.lit(False)), en, opts)
    if pol:
        parsed = F.map_concat(parsed, _entries_map(*pol))
    return parsed, ok


def parse_regex(
    df: DataFrame,
    regex: str,
    keys: list[str],
    source_col: str = "content",
    opts: ParserOptions = ParserOptions(),
) -> DataFrame:
    m, ok = regex_fields(F.col(source_col), regex, list(keys), opts)
    return _finalize_fields(df, m, ok, opts)


# ---------------------------------------------------------------------------
# json (processor_parse_json_native)
# ---------------------------------------------------------------------------

def json_fields(
    src: Column,
    opts: ParserOptions = ParserOptions(),
    enabled: Column | None = None,
) -> tuple[Column, Column]:
    """(fields_map, ok): top-level members → string fields; nested values stay
    serialized JSON (ProcessorParseJsonNative.cpp:186-200); non-object /
    malformed → failure (.cpp:167-181).

    Known deviation: numeric leaves are stringified by Java shortest-repr,
    which uses E-notation for |x| < 1e-3 or >= 1e7 ("2.0E-4") where rapidjson
    prints plain ("0.0002"); identical within the plain-notation range."""
    en = F.lit(True) if enabled is None else enabled
    gated = src if enabled is None else F.when(en, src)  # when-on-string: cheap
    parsed = F.from_json(gated, _MAP_T)
    ok = parsed.isNotNull()
    m = F.coalesce(parsed, _empty_map())
    pol = _policy_entries(src, ok, en, opts)
    if pol:
        m = F.map_concat(m, _entries_map(*pol))
    return m, ok


def parse_json(
    df: DataFrame,
    source_col: str = "content",
    opts: ParserOptions = ParserOptions(),
) -> DataFrame:
    m, ok = json_fields(F.col(source_col), opts)
    return _finalize_fields(df, m, ok, opts)


# ---------------------------------------------------------------------------
# delimiter (processor_parse_delimiter_native)
# ---------------------------------------------------------------------------

def delimiter_fields(
    src: Column,
    keys: list[str],
    separator: str = "|",
    overflow: str = "extend",  # extend | keep | discard
    allow_shortened: bool = False,
    max_extend_cols: int = 8,
    opts: ParserOptions = ParserOptions(),
    enabled: Column | None = None,
) -> tuple[Column, Column]:
    """(fields_map, ok). Overflow policies
    (ProcessorParseDelimiterNative.cpp:258-338): ``extend`` → ``__column{N}__``
    extra keys; ``keep`` → remainder glued into ``__column{len(keys)}__``;
    short rows only when ``allow_shortened`` (.cpp:285). Fields are trimmed
    (.cpp:226-242)."""
    en = F.lit(True) if enabled is None else enabled
    gated = src if enabled is None else F.when(en, src)
    n = len(keys)
    arr = F.split(gated, _re.escape(separator), -1)
    sz = F.size(arr)
    ok = sz >= F.lit(1) if allow_shortened else sz >= F.lit(n)
    ok_t = F.coalesce(ok, F.lit(False))

    karr = F.array(*[F.lit(k) for k in keys])
    varr = F.array(*[F.trim(F.try_element_at(arr, F.lit(i + 1))) for i in range(n)])
    avail = F.when(en & ok_t, F.least(sz, F.lit(n))).otherwise(F.lit(0))
    parsed = F.coalesce(
        F.map_from_arrays(F.slice(karr, 1, avail), F.slice(varr, 1, avail)), _empty_map()
    )

    extras: list[Column] = []
    if overflow == "extend":
        ekarr = F.array(*[F.lit(f"__column{n + j}__") for j in range(max_extend_cols)])
        evarr = F.array(
            *[F.trim(F.try_element_at(arr, F.lit(n + j + 1))) for j in range(max_extend_cols)]
        )
        ecnt = F.when(
            en & ok_t, F.least(F.greatest(sz - F.lit(n), F.lit(0)), F.lit(max_extend_cols))
        ).otherwise(F.lit(0))
        parsed = F.map_concat(
            parsed,
            F.coalesce(
                F.map_from_arrays(F.slice(ekarr, 1, ecnt), F.slice(evarr, 1, ecnt)), _empty_map()
            ),
        )
    elif overflow == "keep":
        glued = F.array_join(
            F.slice(arr, n + 1, F.greatest(sz - F.lit(n), F.lit(0))), separator
        )
        extras.append(_opt_entry(f"__column{n}__", glued, en & ok_t & (sz > F.lit(n))))

    extras.extend(_policy_entries(src, ok_t, en, opts))
    if extras:
        parsed = F.map_concat(parsed, _entries_map(*extras))
    return parsed, ok


def csv_fields(
    src: Column,
    keys: list[str],
    separator: str,
    quote: str,
    opts: ParserOptions = ParserOptions(),
    enabled: Column | None = None,
) -> tuple[Column, Column]:
    """Quoted delimiter mode via from_csv (FSM semantics,
    ProcessorParseDelimiterNative.cpp:251-256). Also serves processor_csv
    (plugins/processor/csv/processor_csv.go:30). ``escape`` is set to the
    quote char for RFC-4180 doubled-quote unescaping ("" → ") — Go
    encoding/csv and the native FSM both do this; Spark's univocity default
    (backslash escape) would leave the doubled quotes in the value."""
    en = F.lit(True) if enabled is None else enabled
    gated = src if enabled is None else F.when(en, src)
    schema = ", ".join(f"`{k}` string" for k in keys)
    st = F.from_csv(gated, schema, {"sep": separator, "quote": quote, "escape": quote})
    ok = st.isNotNull() & st[keys[0]].isNotNull()
    entries = [_opt_entry(k, st[k], en & st[k].isNotNull()) for k in keys]
    entries.extend(_policy_entries(src, ok, en, opts))
    return _entries_map(*entries), ok


def parse_delimiter(
    df: DataFrame,
    keys: list[str],
    separator: str = "|",
    source_col: str = "content",
    overflow: str = "extend",
    allow_shortened: bool = False,
    quote: str | None = None,
    max_extend_cols: int = 8,
    opts: ParserOptions = ParserOptions(),
) -> DataFrame:
    if quote:
        m, ok = csv_fields(F.col(source_col), list(keys), separator, quote, opts)
    else:
        m, ok = delimiter_fields(
            F.col(source_col), list(keys), separator, overflow, allow_shortened,
            max_extend_cols, opts,
        )
    return _finalize_fields(df, m, ok, opts)


# ---------------------------------------------------------------------------
# apsara (processor_parse_apsara_native)
# ---------------------------------------------------------------------------

# largest epoch-seconds treated as a valid apsara time: 9999-12-31T23:59:59Z.
# Keeps the ×1,000,000 microtime multiply far inside long range (and the year
# sane); anything larger is a malformed time (null ts), mirroring the
# reference's Strptime-fail path.
_EPOCH_MAX_S = 253402300799

def apsara_fields(
    src: Column,
    opts: ParserOptions = ParserOptions(),
    enabled: Column | None = None,
) -> tuple[Column, Column, Column]:
    """(fields_map, ok, event_ts) for Apsara format
    ``[time]\\t[LEVEL]\\t[thread]\\t[file:line]\\tk:v…``.

    Positional ``[...]`` base fields classified by charset
    (ProcessorParseApsaraNative.cpp:433-463): all-caps → __LEVEL__, all-digits
    → __THREAD__, contains ``/`` or both ``.`` and ``:`` → __FILE__ +
    __LINE__ (split on the LAST colon). Tab-separated ``k:v`` tail appended;
    ``microtime`` emitted (.cpp:226-232)."""
    en = F.lit(True) if enabled is None else enabled
    gated = src if enabled is None else F.when(en, src)  # nulls propagate below

    # Bracket test via cheap string predicates (NOT regex — regex inside a HOF
    # lambda runs interpreted per element, measured ~50× slower).
    def _is_br(p: Column) -> Column:
        return p.startswith("[") & p.endswith("]")

    _TIME_RX = r"^\[([^\]]*)\]$"

    # The ok/ts return columns evaluate their own short chains; the fields map
    # below let-binds every multiply-referenced subtree (parts, time_str, brs,
    # fileline, level, thread, microtime) — without the binds the interpreted
    # HOF tree re-evaluated split+filter+regex chains up to 6× per row
    # (measured: apsara branch 97→~15 CPU-sec at 600k rows).
    parts0 = F.split(gated, "\t", -1)
    time_str0 = F.regexp_extract(F.element_at(parts0, 1), _TIME_RX, 1)
    matched = time_str0.isNotNull() & (time_str0 != F.lit(""))
    is_epoch0 = time_str0.rlike(r"^\d+$")
    # try_cast + year-9999 bound: an oversized digit run (e.g. 20 digits) must
    # yield a NULL time, not kill the job — `.cast("long")` under Spark 4's
    # ANSI default threw CAST_INVALID_INPUT on one crafted line, and a
    # 13+-digit value that fits a long still overflowed the ×1e6 microtime
    # multiply. The reference's strtol-style Strptime("%s") fails such lines
    # to time 0 (ApsaraEasyReadLogTimeParser); null-ts is our analog.
    # timestamp_seconds, NOT to_timestamp(from_unixtime(e)): the string round
    # trip resolves fall-back-DST local times to the wrong instant in
    # non-UTC session timezones (this is a library API — callers outside
    # get_spark's pinned-UTC session exist) and costs a per-row format+parse.
    e0 = time_str0.try_cast("long")
    e0_ok = e0.isNotNull() & (e0 <= F.lit(_EPOCH_MAX_S))
    ts = F.when(is_epoch0, F.when(e0_ok, F.timestamp_seconds(e0))).otherwise(
        F.try_to_timestamp(time_str0)  # null (not ANSI error) on malformed
    )

    def build_map(parts: Column) -> Column:
        rest = F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0)))

        def with_tstr(tstr: Column) -> Column:
            m2 = tstr.isNotNull() & (tstr != F.lit(""))
            kv_tail = F.array_join(F.filter(rest, lambda p: ~_is_br(p)), "\t")
            # gate on match + non-empty tail: failed rows must carry only the
            # raw-keep policy entry (and '' would emit a {'': null} entry)
            kv_gated = F.when(m2 & (kv_tail != F.lit("")), kv_tail)
            # entries + last-wins dedupe (str_to_map crashes on intra-line
            # duplicate keys under the default mapKeyDedupPolicy=EXCEPTION)
            kv_entries = F.transform(
                F.split(kv_gated, "\t", -1),
                lambda t: F.struct(
                    F.substring_index(t, ":", 1).alias("key"),
                    F.when(
                        t.contains(":"),
                        F.substr(t, F.length(F.substring_index(t, ":", 1)) + F.lit(2)),
                    ).alias("value"),
                ),
            )
            kv_map = F.coalesce(
                F.map_from_entries(_dedup_entries_last_wins(kv_entries)), _empty_map()
            )
            is_e = tstr.rlike(r"^\d+$")

            # same ANSI guard + timestamp_seconds as the ts return above; the
            # epoch long is _let-bound (module convention: no CSE inside
            # interpreted HOF lambdas, so a naked try_cast would re-parse the
            # string once per reference)
            def with_el(el: Column) -> Column:
                el_ok = el.isNotNull() & (el <= F.lit(_EPOCH_MAX_S))
                ts_i = F.when(is_e, F.when(el_ok, F.timestamp_seconds(el))).otherwise(
                    F.try_to_timestamp(tstr)
                )
                return F.when(
                    is_e, F.when(el_ok, (el * F.lit(1000000)).cast("string"))
                ).otherwise(F.unix_micros(ts_i).cast("string"))

            micro = _let(tstr.try_cast("long"), with_el)
            # All bracketed blocks re-joined; each classifier is ONE JVM regex
            # pass over that string (first match == first-matching-block rule)
            brs = F.array_join(F.filter(rest, _is_br), "\t")

            def with_brs(b: Column) -> Column:
                level = F.nullif(F.regexp_extract(b, r"\[([A-Z]+)\]", 1), F.lit(""))
                thread = F.nullif(F.regexp_extract(b, r"\[(\d+)\]", 1), F.lit(""))
                # contains '/', or both '.' and ':' (either order) — lookaheads
                fileline = F.nullif(
                    F.regexp_extract(
                        b, r"\[(?:(?=[^\]]*/)|(?=[^\]]*\.)(?=[^\]]*:))([^\]]*)\]", 1
                    ),
                    F.lit(""),
                )

                def assemble(fl: Column, lvl: Column, thr: Column, mic: Column) -> Column:
                    line_no = F.substring_index(fl, ":", -1)
                    file_path = F.substr(
                        fl,
                        F.lit(1),
                        F.greatest(F.length(fl) - F.length(line_no) - F.lit(1), F.lit(0)),
                    )
                    on = en & m2
                    base = _entries_map(
                        _opt_entry("microtime", mic, on & mic.isNotNull()),
                        _opt_entry("__LEVEL__", lvl, on & lvl.isNotNull()),
                        _opt_entry("__THREAD__", thr, on & thr.isNotNull()),
                        _opt_entry("__FILE__", file_path, on & fl.isNotNull()),
                        _opt_entry("__LINE__", line_no, on & fl.isNotNull()),
                        *_policy_entries(src, m2, en, opts),
                    )
                    return merge_maps(base, kv_map)

                return _let(
                    fileline,
                    lambda fl: _let(
                        level,
                        lambda lvl: _let(
                            thread, lambda thr: _let(micro, lambda mic: assemble(fl, lvl, thr, mic))
                        ),
                    ),
                )

            return _let(brs, with_brs)

        return _let(F.regexp_extract(F.element_at(parts, 1), _TIME_RX, 1), with_tstr)

    return _let(parts0, build_map), matched, ts


def parse_apsara(df: DataFrame, opts: ParserOptions = ParserOptions()) -> DataFrame:
    m, ok, ts = apsara_fields(F.col("content"), opts)
    prev_ts = F.col("event_time") if "event_time" in df.columns else F.lit(None).cast("timestamp")
    out = _finalize_fields(df, m, ok, opts)
    return out.withColumn("event_time", F.when(ok, ts).otherwise(prev_ts))


# ---------------------------------------------------------------------------
# timestamp (processor_parse_timestamp_native / strptime / gotime)
# ---------------------------------------------------------------------------

def parse_timestamp(
    df: DataFrame,
    source_key: str,
    fmt: str,
    source_is_field: bool = True,
    discard_before: str | None = None,
) -> DataFrame:
    """strptime SourceKey → event timestamp; ``discard_before`` mirrors dropping
    events older than ilogtail_discard_interval
    (ProcessorParseTimestampNative.cpp:125-171)."""
    src = F.col("fields")[source_key] if source_is_field else F.col(source_key)
    ts = F.try_to_timestamp(src, F.lit(fmt))
    prev = F.col("event_time") if "event_time" in df.columns else F.lit(None).cast("timestamp")
    out = df.withColumn("event_time", F.coalesce(ts, prev))
    if discard_before is not None:
        out = out.filter(F.col("event_time") >= F.lit(discard_before).cast("timestamp"))
    return out


# ---------------------------------------------------------------------------
# key/value split (processor_split_key_value)
# ---------------------------------------------------------------------------

def kv_fields(
    src: Column,
    delimiter: str = "\t",
    separator: str = ":",
    enabled: Column | None = None,
) -> tuple[Column, Column]:
    """(fields_map, ok). Anomaly synth keys
    (key_value_splitter.go:26-52,98): empty key → ``empty_key_{N}``, token
    without separator → ``no_separator_key_{N}``, N counting anomalies of that
    kind so far in the event — computed with an ``aggregate`` fold threading
    two counters through the token array (HOF; acceptable — runs only on rows
    of this source thanks to input gating)."""
    en = F.lit(True) if enabled is None else enabled
    gated = src if enabled is None else F.when(en, src)
    toks = F.split(gated, _re.escape(delimiter), -1)
    fold = F.aggregate(
        toks,
        F.struct(
            F.lit(0).alias("ek"),
            F.lit(0).alias("nk"),
            F.expr(f"cast(array() as {_ENTRY_T})").alias("entries"),
        ),
        lambda acc, t: F.when(
            ~t.contains(separator),
            F.struct(
                acc["ek"].alias("ek"),
                (acc["nk"] + 1).alias("nk"),
                F.concat(
                    acc["entries"],
                    F.array(
                        F.struct(
                            F.concat(F.lit("no_separator_key_"), acc["nk"].cast("string")).alias("key"),
                            t.alias("value"),
                        )
                    ),
                ).alias("entries"),
            ),
        )
        .when(
            F.substring_index(t, separator, 1) == F.lit(""),
            F.struct(
                (acc["ek"] + 1).alias("ek"),
                acc["nk"].alias("nk"),
                F.concat(
                    acc["entries"],
                    F.array(
                        F.struct(
                            F.concat(F.lit("empty_key_"), acc["ek"].cast("string")).alias("key"),
                            F.substr(t, F.lit(len(separator) + 1)).alias("value"),
                        )
                    ),
                ).alias("entries"),
            ),
        )
        .otherwise(
            F.struct(
                acc["ek"].alias("ek"),
                acc["nk"].alias("nk"),
                F.concat(
                    acc["entries"],
                    F.array(
                        F.struct(
                            F.substring_index(t, separator, 1).alias("key"),
                            F.substr(
                                t,
                                F.length(F.substring_index(t, separator, 1)) + F.lit(len(separator) + 1),
                            ).alias("value"),
                        )
                    ),
                ).alias("entries"),
            )
        ),
    )
    return (
        F.coalesce(F.map_from_entries(_dedup_entries_last_wins(fold["entries"])), _empty_map()),
        src.isNotNull(),
    )


def split_key_value(df: DataFrame, delimiter: str = "\t", separator: str = ":") -> DataFrame:
    parsed, matched = kv_fields(F.col("content"), delimiter, separator)
    if "fields" in df.columns:
        parsed = merge_maps(F.coalesce(F.col("fields"), _empty_map()), parsed)
    return df.withColumn("fields", parsed).withColumn(PARSE_OK, matched)


# ---------------------------------------------------------------------------
# Go-style recursive JSON flatten (processor_json)
# ---------------------------------------------------------------------------

def json_flatten(
    df: DataFrame,
    expand_depth: int = 0,  # 0 = unlimited (processor_json.go:29-41)
    connector: str = "_",
    prefix: str = "",
    expand_array: bool = False,
    ignore_first_connector: bool = False,
) -> DataFrame:
    """processor_json (Go): recursive flatten with ExpandDepth/ExpandConnector/
    Prefix/ExpandArray (plugins/processor/json/processor_json.go:29-41,120-180).

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
                nk = f"{key}{connector}{k}" if key else str(k)
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
            walk(obj, prefix.rstrip(connector) if ignore_first_connector else prefix, 0, out)
            return out

        return s.map(one)

    if "fields" in df.columns:
        # merge_maps, not map_concat: a flattened key that collides with an
        # existing field must last-win structurally, not throw under the
        # driver's vanilla mapKeyDedupPolicy=EXCEPTION session. The UDF result
        # must land in a real column first — Spark rejects Python-UDF
        # references inside merge_maps' higher-order-function lambdas.
        tmp = "__json_flat__"
        out = df.withColumn(tmp, _flatten(F.col("content")))
        ok = F.col(tmp).isNotNull()
        merged = merge_maps(
            F.coalesce(F.col("fields"), _empty_map()),
            F.coalesce(F.col(tmp), _empty_map()),
        )
        return (
            out.withColumn("fields", merged).withColumn(PARSE_OK, ok).drop(tmp)
        )
    parsed = _flatten(F.col("content"))
    ok = parsed.isNotNull()
    return df.withColumn("fields", F.coalesce(parsed, _empty_map())).withColumn(PARSE_OK, ok)
