"""Grok parse (processor_grok, plugins/processor/grok/processor_grok.go:41-375).

Grok = a macro layer over regex: named library patterns referenced as
``%{NAME}`` / ``%{NAME:field}`` / ``%{NAME:field:type}`` are recursively
expanded (with cycle detection — the reference topo-sorts its pattern graph,
.go:238-278) into one flat regex whose capture groups carry the field names.
``match_patterns`` are tried in order, first hit wins (.go:147-193).

All expansion happens ONCE in the driver (pure Python); executors only ever see
the final flat regex, evaluated with the same single-pass packed-capture scheme
as processor_parse_regex (operators/parse.py) — no Python at runtime, and the
DuckDB oracle can run the identical expanded regex for the correctness gate.

The pattern library below is a self-written subset of the conventional grok
vocabulary (the de-facto names every grok implementation shares). ``expand``
takes extra patterns (``lib``, the CustomPatterns config, .go:360-375); the
parser uses the library as it is.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import sqltext as S
from . import parse as P

# Self-authored subset of the standard grok vocabulary.
BASE_PATTERNS: dict[str, str] = {
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"%{USERNAME}",
    "INT": r"[+-]?\d+",
    "BASE10NUM": r"[+-]?(?:\d+(?:\.\d+)?|\.\d+)",
    "NUMBER": r"%{BASE10NUM}",
    "POSINT": r"[1-9]\d*",
    "NONNEGINT": r"\d+",
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "QUOTEDSTRING": r'"(?:[^"\\]|\\.)*"',
    "IPV4": r"(?:\d{1,3}\.){3}\d{1,3}",
    "IP": r"%{IPV4}",
    "HOSTNAME": r"\b[0-9A-Za-z][0-9A-Za-z-]{0,62}(?:\.[0-9A-Za-z][0-9A-Za-z-]{0,62})*\.?\b",
    "IPORHOST": r"(?:%{IP}|%{HOSTNAME})",
    "HOSTPORT": r"%{IPORHOST}:%{POSINT}",
    "YEAR": r"\d{4}",
    "MONTHNUM": r"0?[1-9]|1[0-2]",
    "MONTHDAY": r"(?:0?[1-9]|[12]\d|3[01])",
    "MONTH": r"\b(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]*\b",
    "HOUR": r"(?:[01]?\d|2[0-3])",
    "MINUTE": r"[0-5]\d",
    "SECOND": r"(?:[0-5]\d|60)(?:\.\d+)?",
    "TIME": r"%{HOUR}:%{MINUTE}:%{SECOND}",
    "TIMESTAMP_ISO8601": r"%{YEAR}-%{MONTHNUM2}-%{MONTHDAY}[T ]%{HOUR}:%{MINUTE}(?::%{SECOND})?%{ISO8601_TIMEZONE}?",
    "MONTHNUM2": r"0\d|1[0-2]",
    "ISO8601_TIMEZONE": r"(?:Z|[+-]%{HOUR}(?::?%{MINUTE})?)",
    "HTTPDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME} %{INT}",
    "LOGLEVEL": r"(?:[Tt]race|TRACE|[Dd]ebug|DEBUG|[Ii]nfo|INFO|[Nn]otice|NOTICE|[Ww]arn(?:ing)?|WARN(?:ING)?|[Ee]rr(?:or)?|ERR(?:OR)?|[Cc]rit(?:ical)?|CRIT(?:ICAL)?|[Ff]atal|FATAL)",
    "UUID": r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}",
    "COMMONAPACHELOG": (
        r'%{IPORHOST:clientip} %{USER:ident} %{USER:auth} \[%{HTTPDATE:timestamp}\] '
        r'"(?:%{WORD:verb} %{NOTSPACE:request}(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})" '
        r"%{NONNEGINT:response} (?:%{NONNEGINT:bytes}|-)"
    ),
    "COMBINEDAPACHELOG": r"%{COMMONAPACHELOG} %{QS:referrer} %{QS:agent}",
    "QS": r"%{QUOTEDSTRING}",
    # ---- full name parity with the reference's 78 built-ins
    # (plugins/processor/grok/processor_grok_default_patterns.go).  Bodies
    # are self-written RE2/Java-compatible equivalents: the reference uses
    # Oniguruma atomic groups (?>…) and lookbehinds, which DuckDB's RE2 (the
    # oracle side) rejects — semantics preserved, exotic anchoring dropped.
    "EMAILLOCALPART": r"[a-zA-Z][a-zA-Z0-9_.+=:-]+",
    "EMAILADDRESS": r"%{EMAILLOCALPART}@%{HOSTNAME}",
    "HTTPDUSER": r"%{EMAILADDRESS}|%{USER}",
    "BASE16NUM": r"[+-]?(?:0x)?[0-9A-Fa-f]+",
    "BASE16FLOAT": r"\b[+-]?(?:0x)?(?:[0-9A-Fa-f]+(?:\.[0-9A-Fa-f]*)?|\.[0-9A-Fa-f]+)\b",
    "CISCOMAC": r"(?:[A-Fa-f0-9]{4}\.){2}[A-Fa-f0-9]{4}",
    "WINDOWSMAC": r"(?:[A-Fa-f0-9]{2}-){5}[A-Fa-f0-9]{2}",
    "COMMONMAC": r"(?:[A-Fa-f0-9]{2}:){5}[A-Fa-f0-9]{2}",
    "MAC": r"(?:%{CISCOMAC}|%{WINDOWSMAC}|%{COMMONMAC})",
    "IPV6": (
        r"(?:(?:[0-9A-Fa-f]{1,4}:){7}(?:[0-9A-Fa-f]{1,4}|:)"
        r"|(?:[0-9A-Fa-f]{1,4}:){1,7}:"
        r"|(?:[0-9A-Fa-f]{1,4}:){1,6}:[0-9A-Fa-f]{1,4}"
        r"|(?:[0-9A-Fa-f]{1,4}:){1,5}(?::[0-9A-Fa-f]{1,4}){1,2}"
        r"|(?:[0-9A-Fa-f]{1,4}:){1,4}(?::[0-9A-Fa-f]{1,4}){1,3}"
        r"|(?:[0-9A-Fa-f]{1,4}:){1,3}(?::[0-9A-Fa-f]{1,4}){1,4}"
        r"|(?:[0-9A-Fa-f]{1,4}:){1,2}(?::[0-9A-Fa-f]{1,4}){1,5}"
        r"|[0-9A-Fa-f]{1,4}:(?::[0-9A-Fa-f]{1,4}){1,6}"
        r"|:(?:(?::[0-9A-Fa-f]{1,4}){1,7}|:)"
        r"|(?:[0-9A-Fa-f]{1,4}:){1,4}:%{IPV4}"
        r"|::(?:[Ff]{4}:)?%{IPV4})(?:%\w+)?"
    ),
    "HOST": r"%{HOSTNAME}",
    "UNIXPATH": r"(?:/[\w_%!$@:.,~-]*)+",
    "WINPATH": r"(?:[A-Za-z]+:|\\)(?:\\[^\\?*]*)+",
    "PATH": r"(?:%{UNIXPATH}|%{WINPATH})",
    "TTY": r"/dev/(?:pts|tty(?:[pq])?)(?:\w+)?/?(?:[0-9]+)",
    "URIPROTO": r"[A-Za-z]+(?:\+[A-Za-z+]+)?",
    "URIHOST": r"%{IPORHOST}(?::%{POSINT:port})?",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%_\-]*)+",
    "URIPARAM": r"\?[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\-\[\]<>]*",
    "URIPATHPARAM": r"%{URIPATH}(?:%{URIPARAM})?",
    "URI": r"%{URIPROTO}://(?:%{USER}(?::[^@]*)?@)?(?:%{URIHOST})?(?:%{URIPATHPARAM})?",
    "URN": r"urn:[0-9A-Za-z][0-9A-Za-z-]{0,31}:(?:%[0-9a-fA-F]{2}|[0-9A-Za-z()+,.:=@;$_!*'/?#-])+",
    "DAY": r"(?:Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?)",
    "DATE_US": r"%{MONTHNUM}[/-]%{MONTHDAY}[/-]%{YEAR}",
    "DATE_EU": r"%{MONTHDAY}[./-]%{MONTHNUM}[./-]%{YEAR}",
    "ISO8601_SECOND": r"(?:%{SECOND}|60)",
    "DATE": r"%{DATE_US}|%{DATE_EU}",
    "DATESTAMP": r"%{DATE}[- ]%{TIME}",
    "TZ": r"(?:[PMCE][SD]T|UTC|GMT)",
    "DATESTAMP_RFC822": r"%{DAY} %{MONTH} %{MONTHDAY} %{YEAR} %{TIME} %{TZ}",
    "DATESTAMP_RFC2822": r"%{DAY}, %{MONTHDAY} %{MONTH} %{YEAR} %{TIME} %{ISO8601_TIMEZONE}",
    "DATESTAMP_OTHER": r"%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{TZ} %{YEAR}",
    "DATESTAMP_EVENTLOG": r"%{YEAR}%{MONTHNUM2}%{MONTHDAY}%{HOUR}%{MINUTE}%{SECOND}",
    "HTTPDERROR_DATE": r"%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{YEAR}",
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    "PROG": r"[\x21-\x5a\x5c\x5e-\x7e]+",
    "SYSLOGPROG": r"%{PROG:program}(?:\[%{POSINT:pid}\])?",
    "SYSLOGHOST": r"%{IPORHOST}",
    "SYSLOGFACILITY": r"<%{NONNEGINT:facility}.%{NONNEGINT:priority}>",
    "SYSLOGBASE": r"%{SYSLOGTIMESTAMP:timestamp} (?:%{SYSLOGFACILITY} )?%{SYSLOGHOST:logsource} %{SYSLOGPROG}:",
    "HTTPD20_ERRORLOG": (
        r"\[%{HTTPDERROR_DATE:timestamp}\] \[%{LOGLEVEL:loglevel}\] "
        r"(?:\[client %{IPORHOST:clientip}\] )?%{GREEDYDATA:errormsg}"
    ),
    "HTTPD24_ERRORLOG": (
        r"\[%{HTTPDERROR_DATE:timestamp}\] \[%{WORD:module}:%{LOGLEVEL:loglevel}\] "
        r"\[pid %{POSINT:pid}:tid %{NUMBER:tid}\]"
        r"(?: \(%{POSINT:proxy_errorcode}\)%{DATA:proxy_errormessage}:)?"
        r"(?: \[client %{IPORHOST:client}:%{POSINT:clientport}\])? "
        r"%{DATA:errorcode}: %{GREEDYDATA:message}"
    ),
    "HTTPD_ERRORLOG": r"%{HTTPD20_ERRORLOG}|%{HTTPD24_ERRORLOG}",
}

_REF_RE = _re.compile(r"%\{(\w+)(?::([\w.\[\]@-]+))?(?::(int|long|float|string))?\}")


class GrokError(ValueError):
    pass


def _neutralize_groups(regex: str) -> str:
    """Turn bare user capture groups ``(`` into non-capturing ``(?:`` so that
    only %{NAME:field} expansions produce numbered captures (the reference
    keeps named captures only, .go:172-176).

    Character-class aware: a ``(`` INSIDE ``[...]`` is a literal — rewriting
    it would inject ``?`` and ``:`` into the class (URIPATH's class contains
    ``()``, and ``[...(?:)...]`` wrongly matches ``?``, silently swallowing a
    URL's query string into the path capture)."""
    out = []
    i = 0
    in_class = False
    while i < len(regex):
        c = regex[i]
        if c == "\\" and i + 1 < len(regex):
            out.append(regex[i : i + 2])
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
            out.append(c)
            i += 1
            continue
        if c == "[":
            in_class = True
            out.append(c)
            i += 1
            # ']' directly after '[' or '[^' is a literal member, not a close
            if i < len(regex) and regex[i] == "^":
                out.append("^")
                i += 1
            if i < len(regex) and regex[i] == "]":
                out.append("]")
                i += 1
            continue
        if c == "(" and not regex.startswith("(?", i):
            out.append("(?:")
            i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


def expand(
    pattern: str,
    lib: dict[str, str] | None = None,
    _stack: tuple[str, ...] = (),
) -> tuple[str, list[tuple[str, str | None]]]:
    """Recursively expand one grok pattern → ``(flat_regex, [(field, type)…])``.

    Fields are ordered by capture-group index. Unknown pattern names and
    reference cycles raise GrokError (mirrors the reference's topo-sort cycle
    detection, processor_grok.go:238-278,402-449)."""
    library = {**BASE_PATTERNS, **(lib or {})}
    fields: list[tuple[str, str | None]] = []

    def _sub(m: _re.Match) -> str:
        name, field, typ = m.group(1), m.group(2), m.group(3)
        if name not in library:
            raise GrokError(f"unknown grok pattern %{{{name}}}")
        if name in _stack:
            raise GrokError(f"grok pattern cycle: {' -> '.join(_stack)} -> {name}")
        inner, inner_fields = expand(library[name], lib, _stack + (name,))
        if field:
            fields.append((field, typ))
            wrapped = f"({inner})"
        else:
            wrapped = f"(?:{inner})"
        fields.extend(inner_fields)
        return wrapped

    # NOTE on ordering: python re.sub calls _sub left-to-right, and nested
    # expansion appends inner fields after the outer field — exactly the
    # capture-group numbering of the final regex.
    out = _REF_RE.sub(_sub, _neutralize_groups(pattern))
    return out, fields


_GROK_TYPE_TO_SPARK = {"int": "long", "long": "long", "float": "double", "string": "string"}


def compile_grok(
    match_patterns: list[str], full_match: bool = False
) -> list[tuple[str, list[str], dict[str, str]]]:
    """Expand every match pattern once in the driver → [(regex, keys, types)]
    where ``types`` maps hinted fields (%{PAT:field:int|float}) to Spark type
    names (processor_grok.go:54,377 parses the same hint grammar).

    ``full_match=False`` (reference default — grok searches, .go:148) embeds
    the pattern in ``^.*?(…).*$`` wrappers handled at evaluation time."""
    out = []
    for p in match_patterns:
        rx, fields = expand(p)
        keys = [f for f, _ in fields]
        types = {f: _GROK_TYPE_TO_SPARK[t] for f, t in fields if t}
        if not keys:
            raise GrokError(f"pattern has no named captures: {p!r}")
        if not full_match:
            rx = r"(?s)^.*?" + rx + r".*$"
        out.append((rx, keys, types))
    return out


# Reference defaults KeepSource=true, IgnoreParseFailure=true (.go:360-375):
# unlike the native regex parser, the raw line is kept on success too
_OPTS = P.ParserOptions(keep_source_on_success=True)


def grok_fields(src: str, match_patterns: list[str], full_match: bool = False) -> tuple[str, str]:
    """(fields_map, ok): patterns tried in order, first hit wins — each later
    pattern's input is gated on all earlier failures, so a row evaluates
    pattern i+1 only if i missed (the sequential-try semantics of
    processor_grok.go:147-193 without per-row Python)."""
    compiled = compile_grok(match_patterns, full_match)
    maps: list[str] = []
    ok_any: str | None = None
    for rx, keys, _types in compiled:
        gate = None if ok_any is None else f"(NOT {ok_any})"
        m, ok = P.regex_fields(
            src,
            rx,
            keys,
            opts=P.ParserOptions(keep_source_on_fail=False),  # policy applied once below
            enabled=gate,
        )
        ok = f"coalesce({ok}, false)"
        maps.append(m)
        ok_any = ok if ok_any is None else f"({ok_any} OR {ok})"
    fields = maps[0] if len(maps) == 1 else f"map_concat({', '.join(maps)})"
    return P._with_policy(fields, src, ok_any, None, _OPTS), ok_any


def parse_grok(
    df: DataFrame,
    match_patterns: list[str],
    source_col: str = "content",
    full_match: bool = False,
    ignore_parse_failure: bool = True,
    typed_columns: bool = False,
) -> DataFrame:
    """DataFrame wrapper. ``ignore_parse_failure=False`` drops unmatched rows
    (IgnoreParseFailure config, .go:360-375). ``typed_columns=True`` applies
    the %{PAT:field:int|float} hints (.go:54,377) as CAST top-level columns —
    the fields map stays string-typed (LogContents are strings), the typed
    projection is the Spark-native reading of the hint."""
    m, ok = grok_fields(S.ident(source_col), match_patterns, full_match)
    out = P._finalize_fields(df, m, ok, _OPTS)
    if not ignore_parse_failure:
        out = out.filter(F.col(P.PARSE_OK))
    if typed_columns:
        hinted: dict[str, str] = {}
        for _rx, _keys, types in compile_grok(match_patterns, full_match):
            for f, t in types.items():
                hinted.setdefault(f, t)
        for f, t in hinted.items():
            # try_cast: a hinted field that fails the cast yields null rather
            # than an ANSI error (Spark 4 default ANSI mode)
            out = out.withColumn(f, F.col("fields")[f].try_cast(t))
    return out
