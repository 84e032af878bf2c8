"""Enrichment / transform operators (SURVEY.md §2.4).

* ``dict_map``        — processor_dict_map lookup-table enrich: literal map
                        lookup for a dict, BROADCAST join for a table
                        (plugins/processor/dictmap/processor_dict_map.go:30-186)
* ``rename_keys``     — processor_rename (plugins/processor/rename/processor_rename.go:26-141)
* ``add_fields``      — processor_add_fields (plugins/processor/addfields/...go:26-85)
* ``appender``        — processor_appender (plugins/processor/appender/...go:31-39)
* ``desensitize``     — processor_desensitize_native const/md5 modes
                        (core/plugin/processor/ProcessorDesensitizeNative.cpp:146-253)
* ``string_replace``  — processor_string_replace (regex/const/unquote)
* ``base64_field`` / ``md5_field`` / ``pack_json`` — small field transforms
* ``log_to_metric``   — processor_log_to_sls_metric reshape
                        (plugins/processor/logtoslsmetric/...go:32-172)

Scale notes: dict_map never shuffles the fact side (dict ≤1000 rows per the
reference's MaxDictSize): a dict is a literal map in the projection, a table a
broadcast hash join. The md5-desensitize
mode needs Python's re.sub with a hash callback → Arrow-batched pandas UDF
(slow path, only when configured).
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, pandas_udf
from pyspark.sql import types as T

from .. import sqltext as S


def dict_map(
    df: DataFrame,
    lookup: DataFrame | dict,
    source_key: str,
    dest_key: str,
    missing: str | None = None,
    mode: str = "overwrite",  # overwrite | fill (only-if-absent)
    source_is_field: bool = True,
) -> DataFrame:
    """Lookup-table enrich from ``lookup``: a Python ``dict`` or a
    2-column ``(key, value)`` DataFrame.

    A ``dict`` becomes a literal ``map(...)`` looked up per row — a plain
    projection, no join and no broadcast job (processor_dict_map.go caps
    dicts at 1000 entries, .go:96-146, so the literal stays small). A
    DataFrame is a broadcast hash join → no shuffle of the big side. A null
    key matches no row either way. ``mode='fill'`` writes only when
    ``dest_key`` is absent; ``missing`` is the HandleMissing default
    (.go:148-186; None → leave row unenriched).
    """
    src = S.get("fields", source_key) if source_is_field else S.ident(source_key)
    if isinstance(lookup, dict):
        pairs = {k: v for k, v in lookup.items() if k is not None}
        joined, mapped = df, f"{S.literal_map(pairs)}[{src}]" if pairs else "CAST(NULL AS STRING)"
    else:
        k, v = lookup.columns[:2]
        d = broadcast(lookup.select(F.col(k).alias("__dm_key"), F.col(v).alias("__dm_val")))
        joined, mapped = df.join(d, F.expr(src) == F.col("__dm_key"), "left"), "__dm_val"
    if missing is not None:
        # HandleMissing fills only rows that HAVE the source key
        mapped = f"(CASE WHEN ({src} IS NOT NULL) THEN coalesce({mapped}, {S.lit(missing)}) END)"
    new_val = f"coalesce({S.get('fields', dest_key)}, {mapped})" if mode == "fill" else mapped
    out_map = S.set_field("fields", dest_key, new_val, f"({new_val} IS NOT NULL)")
    return joined.withColumn("fields", F.expr(out_map)).drop("__dm_key", "__dm_val")


def rename_keys(df: DataFrame, source_keys: list[str], dest_keys: list[str]) -> DataFrame:
    """processor_rename: positional key rename inside the fields map."""
    lookup = S.literal_map(dict(zip(source_keys, dest_keys)))

    def renamed(e: str) -> str:
        return f"named_struct('key', coalesce({lookup}[{e}.key], {e}.key), 'value', {e}.value)"

    entries = f"transform(map_entries(fields), {S.lam(renamed)})"
    # renaming onto an existing key must not crash map construction → last-wins
    return df.withColumn("fields", F.expr(f"map_from_entries({S.dedup_entries_last_wins(entries)})"))


def add_fields(df: DataFrame, fields: dict[str, str]) -> DataFrame:
    """processor_add_fields: append constant fields, overwriting a key that is
    already there (the reference's IgnoreIfExist=false default)."""
    return df.withColumn("fields", F.expr(S.merge_maps("fields", S.literal_map(fields))))


# processor_appender / processor_cloud_meta metadata source. The reference
# reads a live cloud platform API (pkg/helper/platformmeta/interface.go:18-28);
# this deterministic mock stands in.
MOCK_CLOUD_META: dict[str, str] = {
    "__cloud_instance_id__": "i-mock0001",
    "__cloud_instance_name__": "mock-instance",
    "__cloud_region__": "mock-region-1",
    "__cloud_zone__": "mock-zone-a",
    "__cloud_instance_type__": "mock.large",
    "__cloud_image_id__": "img-mock",
    "__cloud_vpc_id__": "vpc-mock",
    "__cloud_vswitch_id__": "vsw-mock",
}

_TEMPLATE_RE = re.compile(r"\{\{([^}]*)\}\}")


def expand_appender_template(
    value: str,
    env: dict[str, str] | None = None,
    ip: str = "127.0.0.1",
    host: str = "localhost",
) -> str:
    """Plan-build-time expansion of appender ``{{...}}`` templates
    (processor_appender.go:55-63,118-133): ``{{$NAME}}`` → env var,
    ``{{__ip__}}`` → ip, ``{{__host__}}`` → host, ``{{__cloud_*__}}`` →
    ``MOCK_CLOUD_META``; unknown keys expand to themselves. ``env``/``ip``/
    ``host`` are injectable for deterministic tests (the reference reads the
    live host)."""
    import os

    env = dict(os.environ) if env is None else env

    def repl(m: re.Match) -> str:
        key = m.group(1)
        if not key:
            return ""
        if key[0] == "$":
            return env.get(key[1:], "")
        if key == "__ip__":
            return ip
        if key == "__host__":
            return host
        return MOCK_CLOUD_META.get(key, key)

    return _TEMPLATE_RE.sub(repl, value)


_LABEL_SEP = S.lit("#$#")
_PIPE_RX = S.lit(r"\|")


def sort_labels_value(value: str) -> str:
    """SortLabels post-step (processor_appender.go:93-105), over the SQL text
    ``value``: parse it as ``k#$#v|k#$#v…`` metric labels and re-emit sorted
    by key; values without any valid ``#$#`` pair are left untouched
    (MetricLabels.Len()==0 guard)."""

    def has_pair(label: str) -> str:
        return f"contains({label}, {_LABEL_SEP})"

    def keyed(label: str) -> str:
        return f"named_struct('k', substring_index({label}, {_LABEL_SEP}, 1), 'l', {label})"

    valid = f"filter(split({value}, {_PIPE_RX}), {S.lam(has_pair)})"
    structs = f"transform({valid}, {S.lam(keyed)})"
    sorted_val = f"array_join(transform(array_sort({structs}), {S.lam(lambda s: s + '.l')}), '|')"
    return f"(CASE WHEN (size({valid}) > 0) THEN {sorted_val} ELSE {value} END)"


def appender(
    df: DataFrame,
    key: str,
    value: str,
    sort_labels: bool = False,
    template_vars: dict | None = None,
) -> DataFrame:
    """processor_appender: concatenate ``value`` onto existing field ``key``
    (creating it if absent, .go:76-84). ``{{...}}`` templates expand once at
    plan-build time via expand_appender_template; ``sort_labels`` re-sorts the
    resulting ``k#$#v|…`` label string by key (.go:93-105)."""
    if "{{" in value:
        value = expand_appender_template(value, **(template_vars or {}))
    new = f"concat(coalesce({S.get('fields', key)}, ''), {S.lit(value)})"
    if sort_labels:
        new = sort_labels_value(new)
    return df.withColumn("fields", F.expr(S.set_field("fields", key, new, "true")))


def desensitize_const(
    df: DataFrame,
    key: str,
    regex: str,
    replacement: str,
    replace_all: bool = True,
    source_is_field: bool = True,
) -> DataFrame:
    """processor_desensitize const mode: regex redaction → constant
    (ProcessorDesensitizeNative.cpp:202-207). Native regexp_replace."""
    rx, rep = S.lit(regex), S.lit(replacement)

    def first_only(cur: str) -> str:
        # Replace only the FIRST occurrence (Replace vs GlobalReplace,
        # ProcessorDesensitizeNative.cpp:202-207): stitch around the first match.
        pos = f"regexp_instr({cur}, {rx})"  # 1-based start, 0 if no match
        hit = f"regexp_extract({cur}, {rx}, 0)"
        stitched = f"concat(substr({cur}, 1, {pos} - 1), {rep}, substr({cur}, {pos} + length({hit}), length({cur})))"
        return f"(CASE WHEN ({pos} > 0) THEN {stitched} ELSE {cur} END)"

    cur = S.get("fields", key) if source_is_field else S.ident(key)
    new = f"regexp_replace({cur}, {rx}, {rep})" if replace_all else first_only(cur)
    if source_is_field:
        return df.withColumn("fields", F.expr(S.set_field("fields", key, new, f"({cur} IS NOT NULL)")))
    return df.withColumn(key, F.expr(new))


def _md5_sub(series: pd.Series, pattern: str) -> pd.Series:
    rx = re.compile(pattern)  # compiled once per Arrow batch, not per row

    def repl(m: re.Match) -> str:
        return hashlib.md5(m.group(0).encode()).hexdigest()

    return series.map(lambda s: rx.sub(repl, s) if s is not None else None)


def desensitize_md5(df: DataFrame, key: str, regex: str) -> DataFrame:
    """processor_desensitize md5 mode: matched segment of field ``key`` → md5
    hex (ProcessorDesensitizeNative.cpp:208-248). Pandas UDF (needs callback
    sub)."""

    @pandas_udf(T.StringType())
    def md5_sub_udf(s: pd.Series) -> pd.Series:
        return _md5_sub(s, regex)

    # the UDF result lands in a real column first: the map update is SQL
    # text, which can name a column but not hold a Python UDF
    out = df.withColumn("__dsm_val__", md5_sub_udf(F.col("fields")[key]))
    present = f"({S.get('fields', key)} IS NOT NULL)"
    return out.withColumn(
        "fields", F.expr(S.set_field("fields", key, "__dsm_val__", present))
    ).drop("__dsm_val__")


_UNQUOTE_RX = r'^"(.*)"$'


def string_replace(
    df: DataFrame,
    key: str,
    method: str,
    match: str = "",
    replacement: str = "",
    dest_key: str | None = None,
) -> DataFrame:
    """processor_string_replace: regex | const | unquote
    (plugins/processor/stringreplace/processor_string_replace.go:41-55)."""
    cur = S.get("fields", key)
    if method == "regex":
        new = f"regexp_replace({cur}, {S.lit(match)}, {S.lit(replacement)})"
    elif method == "const":
        new = f"replace({cur}, {S.lit(match)}, {S.lit(replacement)})"
    elif method == "unquote":
        new = f"regexp_replace({cur}, {S.lit(_UNQUOTE_RX)}, '$1')"
    else:
        raise ValueError(f"unknown method {method!r}")
    return df.withColumn("fields", F.expr(S.set_field("fields", dest_key or key, new, f"({cur} IS NOT NULL)")))


# Go base64.StdEncoding shape: 4-char groups, exact '='/'==' tail padding.
# (\r/\n are stripped BEFORE this check — Go's decoder ignores them too.)
_B64_STRICT = r"(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?"
_CRLF = S.lit("[\r\n]")
_SPACES_RX = S.lit(r"\s+")


def base64_field(df: DataFrame, key: str, dest_key: str, decode: bool = False) -> DataFrame:
    """processor_base64_encoding/_decoding.

    Encode strips the CRLF chunking Spark's ``base64`` inserts every 76 chars
    (MIME line wrap — probed on this build for any payload >57 bytes); Go's
    ``EncodeToString`` never wraps, and a wrapped value would corrupt any
    downstream consumer of the field.

    Decode mirrors ``base64.StdEncoding.DecodeString``'s fail-and-SKIP path
    (processor_base64_decoding.go:49-57) exactly: ``\\r``/``\\n`` are ignored
    like Go's decoder, then a strict shape gate (4-char groups, exact
    padding) rejects what StdEncoding rejects BEFORE ``try_to_binary`` —
    Spark's own base64 parser is MIME-lenient (skips ALL whitespace, accepts
    missing padding; probed) and ``unbase64`` is worse (decodes invalid
    input to garbage bytes)."""
    cur = S.get("fields", key)
    if decode:
        cleaned = f"regexp_replace({cur}, {_CRLF}, '')"
        decoded = f"CAST(try_to_binary({cleaned}, 'base64') AS STRING)"
        new = f"(CASE WHEN {S.rlike(cleaned, f'^{_B64_STRICT}$')} THEN {decoded} END)"
    else:
        new = f"regexp_replace(base64(CAST({cur} AS BINARY)), {_CRLF}, '')"
    return df.withColumn("fields", F.expr(S.set_field("fields", dest_key, new, f"({cur} IS NOT NULL)")))


def md5_field(df: DataFrame, key: str, dest_key: str) -> DataFrame:
    """processor_md5: md5 hex of field value."""
    cur = S.get("fields", key)
    md5 = f"md5(CAST({cur} AS BINARY))"
    return df.withColumn("fields", F.expr(S.set_field("fields", dest_key, md5, f"({cur} IS NOT NULL)")))


def pack_json(df: DataFrame, source_keys: list[str], dest_key: str) -> DataFrame:
    """processor_packjson: pack listed fields into one JSON object string."""
    members = ", ".join(f"{S.lit(k)}, {S.get('fields', k)}" for k in source_keys)
    obj = f"to_json(named_struct({members}))"
    return df.withColumn("fields", F.expr(S.set_field("fields", dest_key, obj, "true")))


def gotime(
    df: DataFrame,
    source_key: str,
    source_format: str,
    dest_key: str,
    dest_format: str,
    source_tz: str = "UTC",
    dest_tz: str = "UTC",
    set_time: bool = True,
    go_layout: bool = False,
) -> DataFrame:
    """processor_gotime: parse SourceKey with a time format, reformat into
    DestKey with src/dst timezone conversion
    (plugins/processor/gotime/processor_gotime.go:34-52,111-118). With
    ``go_layout=True`` the formats are Go reference layouts exactly as a
    reference config writes them (``"2006-01-02 15:04:05"``), translated via
    :mod:`.gotime_layout`; otherwise raw Spark/JDK patterns."""
    src_val = S.get("fields", source_key)
    if go_layout:
        from .gotime_layout import (
            WEEKDAY_STRIP_REGEX,
            go_layout_has_weekday,
            go_layout_needs_pad_collapse,
            go_layout_to_spark,
        )

        if go_layout_has_weekday(source_format):
            # Spark bans 'E' in parse patterns; the day name is redundant
            src_val = f"regexp_replace({src_val}, {S.lit(WEEKDAY_STRIP_REGEX)}, '')"
        if go_layout_needs_pad_collapse(source_format):
            # Go's _2 space-pads single digits ("Jan  2"); JDK 'd' rejects the
            # extra space — collapse runs before the parse
            src_val = f"regexp_replace({src_val}, {_SPACES_RX}, ' ')"
        source_format = go_layout_to_spark(source_format, for_parse=True)
        dest_format = go_layout_to_spark(dest_format)
    ts = f"to_utc_timestamp(try_to_timestamp({src_val}, {S.lit(source_format)}), {S.lit(source_tz)})"
    formatted = f"date_format(from_utc_timestamp({ts}, {S.lit(dest_tz)}), {S.lit(dest_format)})"
    out = df.withColumn("fields", F.expr(S.set_field("fields", dest_key, formatted, f"({formatted} IS NOT NULL)")))
    if set_time:
        prev = "event_time" if "event_time" in df.columns else S.NULL_TS
        out = out.withColumn("event_time", F.expr(f"coalesce({ts}, {prev})"))
    return out


def anchor(
    df: DataFrame,
    anchors: list[dict],
    source_key: str = "content",
    source_is_field: bool = False,
) -> DataFrame:
    """processor_anchor: substring extraction between Start/Stop anchor strings
    per ``{"start":…, "stop":…, "field":…}`` (plugins/processor/anchor/
    anchor.go:46). Empty start → begin of line; empty stop → end of line."""
    src = S.get("fields", source_key) if source_is_field else S.ident(source_key)
    base = f"coalesce(fields, {S.EMPTY_MAP})" if "fields" in df.columns else S.EMPTY_MAP
    entries = []
    for a in anchors:
        start, stop, field = a.get("start", ""), a.get("stop", ""), a["field"]
        # FIRST occurrence of Start (anchor.go:175 uses strings.Index), then
        # Stop searched strictly after it; a non-empty Stop that is absent
        # skips the field entirely (anchor.go:183-188)
        present = [f"({src} IS NOT NULL)"]
        if start:
            sp = f"locate({S.lit(start)}, {src})"  # 1-based, 0 = absent
            after = f"substr({src}, {sp} + {len(start)}, length({src}))"
            present.append(f"({sp} > 0)")
        else:
            after = src
        if stop:
            ep = f"locate({S.lit(stop)}, {after})"
            val = f"substr({after}, 1, {ep} - 1)"
            present.append(f"({ep} > 0)")
        else:
            val = after
        entries.append(S.opt_entry(S.lit(field), val, f"({' AND '.join(present)})"))
    arr = entries[0] if len(entries) == 1 else f"concat({', '.join(entries)})"
    add = f"coalesce(map_from_entries({S.dedup_entries_last_wins(arr)}), {S.EMPTY_MAP})"
    return df.withColumn("fields", F.expr(S.merge_maps(base, add)))


def encrypt_fields(
    df: DataFrame, keys: list[str], key_hex: str, iv_hex: str | None = None
) -> DataFrame:
    """processor_encrypt: AES-CBC encrypt listed fields, hex output
    (plugins/processor/encrypt/processor_encrypt.go:41). Native aes_encrypt.
    NOTE: Spark prepends the IV to CBC output — the bytes after the 16-byte
    prefix are the OpenSSL-compatible ciphertext (known-answer test in
    tests/test_parsers.py::test_encrypt_known_answer)."""
    key_b = f"unhex({S.lit(key_hex)})"
    iv_b = f"unhex({S.lit(iv_hex)})" if iv_hex else "X''"
    for k in keys:
        cur = S.get("fields", k)
        enc = f"hex(aes_encrypt(CAST({cur} AS BINARY), {key_b}, 'CBC', 'PKCS', {iv_b}))"
        df = df.withColumn("fields", F.expr(S.set_field("fields", k, enc, f"({cur} IS NOT NULL)")))
    return df


def add_tags(df: DataFrame, tags: dict[str, str]) -> DataFrame:
    """processor_tag_native: inject host/env tags as group tags
    (core/plugin/processor/inner/ProcessorTagNative.cpp:44-120)."""
    add = S.literal_map(tags)
    if "tags" in df.columns:
        add = S.merge_maps(f"coalesce(tags, {S.EMPTY_MAP})", add)
    return df.withColumn("tags", F.expr(add))


def log_to_metric(
    df: DataFrame,
    metric_values: dict[str, str],  # name field -> value field (or name literal -> value field)
    label_keys: list[str],
    time_key: str | None = None,
) -> DataFrame:
    """processor_log_to_sls_metric: reshape log rows into metric rows with
    ``__name__``, ``__value__``, sorted ``__labels__`` (k#$#v|...), ``__time_nano__``.
    Name/label validation regexes mirror .go:32-56."""
    base = F.col("fields")
    labels = F.array_join(
        F.array_sort(F.array(*[F.concat(F.lit(k), F.lit("#$#"), F.coalesce(base[k], F.lit(""))) for k in label_keys])),
        "|",
    )
    rows = []
    for name_field, value_field in metric_values.items():
        rows.append(
            F.struct(
                F.coalesce(base[name_field], F.lit(name_field)).alias("__name__"),
                base[value_field].alias("__value__"),
            )
        )
    exploded = df.withColumn("__metrics__", F.explode(F.array(*rows)))
    out = exploded.select(
        "*",
        F.col("__metrics__.__name__").alias("__name__"),
        F.col("__metrics__.__value__").alias("__value__"),
    ).drop("__metrics__")
    out = out.withColumn("__labels__", labels)
    if time_key:
        # try_cast both ends: a non-numeric time field must yield null, not an
        # ANSI error — and so must an overflowing one ('1e300' parses as a
        # double, ×1e9 → Infinity, and plain cast(long) of Infinity throws
        # CAST_OVERFLOW under ANSI)
        out = out.withColumn(
            "__time_nano__", (base[time_key].try_cast("double") * 1e9).try_cast("long")
        )
    # strict metric-name validation (logtoslsmetric .go:32-56); the VALUE check
    # mirrors Go's strconv.ParseFloat (.go:172) via try_cast — scientific
    # notation ("1e3") passes, unlike the plain-decimal regex it replaces
    return out.filter(
        F.col("__name__").rlike(r"^[a-zA-Z_:][a-zA-Z0-9_:]*$")
        & F.col("__value__").try_cast("double").isNotNull()
    )


# ---------------------------------------------------------------------------
# geoip (processor_geoip) & cloud_meta (processor_cloud_meta)
# ---------------------------------------------------------------------------

def ipv4_to_long(col: Column) -> Column:
    """Dotted-quad IPv4 → uint32 (null on malformed / out-of-range octets)."""
    valid = col.rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")
    parts = F.split(col, r"\.")
    octs = [parts[i].cast("long") for i in range(4)]
    in_range = octs[0] <= 255
    for o in octs[1:]:
        in_range = in_range & (o <= 255)
    val = octs[0] * 16777216 + octs[1] * 65536 + octs[2] * 256 + octs[3]
    return F.when(valid & in_range, val)


def geoip(
    df: DataFrame,
    geo_df: DataFrame,
    source_key: str,
    keep_source: bool = True,
    ip_value_flag: bool = False,
    no_coordinate: bool = False,
    source_is_field: bool = True,
) -> DataFrame:
    """processor_geoip (plugins/processor/geoip/processor_geoip.go:35-165)
    re-expressed as a BROADCAST blocked range join — no mmdb reader, the geo
    database is a DataFrame of IP ranges
    ``(ip_start long, ip_end long, city, province, province_code, country,
    country_code, longitude double, latitude double)``.

    Scale shape: each range is exploded into the /16 blocks it spans, the fact
    side joins on ``block = ip >> 16`` equality (BroadcastHashJoin) with the
    range check as a join filter — never a nested-loop range join. Emitted
    keys mirror the reference: ``{source_key}_city_``, ``_province_``,
    ``_province_code_``, ``_country_``, ``_country_code_``, ``_longitude_``,
    ``_latitude_`` (coordinates FormatFloat 'f' 8, .go:160-162); each written
    only when the geo column is non-null. ``ip_value_flag`` treats the source
    as a LITTLE-endian decimal IP (inetNtoa, .go:113-121);
    ``keep_source=False`` drops the source key (.go:98-104)."""
    src = F.col("fields")[source_key] if source_is_field else F.col(source_key)
    if ip_value_flag:
        n = src.try_cast("long")  # non-numeric → null (ANSI mode), mirrors inetNtoa's Atoi
        ip_long = F.when(
            n.isNotNull() & (n >= 0) & (n <= 4294967295),
            # inetNtoa byte-reverses the integer
            (n % 256) * 16777216 + ((n / 256).cast("long") % 256) * 65536
            + ((n / 65536).cast("long") % 256) * 256 + (n / 16777216).cast("long"),
        )
    else:
        ip_long = ipv4_to_long(src)
    blocks = F.explode(
        F.sequence(
            (F.col("ip_start") / 65536).cast("long"), (F.col("ip_end") / 65536).cast("long")
        )
    )
    geo_b = geo_df.select(F.struct(*geo_df.columns).alias("__geo"), blocks.alias("__blk"))
    fact = df.withColumn("__ip_long", ip_long).withColumn(
        "__ip_blk", (F.col("__ip_long") / 65536).cast("long")
    )
    joined = fact.join(
        broadcast(geo_b),
        (F.col("__ip_blk") == F.col("__blk"))
        & (F.col("__ip_long") >= F.col("__geo.ip_start"))
        & (F.col("__ip_long") <= F.col("__geo.ip_end")),
        "left",
    )

    # format_string("%.8f", NULL) yields the literal string "null" (Java
    # String.format semantics) — gate on the input, not the formatted output
    def coord(c: str) -> str:
        return f"(CASE WHEN (__geo.{c} IS NOT NULL) THEN format_string('%.8f', __geo.{c}) END)"

    emit: list[tuple[str, str]] = [
        (f"{source_key}_{c}_", f"__geo.{c}")
        for c in ("city", "province", "province_code", "country", "country_code")
    ]
    if not no_coordinate:
        emit += [(f"{source_key}_longitude_", coord("longitude")), (f"{source_key}_latitude_", coord("latitude"))]
    base = f"coalesce(fields, {S.EMPTY_MAP})"
    if source_is_field and not keep_source:
        kept = S.lam(lambda e: f"({e}.key != {S.lit(source_key)})")
        base = f"map_from_entries(filter(map_entries({base}), {kept}))"
    add = S.entries_map(*[S.opt_entry(S.lit(k), v, f"({v} IS NOT NULL)") for k, v in emit])
    out = joined.withColumn("fields", F.expr(S.merge_maps(base, add)))
    return out.drop("__geo", "__blk", "__ip_long", "__ip_blk")


def cloud_meta(
    df: DataFrame,
    metadata: list[str],
    rename: dict[str, str] | None = None,
    json_path: str | None = None,
    provider: dict[str, str] | None = None,
) -> DataFrame:
    """processor_cloud_meta (plugins/processor/cloudmeta/cloud_meta.go:33-140).

    Append mode (no ``json_path``): selected metadata keys (renamed per
    ``RenameMetadata``) merge into the fields map. JSON mode: the metadata
    merges into the JSON object held in field ``json_path``; a dotted path
    (``data.meta.cloud``) navigates/creates nested objects inside that JSON,
    mirroring the reference's arbitrary-depth JSONPath insert
    (cloud_meta.go:120-140). The top-level form stays a native
    from_json/to_json expression (nested non-string values round-trip as
    serialized JSON); the nested form needs real JSON-object semantics, so it
    is an Arrow-batched pandas UDF (keys emitted sorted for determinism).
    ``provider`` defaults to the deterministic MOCK_CLOUD_META (the container
    has no cloud metadata endpoint)."""
    src = provider or MOCK_CLOUD_META
    rename = rename or {}
    meta = {rename.get(k, k): src[k] for k in metadata if k in src}
    add = S.literal_map(meta)
    base = f"coalesce(fields, {S.EMPTY_MAP})"
    if json_path is None:
        return df.withColumn("fields", F.expr(S.merge_maps(base, add)))
    field_key, *inner_path = json_path.split(".")
    if not inner_path:
        obj = f"coalesce(from_json({S.get(base, field_key)}, {S.lit(S.MAP_T)}), {S.EMPTY_MAP})"
        packed = f"to_json({S.merge_maps(obj, add)})"
        return df.withColumn("fields", F.expr(S.set_field(base, field_key, packed, "true")))

    import json as _json

    import pandas as pd

    @F.pandas_udf("string")
    def insert_nested(s: pd.Series) -> pd.Series:
        def one(txt):
            try:
                obj = _json.loads(txt) if txt else {}
            except (ValueError, TypeError):
                obj = {}
            if not isinstance(obj, dict):
                obj = {}
            node = obj
            for seg in inner_path:  # create intermediate objects as the Go code does
                nxt = node.get(seg)
                if not isinstance(nxt, dict):
                    nxt = {}
                    node[seg] = nxt
                node = nxt
            node.update(meta)
            return _json.dumps(obj, separators=(",", ":"), sort_keys=True)

        return s.map(one)

    # the UDF result lands in a real column first: the map update is SQL
    # text, which can name a column but not hold a Python UDF
    tmp = "__cloud_meta_packed__"
    out = df.withColumn(tmp, insert_nested(F.expr(S.get(base, field_key))))
    return out.withColumn("fields", F.expr(S.set_field(base, field_key, tmp, "true"))).drop(tmp)
