"""Parser unit fixtures mirroring the reference's unittest semantics
(core/unittest/processor/ProcessorParse*Unittest.cpp test lists): keep/discard
unmatched, key-count behavior, overflow/shorten policies, apsara field
classification, kv anomaly keys.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from loongcollector_spark.operators import parse as P


def _df(spark, lines: list[str]):
    return spark.createDataFrame([(i, s) for i, s in enumerate(lines)], "id int, content string")


def _fields(df):
    return [r["fields"] for r in df.orderBy("id").select("fields").collect()]


# ---- regex (ProcessorParseRegexNativeUnittest.cpp:31-38 case list) ---------

def test_regex_basic_and_unmatched(spark):
    df = _df(spark, ["127.0.0.1 GET 200", "no match here"])
    out = P.parse_regex(df, r"(\S+) (\S+) (\d+)", ["ip", "method", "status"])
    f = _fields(out)
    assert f[0] == {"ip": "127.0.0.1", "method": "GET", "status": "200"}
    assert f[1] == {"__raw_log__": "no match here"}  # KeepingSourceWhenParseFail
    assert [r[0] for r in out.orderBy("id").select(P.PARSE_OK).collect()] == [True, False]


def test_regex_discard_unmatched(spark):
    df = _df(spark, ["a 1", "nope"])
    out = P.parse_regex(
        df, r"(\w+) (\d+)", ["k", "v"], opts=P.ParserOptions(keep_source_on_fail=False)
    )
    assert out.count() == 1  # ShouldEraseEvent drops the unmatched row


def test_regex_keep_source_on_success(spark):
    df = _df(spark, ["a 1"])
    out = P.parse_regex(
        df, r"(\w+) (\d+)", ["k", "v"], opts=P.ParserOptions(keep_source_on_success=True)
    )
    assert _fields(out)[0] == {"k": "a", "v": "1", "__raw__": "a 1"}


def test_regex_whole_line_shortcircuit(spark):
    df = _df(spark, ["anything at all"])
    out = P.parse_regex(df, "(.*)", ["content2"])
    assert _fields(out)[0] == {"content2": "anything at all"}


def test_regex_full_match_anchoring(spark):
    # boost regex_match is whole-line: a partial match must FAIL
    df = _df(spark, ["prefix 127.0.0.1 suffix"])
    out = P.parse_regex(df, r"(\d+\.\d+\.\d+\.\d+)", ["ip"])
    assert [r[0] for r in out.select(P.PARSE_OK).collect()] == [False]


# ---- json (ProcessorParseJsonNative.cpp:140-202) ----------------------------

def test_json_top_level_stringify(spark):
    df = _df(spark, ['{"a": "x", "n": 42, "f": 0.5, "nested": {"b": 1}, "arr": [1,2]}'])
    f = _fields(P.parse_json(df))[0]
    assert f["a"] == "x"
    assert f["n"] == "42"
    assert f["f"] == "0.5"
    assert f["nested"] == '{"b":1}'
    assert f["arr"] == "[1,2]"


def test_json_failure_paths(spark):
    df = _df(spark, ["[1,2,3]", '{"truncated": ', "not json"])
    out = P.parse_json(df)
    assert [r[0] for r in out.orderBy("id").select(P.PARSE_OK).collect()] == [False, False, False]
    assert _fields(out)[0] == {"__raw_log__": "[1,2,3]"}


# ---- delimiter (ProcessorParseDelimiterNative.cpp:206-409) ------------------

def test_delimiter_exact(spark):
    df = _df(spark, ["a|b|c"])
    assert _fields(P.parse_delimiter(df, ["x", "y", "z"], "|"))[0] == {"x": "a", "y": "b", "z": "c"}


def test_delimiter_overflow_extend(spark):
    df = _df(spark, ["a|b|c|d|e"])
    f = _fields(P.parse_delimiter(df, ["x", "y", "z"], "|", overflow="extend"))[0]
    assert f == {"x": "a", "y": "b", "z": "c", "__column3__": "d", "__column4__": "e"}


def test_delimiter_overflow_keep_glued(spark):
    df = _df(spark, ["a|b|c|d|e"])
    f = _fields(P.parse_delimiter(df, ["x", "y", "z"], "|", overflow="keep"))[0]
    assert f == {"x": "a", "y": "b", "z": "c", "__column3__": "d|e"}


def test_delimiter_shortened(spark):
    df = _df(spark, ["a|b"])
    out_strict = P.parse_delimiter(df, ["x", "y", "z"], "|")
    assert [r[0] for r in out_strict.select(P.PARSE_OK).collect()] == [False]
    f = _fields(P.parse_delimiter(df, ["x", "y", "z"], "|", allow_shortened=True))[0]
    assert f == {"x": "a", "y": "b"}


def test_delimiter_quoted_rfc4180_escaped_quote(spark):
    """Doubled quotes inside a quoted field unescape to one quote — Go
    encoding/csv / the native FSM behavior (escape=quote, not backslash)."""
    df = _df(spark, ['a,"say ""hi"", ok",c'])
    f = _fields(P.parse_delimiter(df, ["x", "y", "z"], ",", quote='"'))[0]
    assert f == {"x": "a", "y": 'say "hi", ok', "z": "c"}


def test_delimiter_trims_spaces(spark):
    df = _df(spark, [" a | b | c "])
    assert _fields(P.parse_delimiter(df, ["x", "y", "z"], "|"))[0] == {"x": "a", "y": "b", "z": "c"}


def test_delimiter_quoted(spark):
    df = _df(spark, ['a,"b,with,commas",c'])
    f = _fields(P.parse_delimiter(df, ["x", "y", "z"], ",", quote='"'))[0]
    assert f == {"x": "a", "y": "b,with,commas", "z": "c"}


def test_delimiter_quoted_keys_differing_in_case(spark):
    """Keys that differ only in case (or hold a back-tick) are distinct fields
    in the quoted mode, as in the unquoted one: the parse must not resolve
    them as struct field names, whose lookup ignores case."""
    keys = ["K", "k", "z `q"]
    quoted = _fields(P.parse_delimiter(_df(spark, ['1,"x,y",3']), keys, ",", quote='"'))[0]
    assert quoted == {"K": "1", "k": "x,y", "z `q": "3"}
    plain = _fields(P.parse_delimiter(_df(spark, ["1,2,3"]), keys, ","))[0]
    assert plain == {"K": "1", "k": "2", "z `q": "3"}


# ---- apsara (ProcessorParseApsaraNativeUnittest.cpp) ------------------------

def test_apsara_full(spark):
    line = "[2024-08-16 12:34:56.123456]\t[ERROR]\t[12345]\t[/src/file.cpp:42]\tk1:v1\tk2:v2"
    df = _df(spark, [line])
    out = P.parse_apsara(df)
    f = _fields(out)[0]
    assert f["__LEVEL__"] == "ERROR"
    assert f["__THREAD__"] == "12345"
    assert f["__FILE__"] == "/src/file.cpp"
    assert f["__LINE__"] == "42"
    assert f["k1"] == "v1" and f["k2"] == "v2"
    assert f["microtime"] == "1723811696123456"
    ts = out.select("event_time").head()[0]
    assert ts.year == 2024 and ts.microsecond == 123456


def test_apsara_epoch_variant(spark):
    df = _df(spark, ["[1722850496]\t[INFO]\t[99]\tmsg:hello"])
    f = _fields(P.parse_apsara(df))[0]
    assert f["microtime"] == "1722850496000000"
    assert f["__LEVEL__"] == "INFO"
    assert f["msg"] == "hello"


def test_apsara_unmatched(spark):
    df = _df(spark, ["no brackets here"])
    out = P.parse_apsara(df)
    assert [r[0] for r in out.select(P.PARSE_OK).collect()] == [False]


# ---- kv (key_value_splitter.go) ---------------------------------------------

def test_kv_basic(spark):
    df = _df(spark, ["class:main\tuser:root\tcode:200"])
    assert _fields(P.split_key_value(df))[0] == {"class": "main", "user": "root", "code": "200"}


def test_kv_anomaly_keys(spark):
    df = _df(spark, ["a:1\t:noname\tjusttoken\t:again\tother"])
    f = _fields(P.split_key_value(df))[0]
    assert f["a"] == "1"
    assert f["empty_key_0"] == "noname"
    assert f["empty_key_1"] == "again"
    assert f["no_separator_key_0"] == "justtoken"
    assert f["no_separator_key_1"] == "other"


def test_kv_value_with_separator(spark):
    # value containing the separator: split on FIRST occurrence only
    df = _df(spark, ["url:http://x/y:z"])
    assert _fields(P.split_key_value(df))[0] == {"url": "http://x/y:z"}


# ---- timestamp ---------------------------------------------------------------

def test_parse_timestamp(spark):
    df = _df(spark, ["ignored"]).withColumn(
        "fields", F.create_map(F.lit("t"), F.lit("2022/07/07 10:43:30"))
    )
    out = P.parse_timestamp(df, "t", "yyyy/MM/dd HH:mm:ss")
    ts = out.select("event_time").head()[0]
    assert (ts.year, ts.month, ts.hour, ts.second) == (2022, 7, 10, 30)


def test_parse_timestamp_discard_old(spark):
    df = spark.createDataFrame(
        [(1, "2019-01-01 00:00:00"), (2, "2023-01-01 00:00:00")], "id int, t string"
    ).withColumn("fields", F.create_map(F.lit("t"), F.col("t")))
    out = P.parse_timestamp(df, "t", "yyyy-MM-dd HH:mm:ss", discard_before="2020-01-01")
    assert [r["id"] for r in out.collect()] == [2]


# ---------------------------------------------------------------------------
# round-2 parity operators: geoip / cloud_meta / metadata_group / context_pack
# / split_log_regex / appender templates+SortLabels / typed grok / encrypt KAT
# ---------------------------------------------------------------------------

def test_geoip_broadcast_range(spark):
    from loongcollector_spark.operators.enrich import geoip
    import pyspark.sql.functions as F

    geo = spark.createDataFrame(
        [(167772160, 171048959, "CityA", "ProvA", "PA", "CountryA", "CA", -73.5, 41.25)],
        "ip_start long, ip_end long, city string, province string, province_code string,"
        "country string, country_code string, longitude double, latitude double",
    )  # 10.0.0.0 - 10.49.255.255
    df = spark.createDataFrame(
        [(1, "10.3.7.9"), (2, "10.200.0.1"), (3, "not-an-ip"), (4, "999.1.1.1")],
        "id int, ip string",
    ).withColumn("fields", F.create_map(F.lit("ip"), F.col("ip")))
    out = {r["id"]: r["fields"] for r in geoip(df, geo, "ip").collect()}
    assert out[1]["ip_city_"] == "CityA"
    assert out[1]["ip_longitude_"] == "-73.50000000"
    assert "ip_city_" not in out[2] and "ip_city_" not in out[3] and "ip_city_" not in out[4]
    # keep_source=False drops the source key
    out2 = {r["id"]: r["fields"] for r in geoip(df, geo, "ip", keep_source=False).collect()}
    assert "ip" not in out2[1] and out2[1]["ip_country_"] == "CountryA"
    # ip_value_flag: little-endian decimal (inetNtoa) — 10.3.7.9 -> bytes
    # reversed int 9*2^24 + 7*2^16 + 3*2^8 + 10
    df3 = spark.createDataFrame([(1, str(9 * 16777216 + 7 * 65536 + 3 * 256 + 10))], "id int, ip string").withColumn(
        "fields", F.create_map(F.lit("ip"), F.col("ip"))
    )
    out3 = {r["id"]: r["fields"] for r in geoip(df3, geo, "ip", ip_value_flag=True).collect()}
    assert out3[1]["ip_city_"] == "CityA"


def test_cloud_meta_modes(spark):
    from loongcollector_spark.operators.enrich import cloud_meta
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(1,)], "id int").withColumn(
        "fields", F.create_map(F.lit("payload"), F.lit('{"a":"1"}'))
    )
    out = cloud_meta(df, ["__cloud_region__"], rename={"__cloud_region__": "region"}).collect()
    assert out[0]["fields"]["region"] == "mock-region-1"
    # json mode merges into the flat object held at the top-level path
    outj = cloud_meta(df, ["__cloud_region__"], json_path="payload").collect()
    import json
    obj = json.loads(outj[0]["fields"]["payload"])
    assert obj == {"a": "1", "__cloud_region__": "mock-region-1"}


def test_cloud_meta_nested_jsonpath(spark):
    """Dotted json_path navigates/creates nested objects (cloud_meta.go:120-140):
    existing nested dict is merged into; missing intermediates are created;
    a non-object value at an intermediate is replaced by an object."""
    from loongcollector_spark.operators.enrich import cloud_meta
    import json
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(1, '{"meta":{"keep":"y"},"x":"1"}'), (2, "{}"), (3, '{"meta":"notadict"}'), (4, None)],
        "id int, payload string",
    ).withColumn("fields", F.create_map(F.lit("payload"), F.col("payload")))
    out = {
        r["id"]: json.loads(r["fields"]["payload"])
        for r in cloud_meta(
            df, ["__cloud_region__"], rename={"__cloud_region__": "region"},
            json_path="payload.meta",
        ).collect()
    }
    assert out[1] == {"meta": {"keep": "y", "region": "mock-region-1"}, "x": "1"}
    assert out[2] == {"meta": {"region": "mock-region-1"}}
    assert out[3] == {"meta": {"region": "mock-region-1"}}
    assert out[4] == {"meta": {"region": "mock-region-1"}}
    # two levels deep, all intermediates created
    deep = cloud_meta(
        df.where("id = 2"), ["__cloud_zone__"], json_path="payload.a.b"
    ).collect()
    assert json.loads(deep[0]["fields"]["payload"]) == {
        "a": {"b": {"__cloud_zone__": "mock-zone-a"}}
    }


def test_metadata_group_caps(spark):
    from loongcollector_spark.operators.aggregate import metadata_group_counts

    rows = [(i, "s1" if i < 120 else "s2", "en") for i in range(150)]
    df = spark.createDataFrame(rows, "doc_id int, source string, lang string")
    out = {
        (r["source"], r["group_seq"]): r["n_events"]
        for r in metadata_group_counts(df, ["source", "lang"], 50, order_col="doc_id").collect()
    }
    assert out[("s1", 0)] == 50 and out[("s1", 1)] == 50 and out[("s1", 2)] == 20
    assert out[("s2", 0)] == 30


def test_context_pack_order_and_lineage(spark):
    from loongcollector_spark.operators.aggregate import context_pack

    rows = [(i, f"src{i % 3}") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id int, source string")
    out = context_pack(df, order_col="doc_id", source_col="source", max_log_count=10)
    # per-source order preserved within partitions (the aggregator_context
    # contract): rows of one source are contiguous and doc_id-ascending
    parts = out.select("source", "doc_id", "__pack_id__").rdd.glom().collect()
    for part in parts:
        seen = []
        for row in part:
            if seen and seen[-1][0] == row["source"]:
                assert seen[-1][1] < row["doc_id"]
            seen.append((row["source"], row["doc_id"]))
        # contiguity: a source never reappears after another source started
        order = [s for s, _ in seen]
        assert order == sorted(order, key=lambda s: order.index(s))
    # pack seq increments every max_log_count within a source
    rows = {(r["source"], r["doc_id"]): r["__pack_id__"] for r in out.collect()}
    assert rows[("src0", 0)].endswith("-1") and rows[("src0", 30)].endswith("-2")
    prefix0 = rows[("src0", 0)].split("-")[0]
    assert all(v.split("-")[0] == prefix0 for (s, _), v in rows.items() if s == "src0")


def test_split_log_regex_semantics(spark):
    from loongcollector_spark.operators.multiline import split_log_regex

    df = spark.createDataFrame(
        [(1, "lead1\nlead2\nHDR a\n cont\nHDR b"), (2, "no match at all\nstill none")],
        "id int, content string",
    )
    out = {(r["id"], r["event_seq"]): r for r in split_log_regex(df, r"HDR .*").collect()}
    # leading unmatched lines form ONE chunk (Go flushes them together)
    assert out[(1, 0)]["content"] == "lead1\nlead2" and out[(1, 0)]["n_lines"] == 2
    assert out[(1, 1)]["content"] == "HDR a\n cont"
    assert out[(1, 2)]["content"] == "HDR b"
    assert out[(2, 0)]["content"] == "no match at all\nstill none"


def test_appender_templates_and_sort_labels(spark):
    from loongcollector_spark.operators.enrich import appender, expand_appender_template
    import pyspark.sql.functions as F

    assert (
        expand_appender_template(
            "x={{$E}},ip={{__ip__}},h={{__host__}},c={{__cloud_region__}},u={{nope}}",
            env={"E": "ev"}, ip="9.9.9.9", host="hh",
        )
        == "x=ev,ip=9.9.9.9,h=hh,c=mock-region-1,u=nope"
    )
    df = spark.createDataFrame([(1,)], "id int").withColumn(
        "fields", F.create_map(F.lit("lab"), F.lit("z#$#1|a#$#2"))
    )
    out = appender(df, "lab", "|m#$#3", sort_labels=True).collect()
    assert out[0]["fields"]["lab"] == "a#$#2|m#$#3|z#$#1"
    # values without any k#$#v pair stay as-is
    df2 = spark.createDataFrame([(1,)], "id int").withColumn(
        "fields", F.create_map(F.lit("v"), F.lit("plain"))
    )
    out2 = appender(df2, "v", "-tail", sort_labels=True).collect()
    assert out2[0]["fields"]["v"] == "plain-tail"


# Every built-in name shipped by the reference
# (plugins/processor/grok/processor_grok_default_patterns.go) — our library
# must resolve and compile each one (bodies are self-written RE2-safe forms).
REFERENCE_GROK_NAMES = """
BASE10NUM BASE16FLOAT BASE16NUM CISCOMAC COMBINEDAPACHELOG COMMONAPACHELOG
COMMONMAC DATA DATE DATESTAMP DATESTAMP_EVENTLOG DATESTAMP_OTHER
DATESTAMP_RFC2822 DATESTAMP_RFC822 DATE_EU DATE_US DAY EMAILADDRESS
EMAILLOCALPART GREEDYDATA HOST HOSTNAME HOSTPORT HOUR HTTPD20_ERRORLOG
HTTPD24_ERRORLOG HTTPDATE HTTPDERROR_DATE HTTPDUSER HTTPD_ERRORLOG INT IP
IPORHOST IPV4 IPV6 ISO8601_SECOND ISO8601_TIMEZONE LOGLEVEL MAC MINUTE MONTH
MONTHDAY MONTHNUM MONTHNUM2 NONNEGINT NOTSPACE NUMBER PATH POSINT PROG QS
QUOTEDSTRING SECOND SPACE SYSLOGBASE SYSLOGFACILITY SYSLOGHOST SYSLOGPROG
SYSLOGTIMESTAMP TIME TIMESTAMP_ISO8601 TTY TZ UNIXPATH URI URIHOST URIPARAM
URIPATH URIPATHPARAM URIPROTO URN USER USERNAME UUID WINDOWSMAC WINPATH WORD
YEAR
""".split()


def test_grok_reference_pattern_parity():
    """All 78 reference default pattern names resolve, expand acyclically, and
    compile as Python/Java-style regex (and avoid lookbehind/atomic groups so
    the DuckDB RE2 oracle can run the same expansion)."""
    import re

    from loongcollector_spark.operators.grok import BASE_PATTERNS, expand

    assert len(REFERENCE_GROK_NAMES) == 78
    missing = [n for n in REFERENCE_GROK_NAMES if n not in BASE_PATTERNS]
    assert not missing, f"missing grok built-ins: {missing}"
    for name in REFERENCE_GROK_NAMES:
        rx, _fields = expand("%{" + name + "}")
        re.compile(rx)  # must be a valid pattern
        assert "(?<" not in rx and "(?>" not in rx, f"{name}: RE2-unsafe construct"


def test_grok_syslog_line(spark):
    from loongcollector_spark.operators.grok import parse_grok

    line = "Oct 11 22:14:15 host-7.example.com sshd[4123]: Accepted publickey for deploy"
    df = spark.createDataFrame([(1, line)], "id int, content string")
    out = parse_grok(df, ["%{SYSLOGBASE} %{GREEDYDATA:msg}"], full_match=True).collect()[0]
    f = out["fields"]
    assert f["timestamp"] == "Oct 11 22:14:15"
    assert f["logsource"] == "host-7.example.com"
    assert f["program"] == "sshd" and f["pid"] == "4123"
    assert f["msg"] == "Accepted publickey for deploy"


def test_grok_combined_apache_and_uri(spark):
    from loongcollector_spark.operators.grok import parse_grok

    line = (
        '203.0.113.9 - frank [10/Oct/2000:13:55:36 -0700] "GET /apache_pb.gif?x=1 HTTP/1.0" '
        '200 2326 "http://www.example.com/start.html" "Mozilla/4.08"'
    )
    df = spark.createDataFrame([(1, line)], "id int, content string")
    out = parse_grok(df, ["%{COMBINEDAPACHELOG}"], full_match=True).collect()[0]
    f = out["fields"]
    assert f["clientip"] == "203.0.113.9" and f["verb"] == "GET"
    assert f["response"] == "200" and f["bytes"] == "2326"
    assert f["referrer"] == '"http://www.example.com/start.html"'
    # URI decomposes host/port
    udf = spark.createDataFrame(
        [(1, "visit https://api.example.com:8443/v1/items?id=7 now")], "id int, content string"
    )
    u = parse_grok(udf, ["%{URI:uri}"]).collect()[0]["fields"]
    assert u["uri"] == "https://api.example.com:8443/v1/items?id=7"
    assert u["port"] == "8443"


def test_grok_typed_columns(spark):
    from loongcollector_spark.operators.grok import parse_grok
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(1, "click 42 tail"), (2, "view notanint tail")], "id int, content string")
    out = parse_grok(
        df, ["%{WORD:w1} %{NOTSPACE:num:int} %{GREEDYDATA:rest}"], full_match=True,
        typed_columns=True,
    )
    assert dict(out.dtypes)["num"] == "bigint"
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["num"] == 42 and rows[2]["num"] is None  # try_cast null on bad int


def test_encrypt_known_answer(spark):
    """AES-128-CBC/PKCS known-answer vectors generated with OpenSSL:
    enc -aes-128-cbc -K 000102..0f -iv 101112..1f."""
    from loongcollector_spark.operators.enrich import encrypt_fields
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(1, "hello world"), (2, "Customer#000000001")], "id int, v string").withColumn(
        "fields", F.create_map(F.lit("v"), F.col("v"))
    )
    out = encrypt_fields(
        df, ["v"], key_hex="000102030405060708090a0b0c0d0e0f",
        iv_hex="101112131415161718191a1b1c1d1e1f",
    )
    got = {r["id"]: r["fields"]["v"] for r in out.collect()}
    iv = "101112131415161718191A1B1C1D1E1F"
    # Spark's aes_encrypt prepends the IV to CBC output; the ciphertext after
    # the prefix must equal the OpenSSL known answer byte-for-byte
    assert got[1] == iv + "CDA122E671F0F91095F426334E422B2B"
    assert got[2] == iv + "79AA917FA5534AAB2753669EE074F09F3B1194B07E6732129D06987ED4EFDBD4"


def test_fields_with_condition_relations(spark):
    """relation_operator (regexp/contains/startwith) and logical_operator
    (or) — processor_fields_with_condition.go:31-160."""
    from loongcollector_spark.operators.filters import fields_with_condition
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(1, "nginx-prod"), (2, "apsara-test"), (3, "other")], "id int, src string"
    ).withColumn("fields", F.create_map(F.lit("src"), F.col("src")))
    cases = [
        {
            "condition": {"src": "^nginx", "missing": "zzz"},
            "relation_operator": "regexp",
            "logical_operator": "or",
            "add_fields": {"cls": "web"},
        },
        {
            "condition": {"src": "test"},
            "relation_operator": "contains",
            "add_fields": {"cls": "testing"},
        },
        {
            "condition": {"src": "oth"},
            "relation_operator": "startwith",
            "add_fields": {"cls": "misc"},
        },
    ]
    out = {r["id"]: r["fields"].get("cls") for r in fields_with_condition(df, cases).collect()}
    assert out == {1: "web", 2: "testing", 3: "misc"}


def test_grok_neutralize_is_char_class_aware():
    """A '(' inside [...] is a literal class member — rewriting it to '(?:'
    would inject '?' into the class (URIPATH would then swallow a URL's query
    string into the path capture)."""
    import re

    from loongcollector_spark.operators.grok import _neutralize_groups, expand

    assert _neutralize_groups(r"a(b)[(]") == r"a(?:b)[(]"
    assert _neutralize_groups(r"[]()a]") == r"[]()a]"  # first ']' is literal
    rx, _ = expand("%{URIPATH:p}")
    assert re.fullmatch(rx, "/a/b") and not re.fullmatch(rx, "/a?b=1")
    rx_uri, _ = expand("%{URI:u}")
    assert re.fullmatch(rx_uri, "http://host/a?b=1")


def test_json_flatten_merges_colliding_fields_last_wins(spark):
    """A flattened key that collides with an existing field must last-win
    structurally — bare map_concat threw DUPLICATE_MAP_KEY under the driver's
    vanilla mapKeyDedupPolicy=EXCEPTION session."""
    from pyspark.sql import functions as F

    from loongcollector_spark.operators.parse import json_flatten

    df = spark.createDataFrame(
        [(1, '{"a":{"b":1},"x":"new"}'), (2, "bad json")], "id int, content string"
    ).withColumn("fields", F.create_map(F.lit("x"), F.lit("old")))
    out = {r["id"]: r for r in json_flatten(df).collect()}
    assert out[1]["fields"]["x"] == "new" and out[1]["fields"]["a_b"] == "1"
    assert dict(out[2]["fields"]) == {"x": "old"} and not out[2]["_parse_ok"]
