"""SLS protobuf wire-format decode — processor_parse_from_pb_native
(core/plugin/processor/inner/ProcessorParseFromPBNative.cpp:74-117) and the
V1 wire model every reference flusher/input speaks
(pkg/protocol/proto/sls_logs.proto:9-33):

    Log      { required uint32 Time = 1; repeated Content{Key=1,Value=2} = 2;
               optional fixed32 Time_ns = 4 }
    LogTag   { required string Key = 1; required string Value = 2 }
    LogGroup { repeated Log = 1; optional Category = 2; Topic = 3; Source = 4;
               MachineUUID = 5; repeated LogTag = 6 }

A binary wire format has no Catalyst expression, so this is the sanctioned
non-codegen path: an Arrow-batched ``mapInPandas`` decoder over a pure-Python
proto2 wire reader (varint + length-delimited only — the two wire types the
schema uses, plus fixed32 for Time_ns). No generated pb classes, no external
deps. The matching encoder exists for fixtures/round-trip tests and is
validated against hand-derived wire bytes in pytest (the encoding rules are
the public protobuf spec: tag = field_no << 3 | wire_type, varints LEB128).

Scale shape: decode is embarrassingly parallel per input row (one LogGroup
blob → its Log rows), pipelined in the scan; the only cost vs a JVM decoder
is the Arrow hop, which batches — the same trade as every wire-format UDF.

Failure policy mirrors the reference: an undecodable blob is DROPPED (the
processor counts it failed and skips, ProcessorParseFromPBNative.cpp:97-103).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# pure-python proto2 wire codec for the sls_logs schema
# ---------------------------------------------------------------------------


def _w_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _w_tag(field_no: int, wire_type: int) -> bytes:
    return _w_varint(field_no << 3 | wire_type)


def _w_bytes(field_no: int, data: bytes) -> bytes:
    return _w_tag(field_no, 2) + _w_varint(len(data)) + data


def _w_str(field_no: int, s: str) -> bytes:
    return _w_bytes(field_no, s.encode("utf-8"))


def encode_log(time: int, contents: list[tuple[str, str]], time_ns: int | None = None) -> bytes:
    out = _w_tag(1, 0) + _w_varint(time)
    for k, v in contents:
        out += _w_bytes(2, _w_str(1, k) + _w_str(2, v))
    if time_ns is not None:
        out += _w_tag(4, 5) + struct.pack("<I", time_ns)
    return out


def encode_log_group(
    logs: list[bytes],
    category: str | None = None,
    topic: str | None = None,
    source: str | None = None,
    machine_uuid: str | None = None,
    tags: list[tuple[str, str]] | None = None,
) -> bytes:
    out = b""
    for lg in logs:
        out += _w_bytes(1, lg)
    for no, val in ((2, category), (3, topic), (4, source), (5, machine_uuid)):
        if val is not None:
            out += _w_str(no, val)
    for k, v in tags or []:
        out += _w_bytes(6, _w_str(1, k) + _w_str(2, v))
    return out


def _r_varint(buf: bytes, i: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        if i >= len(buf):
            raise ValueError("truncated varint")
        b = buf[i]
        i += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            # proto2 wire semantics: a varint carries AT MOST 64 bits — the
            # 10th byte's high bits are dropped (C++ ReadVarint64 keeps the
            # low 64). Without the mask, a wire-legal 10-byte varint (up to
            # ~2^70) escaped the per-blob try/except as a Python bigint and
            # crashed the Arrow int64 conversion instead of the blob being
            # skipped/truncated.
            return n & 0xFFFFFFFFFFFFFFFF, i
        shift += 7
        if shift > 63:
            raise ValueError("varint overflow")


def _r_fields(buf: bytes) -> Iterator[tuple[int, int, object]]:
    """Yield (field_no, wire_type, value) over one message's bytes.
    Unknown fields are skipped per proto2 rules (forward compatibility —
    e.g. Log.values = 3)."""
    i = 0
    while i < len(buf):
        tag, i = _r_varint(buf, i)
        field_no, wt = tag >> 3, tag & 7
        if wt == 0:
            v, i = _r_varint(buf, i)
        elif wt == 2:
            ln, i = _r_varint(buf, i)
            if i + ln > len(buf):
                raise ValueError("truncated length-delimited field")
            v = buf[i : i + ln]
            i += ln
        elif wt == 5:
            if i + 4 > len(buf):
                raise ValueError("truncated fixed32")
            v = struct.unpack_from("<I", buf, i)[0]
            i += 4
        elif wt == 1:
            if i + 8 > len(buf):
                raise ValueError("truncated fixed64")
            v = struct.unpack_from("<Q", buf, i)[0]
            i += 8
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield field_no, wt, v


def _r_kv(buf: bytes) -> tuple[str, str]:
    k = v = ""
    for no, wt, val in _r_fields(buf):
        # wrong-wire-type fields are unknown fields per proto2 — skip, the
        # value was already consumed by _r_fields (fuzz-found: a varint-typed
        # Key crashed int.decode instead of being ignored)
        if wt != 2:
            continue
        if no == 1:
            k = val.decode("utf-8")
        elif no == 2:
            v = val.decode("utf-8")
    return k, v


def decode_log_group(buf: bytes) -> dict:
    group = {
        "category": None,
        "topic": None,
        "source": None,
        "machine_uuid": None,
        "tags": {},
        "logs": [],
    }
    for no, wt, val in _r_fields(buf):
        # A known field carried on the wrong wire type is an UNKNOWN field
        # per proto2 (skip; _r_fields already consumed the value). Without
        # the check, a varint-typed Log/Category crashed len()/str.decode on
        # an int instead of the blob surviving with the field ignored —
        # fuzz-found by tests/test_property.py.
        if no == 1 and wt == 2:
            log = {"time": 0, "time_ns": None, "fields": {}}
            for lno, lwt, lval in _r_fields(val):
                if lno == 1 and lwt == 0:
                    # Time is uint32 (sls_logs.proto:10): proto2 truncates an
                    # over-wide varint to the field's low 32 bits.
                    log["time"] = lval & 0xFFFFFFFF
                elif lno == 2 and lwt == 2:
                    k, v = _r_kv(lval)
                    log["fields"][k] = v  # duplicate keys: last wins (map model)
                elif lno == 4 and lwt in (5, 0):
                    # Time_ns is fixed32 (proto:18); the varint arm covers a
                    # lenient encoder; mask keeps the value inside int64.
                    log["time_ns"] = lval & 0xFFFFFFFF
            group["logs"].append(log)
        elif no in (2, 3, 4, 5) and wt == 2:
            key = {2: "category", 3: "topic", 4: "source", 5: "machine_uuid"}[no]
            group[key] = val.decode("utf-8")
        elif no == 6 and wt == 2:
            k, v = _r_kv(val)
            group["tags"][k] = v
    return group


# ---------------------------------------------------------------------------
# the Spark operator
# ---------------------------------------------------------------------------

PB_LOG_SCHEMA = T.StructType(
    [
        T.StructField("category", T.StringType()),
        T.StructField("topic", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("machine_uuid", T.StringType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField("log_idx", T.IntegerType()),
        T.StructField("time", T.LongType()),
        T.StructField("time_ns", T.LongType()),
        T.StructField("fields", T.MapType(T.StringType(), T.StringType())),
    ]
)


def parse_sls_pb(df: DataFrame) -> DataFrame:
    """Decode a binary column of serialized ``LogGroup`` blobs → one row per
    contained ``Log`` (group metadata denormalized onto every row, the
    PipelineEventGroup→rows mapping of SURVEY §1.1). Carries every other
    input column through; undecodable blobs are dropped."""
    carry = [f for f in df.schema.fields if f.name != "payload"]
    pb_names = {f.name for f in PB_LOG_SCHEMA.fields}
    clash = sorted({f.name for f in carry} & pb_names)
    if clash:
        # StructType would happily hold duplicate names and the row dicts
        # would silently overwrite the carried values with the PB ones —
        # refuse instead of corrupting pass-through columns.
        raise ValueError(
            f"parse_sls_pb: input column(s) {clash} collide with the decoded "
            f"LogGroup output fields — rename or drop them first"
        )
    out_schema = T.StructType(list(carry) + list(PB_LOG_SCHEMA.fields))
    carry_names = [f.name for f in carry]

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                blob = r["payload"]
                try:
                    g = decode_log_group(bytes(blob))
                except Exception:
                    continue  # reference: count failed, skip the blob
                base = {c: r[c] for c in carry_names}
                for i, log in enumerate(g["logs"]):
                    rows.append(
                        {
                            **base,
                            "category": g["category"],
                            "topic": g["topic"],
                            "source": g["source"],
                            "machine_uuid": g["machine_uuid"],
                            "tags": g["tags"],
                            "log_idx": i,
                            "time": log["time"],
                            "time_ns": log["time_ns"],
                            "fields": log["fields"],
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return df.mapInPandas(_decode, out_schema)
