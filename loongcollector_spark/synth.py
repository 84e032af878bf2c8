"""Deterministic synthetic tokenized-sequence table (FIXTURES.md §1–2).

One row per log line; the payload is byte-level tokenized (token == byte value,
bijective) so ``decode(tokens)`` round-trips exactly and routed-row token-array
equality is checkable. ``source`` is deliberately skewed (one hot source ≈70%) to
exercise the salted repartition the north rule mandates.

Line formats mirror the reference's own fixtures:
  * nginx    — reference benchmark format (test/benchmark/.../loongcollector.yaml,
               docs/cn/plugins/processor/spl/processor-spl-native.md:31-48)
  * apsara   — core/unittest/processor/ProcessorParseApsaraNativeUnittest.cpp
  * json     — core/plugin/processor/ProcessorParseJsonNative.cpp:140-202
  * delimiter— core/plugin/processor/ProcessorParseDelimiterNative.cpp:206-409
  * kv       — plugins/processor/split/keyvalue/key_value_splitter.go:26-52

Generation is pure Python + pyarrow (no Spark on the driver hot path); all
payloads are ASCII so the token<->string codec has a fully native JVM decode.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = ["nginx", "apsara", "json", "delimiter", "kv"]
# Skewed mix: nginx is the hot source (~70%).
SOURCE_WEIGHTS = [0.70, 0.12, 0.08, 0.06, 0.04]
MALFORMED_FRAC = 0.10  # deliberately unparseable lines → keep/discard-unmatched paths

_METHODS = ["GET", "POST", "PUT", "DELETE", "HEAD"]
_PATHS = ["/index.html", "/PutData?Category=YunOsAccountOpLog", "/api/v1/items", "/health", "/static/app.js"]
_STATUS = ["200", "200", "200", "301", "404", "500", "403"]
_AGENTS = ["aliyun-sdk-java", "curl/8.0", "Mozilla/5.0", "python-requests/2.31"]
_LEVELS = ["INFO", "WARNING", "ERROR", "DEBUG"]
_FILES = ["/src/file.cpp", "/build/core/runner.cpp", "/apsara/common/util.cpp"]


def _nginx_line(rng: random.Random) -> str:
    ip = f"{rng.randint(1, 223)}.{rng.randint(0, 255)}.{rng.randint(0, 255)}.{rng.randint(1, 254)}"
    ts = f"07/Jul/2022:10:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d} +0800"
    method = rng.choice(_METHODS)
    path = rng.choice(_PATHS)
    status = rng.choice(_STATUS)
    nbytes = rng.randint(0, 60000)
    agent = rng.choice(_AGENTS)
    return f'{ip} - - [{ts}] "{method} {path} HTTP/1.1" {status} {nbytes} "-" "{agent}"'


def _apsara_line(rng: random.Random) -> str:
    us = rng.randint(0, 999999)
    ts = f"2024-08-16 12:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}.{us:06d}"
    level = rng.choice(_LEVELS)
    thread = rng.randint(1000, 99999)
    file = rng.choice(_FILES)
    line = rng.randint(1, 999)
    kvs = "\t".join(f"k{i}:v{rng.randint(0, 99)}" for i in range(rng.randint(1, 4)))
    return f"[{ts}]\t[{level}]\t[{thread}]\t[{file}:{line}]\t{kvs}"


def _json_line(rng: random.Random) -> str:
    obj = {
        "url": f"{rng.choice(_METHODS)} {rng.choice(_PATHS)} HTTP/1.1",
        "time": f"07/Jul/2022:10:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}",
        "status": rng.choice(_STATUS),
        # keep in [1e-3, ~0.5]: Java (from_json) and Python shortest-repr agree
        # in plain notation there; below 1e-3 Java switches to E-notation
        "latency": round(0.001 + rng.random() * 0.5, 4),
        "nested": {"a": rng.randint(0, 9)},
    }
    return json.dumps(obj, separators=(", ", ": "))


def _delimiter_line(rng: random.Random) -> str:
    ip = f"10.0.{rng.randint(0, 255)}.{rng.randint(1, 254)}"
    ts = f"10/Aug/2022:14:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"
    cols = [ip, ts, rng.choice(_METHODS), rng.choice(_PATHS), rng.choice(_STATUS), str(rng.randint(0, 9999))]
    r = rng.random()
    if r < 0.05:  # overflow row → __column6__ / glued behaviors
        cols.append(f"extra{rng.randint(0, 9)}")
    elif r < 0.10:  # shortened row → AllowingShortenedFields
        cols = cols[:4]
    return "|".join(cols)


def _kv_line(rng: random.Random) -> str:
    parts = [
        f"class:{rng.choice(['main', 'worker', 'io'])}",
        f"user:{rng.choice(['root', 'svc', 'guest'])}",
        f"code:{rng.choice(_STATUS)}",
    ]
    r = rng.random()
    if r < 0.05:
        parts.append(":emptykey")  # empty-key token → empty_key_0
    elif r < 0.10:
        parts.append("noseparator")  # no-separator token → no_separator_key_0
    return "\t".join(parts)


_GEN = {
    "nginx": _nginx_line,
    "apsara": _apsara_line,
    "json": _json_line,
    "delimiter": _delimiter_line,
    "kv": _kv_line,
}


def _malform(rng: random.Random, source: str, line: str) -> str:
    """Deliberately break a line for the parse-failure path."""
    if source == "json":
        return line[: max(1, len(line) // 2)]  # truncated JSON
    return "MALFORMED " + line[: rng.randint(0, 20)]


def gen_rows(n_rows: int, seed: int = 42):
    """Yield (doc_id, tokens, n_tok, source) deterministic rows."""
    rng = random.Random(seed)
    for i in range(n_rows):
        source = rng.choices(SOURCES, weights=SOURCE_WEIGHTS, k=1)[0]
        line = _GEN[source](rng)
        if rng.random() < MALFORMED_FRAC:
            line = _malform(rng, source, line)
        toks = list(line.encode("utf-8"))  # ASCII by construction → token == codepoint
        yield (f"doc-{i:012d}", toks, len(toks), source)


def write_sequences(
    path: str,
    n_rows: int,
    seed: int = 42,
    rows_per_file: int = 20_000,
) -> str:
    """Materialize the sequences table as a DIRECTORY of parquet part files
    (idempotent: skip if present).

    Many ~2 MB files instead of one big one → Spark gets evenly-sized input
    splits at any parallelism. NOTE: file count alone is not enough — with the
    cluster-scale ``spark.sql.files.maxPartitionBytes=128m`` Spark PACKS small
    files into few partitions (round-2 diagnosis: the whole 114 MB scaling
    input packed into ≤8 scan tasks, capping every core count at ~7 used
    cores). Toy-scale benches must also shrink maxPartitionBytes/openCost so
    the scan yields ≥2 splits per core — bench.py does (a 100 TB table gets
    ~800k natural 128 MB splits; the toy input has to mimic that
    many-splits-per-core shape to measure the same thing)."""
    if os.path.exists(path):
        return path
    tmp = path + ".tmp"
    # a crashed prior run leaves part files behind; merging them into this
    # run's table would corrupt it — start from an empty staging dir
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    doc_ids, tokens, n_toks, sources = [], [], [], []
    part = 0

    def _flush():
        nonlocal part, doc_ids, tokens, n_toks, sources
        if not doc_ids:
            return
        table = pa.table(
            {
                "doc_id": pa.array(doc_ids, pa.string()),
                "tokens": pa.array(tokens, pa.list_(pa.int32())),
                "n_tok": pa.array(n_toks, pa.int32()),
                "source": pa.array(sources, pa.string()),
            }
        )
        pq.write_table(table, os.path.join(tmp, f"part-{part:05d}.parquet"), row_group_size=16 * 1024)
        part += 1
        doc_ids, tokens, n_toks, sources = [], [], [], []

    for d, t, n, s in gen_rows(n_rows, seed):
        doc_ids.append(d)
        tokens.append(t)
        n_toks.append(n)
        sources.append(s)
        if len(doc_ids) >= rows_per_file:
            _flush()
    _flush()
    os.rename(tmp, path)
    return path


def default_sequences_path(n_rows: int, base_dir: str | None = None) -> str:
    base = base_dir or os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".data")
    return os.path.join(base, f"sequences_{n_rows}_v2.parquet")


def ensure_sequences(n_rows: int, base_dir: str | None = None) -> str:
    """The seed-42 table of ``n_rows`` rows at its cached path."""
    return write_sequences(default_sequences_path(n_rows, base_dir), n_rows)
