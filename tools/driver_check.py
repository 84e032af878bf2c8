"""Strict emulation of the DRIVER's correctness gate: every query against its
DuckDB oracle.

* The SparkSession is VANILLA — built exactly like a harness would build it
  (no ``mapKeyDedupPolicy``, no custom confs beyond master/shuffle-partitions),
  because the driver passes its own session into ``queries()``.  Round 1 lost
  3 queries to a session-conf dependency this checker would have caught.
* ``canon`` does NOT round decimals/floats — Decimals stringify at full scale,
  floats use repr().  Round 1 lost 3 TPC-H queries to decimal canonicalization
  differences that a round-to-9 canonicalization masked.

If a query passes here it has no excuse to fail in CORRECTNESS_r{N}.json.

Usage: python tools/driver_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
import sys

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def value_hash(rows: list[dict]) -> str:
    cols = sorted(rows[0].keys()) if rows else []
    lines = sorted("|".join(canon(r[c]) for c in cols) for r in rows)
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # VANILLA session — what the driver hands us. No library confs.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-check")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [r.asDict(recursive=True) for r in sdf.collect()]
            scols = sorted(sdf.columns)
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        from pyspark.sql.types import DecimalType

        decs = [f.name for f in sdf.schema.fields if isinstance(f.dataType, DecimalType)]
        if decs:
            # Decimal survives pandas conversion differently in Spark vs DuckDB
            # (Decimal obj w/ trailing zeros vs float64) — ban it from outputs
            print(f"FAIL  {name}: decimal-typed output columns {decs} (harness-unstable)")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            ddf = con.execute(oracles[name]).fetch_arrow_table()
            dcols = sorted(ddf.column_names)
            drows = ddf.to_pylist()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        ok = True
        msgs = []
        if len(srows) != len(drows):
            ok = False
            msgs.append(f"rowcount {len(srows)} vs {len(drows)}")
        if scols != dcols:
            ok = False
            msgs.append(f"cols {scols} vs {dcols}")
        if ok:
            hs, hd = value_hash(srows), value_hash(drows)
            if hs != hd:
                ok = False
                msgs.append("value-hash mismatch")
                ss = sorted("|".join(canon(r[c]) for c in sorted(r)) for r in srows)
                dd = sorted("|".join(canon(r[c]) for c in sorted(r)) for r in drows)
                diff = [(a, b) for a, b in zip(ss, dd) if a != b][:3]
                for a, b in diff:
                    msgs.append(f"  spark={a[:180]}\n   duck={b[:180]}")
        if ok:
            print(f"OK    {name}: {len(srows)} rows")
        else:
            print(f"FAIL  {name}: " + "; ".join(msgs))
            n_fail += 1
    print(f"\n{n_fail} failures")
    return n_fail


DRIVER_WINDOW = 50  # the harness reads only the first N queries() entries


def coverage() -> int:
    """Gate-coverage hygiene (round-2 failure class: 10 queries were NEVER
    driver-checked because they sat past position 50 in every round).

    Rules enforced against the union of CORRECTNESS_r*.json:
      * every queries() entry OUTSIDE the upcoming round's window (the first
        DRIVER_WINDOW entries) must have a green row in the LATEST correctness
        file — i.e. nothing rotates out while stale;
      * never-checked or previously-red queries must sit INSIDE the window.
    Exit 1 + loud listing otherwise.
    """
    import glob
    import json
    import os
    import re as _re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))
    if not files:
        print("coverage: no CORRECTNESS_r*.json yet — nothing to enforce")
        return 0
    green_round: dict[str, int] = {}
    checked_round: dict[str, int] = {}
    rounds = []
    for f in files:
        rnd = int(_re.search(r"r(\d+)", os.path.basename(f)).group(1))
        rounds.append(rnd)
        with open(f) as fh:
            data = json.load(fh)
        for name, row in data.items():
            checked_round[name] = max(checked_round.get(name, 0), rnd)
            if row.get("rows_match") and row.get("schema_match") and row.get("hash_match"):
                green_round[name] = max(green_round.get(name, 0), rnd)
    latest = max(rounds)
    names = list(entrymod.queries())
    oracles = entrymod.oracle_sql()
    window = set(names[:DRIVER_WINDOW])
    # window saturation: every in-window slot holds an entry that NEEDS the
    # upcoming check (never checked, or not green in the latest round)
    saturated = all(
        (n not in checked_round) or (green_round.get(n, 0) < latest)
        for n in names[:DRIVER_WINDOW]
    )
    # One-round-only queue exemption (VERDICT r3 / ADVICE): a never-checked
    # query may sit out-of-window ONLY while the window is saturated AND only
    # for the round in which it was first queued. The queue is persisted so a
    # window kept saturated by each round's new additions can't exempt the
    # backlog indefinitely — r3's exact failure mode.
    queue_file = os.path.join(repo, "tools", "coverage_queue.json")
    prev_queue: dict[str, int] = {}
    if os.path.exists(queue_file):
        with open(queue_file) as fh:
            prev_queue = json.load(fh)
    queued: list[str] = []
    new_queue: dict[str, int] = {}
    n_fail = 0
    n_stale = 0
    for name in names:
        if name in window:
            continue  # will be checked in the upcoming round
        if name not in oracles:
            # no-oracle queries only ever get a rows-only check; they never
            # turn green, so a window slot is wasted on them — their
            # md5-oracle twins are the driver-checked form (VERDICT r2)
            continue
        if name in checked_round and green_round.get(name, 0) >= latest:
            continue  # green in the latest round — healthy out-of-window entry
        if name in checked_round and green_round.get(name, 0) > 0:
            # once-green, now stale: with 114 queries and a 50-slot window some
            # staleness is inevitable — warn, don't fail (VERDICT r3 item 10).
            n_stale += 1
            print(f"stale (warn)  {name}: last green r{green_round[name]}, "
                  f"last checked r{checked_round[name]}")
            continue
        # Hard-fail class: NEVER checked, or checked and never green (red).
        queued_round = prev_queue.get(name)
        if (
            name not in checked_round
            and saturated
            and (queued_round is None or queued_round >= latest)
        ):
            # brand-new query, every window slot already holds a
            # never-checked or stale entry, and it was NOT already queued
            # in an earlier round: one-round grace, not a hygiene failure.
            queued.append(name)
            new_queue[name] = queued_round if queued_round is not None else latest
            continue
        n_fail += 1
        if name not in checked_round and queued_round is not None and queued_round < latest:
            status = f"NEVER checked, queued since r{queued_round} — grace expired"
        elif name not in checked_round:
            status = "NEVER checked"
        else:
            status = f"checked r{checked_round[name]} but NEVER green"
        print(f"OUT-OF-WINDOW  {name}: {status} — move into the first {DRIVER_WINDOW} entries")
    with open(queue_file, "w") as fh:
        json.dump(new_queue, fh, indent=1, sort_keys=True)
    if queued:
        print(f"queued-new, window saturated ({len(queued)}): {', '.join(queued)} "
              f"— MUST rotate into the window next round (persisted in tools/coverage_queue.json)")
    never = [n for n in names if n in window and n not in checked_round]
    if never:
        print(f"in-window, first-ever check upcoming ({len(never)}): {', '.join(never)}")
    print(f"\ncoverage: {n_fail} out-of-window failures, {n_stale} stale warnings "
          f"(window={DRIVER_WINDOW}, {len(names)} queries, latest=r{latest})")
    return 1 if n_fail else 0


if __name__ == "__main__":
    if "--coverage" in sys.argv:
        raise SystemExit(coverage())
    raise SystemExit(main())
