"""Execution-order stability audit for the DuckDB oracles.

The skew_probe r4 red taught us the failure mode for cross-engine float
comparison: both engines are individually deterministic, but a float
aggregate's value depends on ADDITION ORDER, and order depends on the
engine's parallelism. The local mimic can be green while the driver's
DuckDB (different thread count → different partial-sum tree) rounds a
boundary-sitting value to a different 6th decimal.

This audit perturbs execution order DELIBERATELY: every oracle runs under
DuckDB threads=1, threads=4 and threads=32, and the canonical value hash of
tools/driver_check.py (floats by ``repr``, unrounded, as the driver compares
them) is compared across the three runs. A query whose oracle hash is thread-count-unstable
would eventually red in SOME driver environment — the fix is integer-exact
outputs (skew_probe's ppm bigints, time_rollup's integer grid).

Usage: python tools/oracle_order_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb

_TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(_TOOLS), _TOOLS]  # repo root, then tools/

import __spark_entry__ as entrymod  # noqa: E402
from driver_check import TABLES, value_hash  # noqa: E402


def main() -> int:
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1 and not sys.argv[1].startswith("-")
        else "/root/testdata/sf0.01"
    )
    only = set(sys.argv[2:])
    oracles = entrymod.oracle_sql()
    unstable = []
    for name, sql in oracles.items():
        if only and name not in only:
            continue
        hashes = {}
        for threads in (1, 4, 32):
            con = duckdb.connect()
            con.execute(f"pragma threads={threads}")
            for t in TABLES:
                con.execute(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")
            try:
                rows = con.execute(sql).fetch_arrow_table().to_pylist()
            except Exception as e:  # pragma: no cover - audit tool
                hashes[threads] = f"ERROR: {e}"
                continue
            finally:
                con.close()
            hashes[threads] = (len(rows), value_hash(rows))
        vals = set(map(str, hashes.values()))
        if len(vals) > 1:
            unstable.append(name)
            print(f"UNSTABLE  {name}: {hashes}")
        else:
            print(f"stable    {name}")
    print(f"\n{len(unstable)} thread-count-unstable oracles: {unstable}")
    return len(unstable)


if __name__ == "__main__":
    raise SystemExit(main())
