"""The repository's benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload job_batch --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Every file the run writes stays under
``.perfbench/`` there. Inputs are made from ``--seed`` and cached per
(seed, rows, rows per file). A run sets up ``SETUPS`` times (the first starts
the JVM, the others restart the Spark session inside it; each builds the plan
and runs warm-up work), then measures for ``--seconds``, then checks every
output. ``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` reports its per-layer metrics, measured from outside the
engine, plus the tracing overhead. A layer a workload does not run reports 0.

The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the line before it holds
the evidence (host, versions, steal %, every iteration). Spans and evidence
are also written to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("job_batch", "stream_tail")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "loongcollector_spark" / "__init__.py").is_file():
        print(f"perfbench: no loongcollector_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import harness

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    harness.prepare_env()

    wl = importlib.import_module(f"perfbench.{args.workload}").Workload(args.seed, args.seconds, bool(args.trace))
    wl.prepare()
    setup_s = []
    try:
        for i in range(harness.SETUPS):
            t0 = time.perf_counter()
            spark = harness.open_session()
            wl.setup(spark)
            setup_s.append(time.perf_counter() - t0)
            if i < harness.SETUPS - 1:
                wl.teardown()
                spark.stop()
        env = harness.env_evidence(spark)
        host0 = harness.host_cpu_times()
        res = wl.measure()
        env["steal_pct"] = harness.steal_pct(host0, harness.host_cpu_times())
    finally:
        wl.cleanup()
        harness.shutdown_jvm()

    values = res["layers"] if args.trace else {**res["metrics"], "setup_s": harness.median(setup_s)}
    unknown = set(values) - {m["name"] for m in declared}
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in declared}
    evidence = {"workload": args.workload, "seed": args.seed, "trace": args.trace, **env,
                "setup_s": setup_s, **res["evidence"]}
    harness.write_json(
        harness.WORK / "results" / f"{args.workload}-s{args.seed}-t{args.trace}.json",
        {"evidence": evidence, "metrics": metrics, "spans": res.get("spans", [])},
    )
    print(json.dumps({"evidence": evidence}, default=str))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
