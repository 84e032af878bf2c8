"""Measure the rate the streaming job sustains, from which ``stream_tail``'s
offered rate (``stream_tail.RATE``, about half of it) is set.

    python3 perfbench/stream_capacity.py --seed 1

Run from the root of a checkout. It sets the stream up as ``stream_tail``
does, with the same trigger interval, then offers the same kind of files
open loop in steps of rising rate, letting the job drain between steps. A
step keeps up when its median micro-batch finishes within the trigger
interval and its last file is committed within one interval plus one batch
of the offer's end; above that rate batches outgrow the interval and the
backlog grows. The script prints each step and the highest rate kept up.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--rates", default="10,20,30,40,50,55,60,70", help="files per second, one step each")
    ap.add_argument("--step-seconds", type=float, default=8.0)
    args = ap.parse_args(argv)
    sys.path.insert(0, str(ROOT))
    from perfbench import harness
    from perfbench.stream_tail import DRAIN_S, ROWS_PER_FILE, TRIGGER_S, Workload, batch_of_files, commit_times

    rates = [float(r) for r in args.rates.split(",")]
    counts = [int(r * args.step_seconds) for r in rates]
    harness.prepare_env()
    wl = Workload(args.seed, args.step_seconds, trace=False)
    wl.n_window = sum(counts)
    wl.prepare()
    steps = []
    try:
        wl.setup(harness.open_session())
        files = list(wl.window)
        host0 = harness.host_cpu_times()
        for rate, n in zip(rates, counts):
            step, files = files[:n], files[n:]
            gen, due, _ = wl.offer_open_loop(step, rate)
            gen.join()
            names = [f.name for f in step]
            if not wl.wait_committed(names, DRAIN_S):
                raise RuntimeError(f"step at {rate} files/s did not drain")
            batches, commits = batch_of_files(wl.ck), commit_times(wl.ck)
            ids = {batches[n] for n in names}
            batch_s = [p.durationMs["triggerExecution"] / 1e3 for p in wl.query.recentProgress if p.batchId in ids]
            last = max(commits[b] for b in ids)
            steps.append({
                "rate": rate, "files": n, "batches": len(ids),
                "median_files_per_batch": harness.median(sum(batches[m] == b for m in names) for b in ids),
                "median_batch_s": harness.median(batch_s),
                "max_batch_s": max(batch_s),
                "drain_after_offer_s": last - max(due.values()),
            })
            st = steps[-1]
            st["kept_up"] = st["median_batch_s"] <= TRIGGER_S and st["drain_after_offer_s"] <= TRIGGER_S + st["max_batch_s"]
            print(json.dumps(steps[-1]), flush=True)
    finally:
        wl.cleanup()
        harness.shutdown_jvm()

    print(json.dumps({
        "seed": args.seed, "nproc": harness.NPROC, "rows_per_file": ROWS_PER_FILE,
        "trigger_s": TRIGGER_S, "steal_pct": harness.steal_pct(host0, harness.host_cpu_times()),
        "sustained_files_per_s": max((s["rate"] for s in steps if s["kept_up"]), default=None),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
