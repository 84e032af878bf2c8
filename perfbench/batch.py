"""Plumbing of the closed-loop batch workload: the timed loop, stage-commit
latencies read from the checkpoint log, and the traced wrappers around the
``checkpoint`` layer."""

from __future__ import annotations

import time
from contextlib import contextmanager
from pathlib import Path

from .harness import RssSampler, Tracer, median, tail_percentile, tree_cpu_s

MIN_ITERATIONS = 2


def timed_loop(run_once, seconds: float, min_iterations: int = MIN_ITERATIONS) -> dict:
    """Run ``run_once(i)`` back to back until ``seconds`` have passed and at
    least ``min_iterations`` ran. Each iteration records its wall time, the
    JVM's CPU seconds, and its wall-clock start (for commit latencies)."""
    iters = []
    with RssSampler() as rss:
        t_start = time.perf_counter()
        while len(iters) < min_iterations or time.perf_counter() - t_start < seconds:
            i = len(iters)
            c0, w0, t0 = tree_cpu_s(), time.time(), time.perf_counter()
            out = run_once(i)
            t1 = time.perf_counter()
            iters.append({"i": i, "job_s": t1 - t0, "cpu_s": tree_cpu_s() - c0, "start": w0, "out": out})
        window = time.perf_counter() - t_start
    return {"iters": iters, "window_s": window, "rss": {"peak_mb": rss.peak_mb, **rss.at_peak}}


def commit_latencies(out_root: Path, run_id: str, start: float) -> list[float]:
    """Seconds from the job's start to each stage's checkpoint commit, read
    from the mtimes of the checkpoint log's records."""
    ck = Path(out_root) / "_checkpoint"
    return [
        f.stat().st_mtime - start
        for f in ck.glob(f"{run_id}__*.json")
    ]


def batch_end_to_end(loop: dict, rows: int, tokens: int, out_root_of) -> dict:
    iters = loop["iters"]
    lats = [x for it in iters for x in commit_latencies(out_root_of(it["i"]), f"it{it['i']}", it["start"])]
    return {
        "job_s": median(it["job_s"] for it in iters),
        "toks_per_s": median(tokens / it["job_s"] for it in iters),
        "cpu_s": median(it["cpu_s"] for it in iters),
        "commit_lat_p50_s": median(lats),
        "commit_lat_p90_s": tail_percentile(lats),
        "rows_per_s": rows * len(iters) / loop["window_s"],
    }


@contextmanager
def traced_checkpoint(tracer: Tracer, metrics):
    """Wrap ``ResumableRun.stage`` (and the stage body it runs),
    ``file_lineage`` and ``plans.job``'s ``partition_lineage`` in spans, and
    sample the persisted-plan size when each stage starts. Restores the
    originals on exit."""
    import loongcollector_spark.checkpoint as ck
    import loongcollector_spark.plans.job as pj

    orig_stage, orig_file, orig_part = ck.ResumableRun.stage, ck.file_lineage, pj.partition_lineage
    seen = {"persist_mb": 0.0}

    def stage(self, name, fn):
        seen["persist_mb"] = max(seen["persist_mb"], metrics.persisted_mb())

        def timed_fn(inprog):
            with tracer.span("stage.fn", stage=name):
                return fn(inprog)

        with tracer.span("checkpoint.stage", stage=name):
            return orig_stage(self, name, timed_fn)

    def file_lineage(*a, **kw):
        with tracer.span("lineage.file"):
            return orig_file(*a, **kw)

    def partition_lineage(*a, **kw):
        with tracer.span("lineage.partition"):
            return orig_part(*a, **kw)

    ck.ResumableRun.stage, ck.file_lineage, pj.partition_lineage = stage, file_lineage, partition_lineage
    try:
        yield seen
    finally:
        ck.ResumableRun.stage, ck.file_lineage, pj.partition_lineage = orig_stage, orig_file, orig_part


def traced_loop(run_plain, tracer: Tracer, metrics, seconds: float) -> dict:
    """The timed loop with every other pair of iterations traced (untraced,
    traced, traced, untraced, ...), so warm-up drift cancels out of the
    tracing overhead. Returns the loop, the untraced median ``job_s``, the
    overhead, and the span id and persisted-plan size of the last traced
    iteration."""
    traced = []

    def run_once(i):
        if i % 4 not in (1, 2):
            return run_plain(i)
        with traced_checkpoint(tracer, metrics) as seen, tracer.span("iteration", i=i) as sp:
            res = run_plain(i)
        traced.append((sp["id"], seen["persist_mb"]))
        return res

    loop = timed_loop(run_once, seconds, min_iterations=4)
    plain = median(it["job_s"] for it in loop["iters"] if it["i"] % 4 not in (1, 2))
    with_trace = median(it["job_s"] for it in loop["iters"] if it["i"] % 4 in (1, 2))
    return {**loop, "plain_s": plain, "overhead_s": with_trace - plain,
            "last_id": traced[-1][0], "persist_mb": traced[-1][1]}


def checkpoint_layers(tracer: Tracer, root_id: int) -> dict:
    """Self times of the sink writes, commits and lineage under one traced
    iteration. A stage's commit time is its span minus its body and the file
    lineage it derives; partition lineage runs inside a stage body."""
    ids = tracer.subtree(root_id)

    def under(name, pred=lambda s: True):
        return [s for s in tracer.find(name) if s["id"] in ids and pred(s)]

    def dur(spans):
        return sum(s["end"] - s["start"] for s in spans)

    is_sink = lambda s: s["stage"].startswith("sink_")  # noqa: E731
    stage_s = dur(under("checkpoint.stage"))
    fn_s = dur(under("stage.fn"))
    file_s = dur(under("lineage.file"))
    part_s = dur(under("lineage.partition"))
    return {
        "io.write_s": dur(under("stage.fn", lambda s: s["stage"] != "counts")),
        "checkpoint.commit_s": stage_s - fn_s - file_s,
        "checkpoint.lineage_s": file_s + part_s,
        "job.sink_stage_s": dur(under("checkpoint.stage", is_sink)),
        "job.counts_stage_s": dur(under("checkpoint.stage", lambda s: s["stage"] == "counts")),
    }

