"""``job_batch``: the deployed checkpointed job, ``plans.job.run_job``, with a
fresh ``run_id`` per iteration (closed loop, one job at a time).

Each iteration decodes, parses per source (70% nginx regex), enriches by
broadcast lookup, routes, persists the routed plan, commits the 4
salted-repartitioned sinks, then the counts and lineage stage. Outputs are
checked against ``oracle.run_pipeline`` on the same rows after the timed
loop.
"""

from __future__ import annotations

from collections import Counter

import shutil
import time

from . import inputs, token_layers
from .batch import batch_end_to_end, checkpoint_layers, timed_loop, traced_loop
from .harness import (
    WORK, StageMetrics, Tracer, dir_size, fresh_dir, median, pipeline_layers, spans_stages,
    spark_totals, task_skew,
)

ROWS = 20_000
SAMPLE_EVERY = 499  # token arrays are compared on every 499th row


class Workload:
    name = "job_batch"

    def __init__(self, seed: int, seconds: float, trace: bool) -> None:
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.root = WORK / self.name
        self.build_s: list[float] = []

    # -- inputs and expected outputs (outside every timed region) -----------

    def prepare(self) -> None:
        from loongcollector_spark.oracle import run_pipeline
        from loongcollector_spark.plans.pipeline import DELIM_KEYS, NGINX_KEYS, NGINX_REGEX

        self.path = inputs.sequences(ROWS, self.seed)
        rows = inputs.rows(ROWS, self.seed)
        self.tokens = sum(r[2] for r in rows)
        routed = run_pipeline(rows, NGINX_REGEX, list(NGINX_KEYS), list(DELIM_KEYS), enrich=True)
        sinks: dict[str, list[int]] = {}
        ok: Counter = Counter()
        for r in routed:
            c = sinks.setdefault(r["route"], [0, 0])
            c[0] += 1
            c[1] += r["n_tok"]
            ok[r["source"]] += int(r["parse_ok"])
        self.expect_sinks = {k: tuple(v) for k, v in sinks.items()}
        self.expect_ok = dict(ok)
        self.expect_sample = {r[0]: bytes(r[1]) for r in rows[::SAMPLE_EVERY]}
        fresh_dir(self.root)

    # -- set-up: plan build and one warm-up job -------------------------------

    def setup(self, spark) -> None:
        from loongcollector_spark.plans.pipeline import build_pipeline, default_enrich
        from loongcollector_spark.sources.io import read_sequences

        self.spark = spark
        t0 = time.perf_counter()
        build_pipeline(read_sequences(spark, str(self.path)), enrich=default_enrich(spark))
        self.build_s.append(time.perf_counter() - t0)
        self._run(f"warm{len(self.build_s)}", self.root / f"warm{len(self.build_s)}")

    def teardown(self) -> None:
        pass

    def _run(self, run_id: str, out_root) -> dict:
        from loongcollector_spark.plans.job import run_job

        return run_job(self.spark, str(self.path), str(out_root), run_id)

    def out_root(self, i: int):
        return self.root / f"it{i}"

    # -- timed phase ----------------------------------------------------------

    def measure(self) -> dict:
        if self.trace:
            return self._measure_traced()
        loop = timed_loop(lambda i: self._run(f"it{i}", self.out_root(i)), self.seconds)
        failed = sum(not self.check(it["out"]) for it in loop["iters"])
        return {
            "metrics": batch_end_to_end(loop, ROWS, self.tokens, self.out_root),
            "attempted": len(loop["iters"]),
            "failed": failed,
            "evidence": {"job_s": [it["job_s"] for it in loop["iters"]], "rss": loop["rss"]},
        }

    def _measure_traced(self) -> dict:
        from loongcollector_spark.sources.io import read_sequences

        spark = self.spark
        metrics = StageMetrics(spark)
        tracer = Tracer(spark.sparkContext)
        loop = traced_loop(lambda i: self._run(f"it{i}", self.out_root(i)), tracer, metrics, self.seconds)
        iters = loop["iters"]
        failed = sum(not self.check(it["out"]) for it in iters)

        # layers of the last traced iteration, from its spans and the status store
        last = loop["last_id"]
        groups, stages = metrics.stage_ids_by_group(), metrics.stages()
        ids = tracer.subtree(last)
        sink_fn_ids = [s["id"] for s in tracer.find("stage.fn") if s["id"] in ids and s["stage"].startswith("sink_")]
        sink_stages = spans_stages(tracer, groups, stages, [j for k in sink_fn_ids for j in tracer.subtree(k)])
        layers = checkpoint_layers(tracer, last)
        layers.update(spark_totals(spans_stages(tracer, groups, stages, ids)))
        layers["aggregate.shuffle_write_mb"] = sum(s["shuffle_write"] for s in sink_stages) / 2**20
        layers["aggregate.task_skew"] = task_skew(metrics, sink_stages)
        layers["job.persist_mb"] = loop["persist_mb"]
        layers["process.peak_rss_mb"] = loop["rss"]["peak_mb"]
        out_mb, out_files = 0.0, 0
        for p in iters[-1]["out"]["sinks"].values():
            mb, n = dir_size(p)
            out_mb, out_files = out_mb + mb, out_files + n
        layers["io.output_mb"], layers["io.output_files"] = out_mb, float(out_files)
        layers["io.input_mb"] = inputs.on_disk_mb(self.path)

        # a fully resumed rerun of the last iteration: every stage is committed
        t0 = time.perf_counter()
        res = self._run(f"it{iters[-1]['i']}", self.out_root(iters[-1]["i"]))
        layers["checkpoint.resume_s"] = time.perf_counter() - t0
        failed += bool(res["executed"]) or not self.check(res)

        # per-layer self times by prefix materialization of the public stages
        self_s, chain = pipeline_layers(spark, tracer, read_sequences(spark, str(self.path)), enrich=True, aggregate=True)
        layers.update(chain)
        layers.update(token_layers.measure(spark, tracer, metrics, self.seed))
        layers.update({
            "pipeline.build_s": median(self.build_s),
            "trace.overhead_s": loop["overhead_s"],
            "trace.remainder_s": loop["plain_s"] - sum(self_s.values()) - layers["job.sink_stage_s"] - layers["job.counts_stage_s"],
        })
        return {
            "layers": layers,
            "attempted": len(iters) + 1,
            "failed": failed,
            "evidence": {"job_s": [it["job_s"] for it in iters], "self_s": self_s, "rss": loop["rss"]},
            "spans": tracer.spans,
        }

    # -- correctness ----------------------------------------------------------

    def check(self, res: dict) -> bool:
        """Per-sink rows and tokens, per-source parse-ok counts, and the token
        payload of sampled rows, against the oracle."""
        from pyspark.sql import functions as F

        counts = {k: (v["n_rows"], v["n_tok_sum"]) for k, v in res["counts"].items()}
        if counts != self.expect_sinks:
            return False
        df = self.spark.read.parquet(*res["sinks"].values())
        got = {}
        for r in df.groupBy("route", "source").agg(
            F.count(F.lit(1)).alias("n"), F.sum("n_tok").alias("t"), F.sum(F.col("_parse_ok").cast("long")).alias("ok")
        ).collect():
            got[(r["route"], r["source"])] = (r["n"], r["t"], r["ok"])
        per_sink: dict[str, list[int]] = {}
        ok: Counter = Counter()
        for (route, source), (n, t, k) in got.items():
            c = per_sink.setdefault(route, [0, 0])
            c[0] += n
            c[1] += t
            ok[source] += k
        if {k: tuple(v) for k, v in per_sink.items()} != self.expect_sinks or dict(ok) != self.expect_ok:
            return False
        sample = df.filter(F.col("doc_id").isin(list(self.expect_sample))).select("doc_id", "content").collect()
        return len(sample) == len(self.expect_sample) and all(
            r["content"].encode("utf-8") == self.expect_sample[r["doc_id"]] for r in sample
        )

    def cleanup(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

