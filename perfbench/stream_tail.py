"""``stream_tail``: an open loop over the streaming job,
``streaming.job.stream_pipeline`` + ``start_fanout``.

A generator thread renames pre-written parquet files of the same sequence
rows into the watched directory on a fixed schedule (``RATE`` files a second,
``ROWS_PER_FILE`` rows each, about half of the rate ``stream_capacity.py``
measures the job to sustain). It stamps each file's due time and never waits
for the job. A file's latency is the time from its due time to the commit of
the micro-batch that holds it; files are mapped to batches through the
query checkpoint's ``sources/0`` file log and batches to commit times through
the mtimes of ``commits/<batchId>``. The measured window follows ``LEAD_S``
seconds of the same offer. After the offered window the run waits
for the backlog to drain, then checks that the committed per-batch counts
equal the rows of the files each batch holds.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from pathlib import Path

from . import inputs
from .harness import (
    WORK, SETUPS, RssSampler, StageMetrics, Tracer, dir_size, fresh_dir, median, pipeline_layers,
    spark_totals, tail_percentile, tree_cpu_s,
)

ROWS_PER_FILE = 50
# files offered per second (1250 rows/s): about half of what the job kept up
# with under the same trigger on a 4-core host, 30-70 files/s (median 57.5)
# over four ramps of stream_capacity.py, two each on seeds 1 and 2
RATE = 25.0
WARM_S = 4.0  # per set-up, seconds of the same open-loop offer
# seconds of offer before the measured window, so it starts with batches of
# the steady size rather than one file after an idle query
LEAD_S = 4.0
# a micro-batch every TRIGGER_S seconds, so a batch holds the files of one
# interval whatever the last batch took, and batch-time noise is not fed back
# into the next batch's size as it is with a 0-second trigger
TRIGGER_S = 2.0
TRIGGER = f"{TRIGGER_S:g} seconds"
DRAIN_S = 60.0  # longest wait for the backlog after the offered window


def batch_of_files(ck: Path) -> dict[str, int]:
    """File name → micro-batch id, from the file source's metadata log."""
    out: dict[str, int] = {}
    log = ck / "sources" / "0"
    if not log.is_dir():
        return out
    for f in log.iterdir():
        if f.name.startswith(".") or f.suffix == ".tmp":
            continue
        try:
            lines = f.read_text().splitlines()[1:]
        except OSError:
            continue
        for line in lines:
            if line.strip():
                e = json.loads(line)
                out.setdefault(os.path.basename(e["path"]), e["batchId"])
    return out


def commit_times(ck: Path) -> dict[int, float]:
    d = ck / "commits"
    if not d.is_dir():
        return {}
    return {int(f.name): f.stat().st_mtime for f in d.iterdir() if f.name.isdigit()}


class Workload:
    name = "stream_tail"

    def __init__(self, seed: int, seconds: float, trace: bool) -> None:
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.root = WORK / self.name
        self.build_s: list[float] = []
        self.query = None
        self.n_window = math.ceil(seconds * RATE)

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        n_warm = math.ceil(WARM_S * RATE)
        n_lead = math.ceil(LEAD_S * RATE)
        n_files = self.n_window + SETUPS * n_warm + n_lead
        table = inputs.sequences(n_files * ROWS_PER_FILE, self.seed, rows_per_file=ROWS_PER_FILE)
        files = sorted(table.glob("*.parquet"))
        self.rows = {f.name: pq.read_metadata(f).num_rows for f in files}
        self.tokens = {f.name: sum(pq.read_table(f, columns=["n_tok"]).column(0).to_pylist()) for f in files}
        self.warm = [files[i * n_warm:(i + 1) * n_warm] for i in range(SETUPS)]
        self.lead = files[SETUPS * n_warm:SETUPS * n_warm + n_lead]
        self.window = files[SETUPS * n_warm + n_lead:]
        fresh_dir(self.root)

    # -- set-up: plan build, query start, warm-up micro-batches ----------------

    def setup(self, spark) -> None:
        from loongcollector_spark.streaming.job import start_fanout, stream_pipeline

        self.spark = spark
        n = len(self.build_s)
        self.dir = fresh_dir(self.root / f"q{n}")
        self.watch = self.dir / "in"
        self.watch.mkdir()
        self.ck = self.dir / "ck"
        t0 = time.perf_counter()
        routed = stream_pipeline(spark, str(self.watch))
        self.build_s.append(time.perf_counter() - t0)
        self.query = start_fanout(routed, str(self.dir / "out"), str(self.ck), processing_time=TRIGGER)
        self.offered = [f.name for f in self.warm[n]]
        gen, _, _ = self.offer_open_loop(self.warm[n], RATE)
        gen.join()
        if not self.wait_committed(self.offered, DRAIN_S):
            raise RuntimeError("the warm-up files were not committed")

    def teardown(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def wait_committed(self, names, timeout: float) -> bool:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if self.query.exception() is not None:
                raise RuntimeError(str(self.query.exception()))
            batches = batch_of_files(self.ck)
            done = commit_times(self.ck)
            if all(batches.get(n) in done for n in names):
                return True
            time.sleep(0.02)
        return False

    # -- timed phase: open-loop generator -------------------------------------

    def offer_open_loop(self, files: list[Path], rate: float):
        """Start a thread that renames ``files`` into the watched directory at
        ``rate`` files a second and never waits for the job. Returns the
        thread and the due time and lateness of each file, filled as it runs."""
        pending = fresh_dir(self.dir / "pending")
        for f in files:
            os.link(f, pending / f.name)
        due: dict[str, float] = {}
        late: list[float] = []

        def generate():
            t0 = time.time() + 0.05
            for j, f in enumerate(files):
                d = t0 + j / rate
                while (now := time.time()) < d:
                    time.sleep(min(0.005, d - now))
                os.rename(pending / f.name, self.watch / f.name)
                late.append(time.time() - d)
                due[f.name] = d

        gen = threading.Thread(target=generate, name="perfbench-generator")
        gen.start()
        return gen, due, late

    def measure(self) -> dict:
        metrics = StageMetrics(self.spark) if self.trace else None
        self.offered += [f.name for f in self.lead]
        gen, due, late = self.offer_open_loop(self.lead + self.window, RATE)
        while self.window[0].name not in due and gen.is_alive():
            time.sleep(0.002)
        first_stage = metrics.last_stage_id() if metrics else -1
        c0 = tree_cpu_s()
        with RssSampler() as rss:
            gen.join()
            drained = self.wait_committed([f.name for f in self.window], DRAIN_S)
        cpu = tree_cpu_s() - c0
        progress = list(self.query.recentProgress)
        self.teardown()
        # the stream's stages, taken before the ledger check below runs its own
        stream_stages = metrics.stages(after=first_stage) if metrics else []

        batches, commits = batch_of_files(self.ck), commit_times(self.ck)
        names = [f.name for f in self.window]
        lat = [commits[batches[n]] - due[n] for n in names if batches.get(n) in commits]
        win_batches = {batches[n] for n in names if n in batches}
        win_progress = [p for p in progress if p.batchId in win_batches]
        durs = [p.durationMs["triggerExecution"] / 1e3 for p in win_progress]
        committed = [n for n in names if batches.get(n) in commits]
        span_s = max(commits[batches[n]] for n in committed) - due[names[0]] if committed else 0.0
        batch_tokens = sum(self.tokens[n] for n, b in batches.items() if b in win_batches)
        failed = len(names) - len(committed) + self._count_mismatches(batches)
        out = {
            "attempted": len(names),
            "failed": min(failed, len(names)),
            "evidence": {"drained": drained, "batches": len(win_batches), "gen_late_max_s": max(late[len(self.lead):]),
                         "rss": {"peak_mb": rss.peak_mb, **rss.at_peak}},
        }
        if not self.trace:
            out["metrics"] = {
                "job_s": median(durs),
                "toks_per_s": batch_tokens / sum(durs) if durs else 0.0,
                "cpu_s": cpu,
                "commit_lat_p50_s": median(lat),
                "commit_lat_p90_s": tail_percentile(lat),
                "rows_per_s": sum(self.rows[n] for n in committed) / span_s if span_s else 0.0,
            }
            return out

        # per-layer: the query's own progress records (what a
        # StreamingQueryListener would receive), read after the window, so
        # nothing is attached while it runs
        def dm(key):
            return median(p.durationMs.get(key, 0) / 1e3 for p in win_progress)

        events = sorted([(due[n], 1) for n in names] + [(commits[batches[n]], -1) for n in committed])
        backlog, peak = 0, 0
        for _, step in events:
            backlog += step
            peak = max(peak, backlog)
        layers = {
            "stream.batch_s": dm("triggerExecution"),
            "stream.add_batch_s": dm("addBatch"),
            "stream.plan_s": dm("queryPlanning"),
            "stream.wal_s": dm("walCommit"),
            "stream.batches": float(len(win_batches)),
            "stream.rows_per_batch": median(
                sum(self.rows[n] for n, nb in batches.items() if nb == b) for b in win_batches
            ),
            "stream.backlog_files": float(peak),
            "stream.gen_late_s": max(late[len(self.lead):]),
            "pipeline.build_s": median(self.build_s),
            "io.input_mb": sum(f.stat().st_size for f in self.window) / 2**20,
            "process.peak_rss_mb": rss.peak_mb,
        }
        layers["io.output_mb"], n_files = dir_size(self.dir / "out" / "sinks")
        layers["io.output_files"] = float(n_files)
        layers.update(spark_totals(stream_stages))
        # layer self times of the micro-batch plan (decode → parse → route),
        # over a static read of the window's files
        from loongcollector_spark.schema import SEQUENCE_SCHEMA

        tracer = Tracer(self.spark.sparkContext)
        scan = self.spark.read.schema(SEQUENCE_SCHEMA).parquet(*[str(f) for f in self.window])
        layers.update(pipeline_layers(self.spark, tracer, scan)[1])
        out["layers"] = layers
        out["spans"] = tracer.spans
        return out

    def _count_mismatches(self, batches: dict[str, int]) -> int:
        """Files whose micro-batch committed a row count other than the rows
        of the files it holds."""
        from pyspark.sql import functions as F

        ledger = self.spark.read.parquet(str(self.dir / "out" / "counts"))
        got = {r["batch_id"]: r["n"] for r in ledger.groupBy("batch_id").agg(F.sum("n_rows").alias("n")).collect()}
        want: dict[int, int] = {}
        for n in self.offered + [f.name for f in self.window]:
            if n in batches:
                want[batches[n]] = want.get(batches[n], 0) + self.rows[n]
        return sum(1 for n, b in batches.items() if got.get(b) != want.get(b))

    def cleanup(self) -> None:
        self.teardown()
        import shutil

        shutil.rmtree(self.root, ignore_errors=True)
