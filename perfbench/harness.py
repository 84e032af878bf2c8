"""Shared measurement plumbing for the workloads in this directory.

Everything here observes the engine from outside: the process tree's CPU and
memory through ``/proc``, Spark's status store through the SparkContext, and
wall clocks around calls into the engine's public functions. Nothing in the
``loongcollector_spark`` package is changed to be measured.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
NPROC = len(os.sched_getaffinity(0))

# Input tables are written with FILES_PER_CORE files per core. The session
# keeps get_spark's own split sizing, which may pack small files together.
FILES_PER_CORE = 3
# Set-ups per run: the first starts the JVM, the others restart the session
# inside it; setup_s is their median.
SETUPS = 2


def prepare_env() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let Python workers import the package under test.

    These are the only settings the benchmark chooses for the engine. Left
    alone, ``get_spark`` puts shuffle and spill on ``/dev/shm`` when that
    tmpfs holds 16 GB or more, else in Spark's default under the JVM's
    ``java.io.tmpdir``; both are outside the checkout. The local dir here is
    on the checkout's disk, the medium the default gives on smaller hosts.
    ``-XX:-UsePerfData`` stops the JVM writing ``hsperfdata`` under ``/tmp``.
    """
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail_percentile(xs) -> float:
    """The highest percentile, up to p90, with at least ten samples beyond it.
    With fewer than 20 samples no percentile above the median has ten beyond,
    so the median is reported."""
    xs = sorted(xs)
    n = len(xs)
    p = min(0.9, 1.0 - 10.0 / n) if n else 0.0
    if p <= 0.5:
        return median(xs)
    return float(statistics.quantiles(xs, n=100, method="inclusive")[int(p * 100) - 1])


# ---------------------------------------------------------------------------
# process tree: CPU seconds and resident memory of the JVM and Python workers
# ---------------------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name: [0] is the state,
    [1] the parent pid, [11:15] utime, stime, cutime, cstime."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()


def descendants(root: int | None = None) -> list[int]:
    """All processes below ``root`` (default: this process), not ``root``."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds of every descendant and their reaped children: the JVM and
    any Python workers. This process is left out, so the benchmark's own
    sampling is not counted."""
    total = 0
    for pid in descendants():
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _CLK


def tree_pss_mb() -> dict[int, float]:
    """Resident memory of this process and every descendant, each counted as
    its proportional set size, so pages shared by forked workers count once."""
    out = {}
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        out[pid] = int(line.split()[1]) / 1024
                        break
        except OSError:
            pass
    return out


class RssSampler:
    """Peak resident memory of the process tree while active, and how it was
    made up at the peak: the largest process (the JVM) and the count of
    processes."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self.at_peak: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        pss = tree_pss_mb()
        total = sum(pss.values())
        if total > self.peak_mb:
            self.peak_mb = total
            self.at_peak = {"largest_mb": max(pss.values()), "procs": len(pss)}

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def host_cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return 100.0 * d[7] / total if total and len(d) > 7 else 0.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (id, name, parent, start, end, attributes), written out
    when the run ends. With a SparkContext, each span also tags the Spark jobs
    it starts with the job group ``span-<id>``, so the status store can
    attribute stages to the innermost span that ran them."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self.sc is not None:
            self.sc.setJobGroup(f"span-{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                parent = f"span-{self._stack[-1]}" if self._stack else None
                self.sc.setLocalProperty("spark.jobGroup.id", parent)

    def find(self, name: str, **match) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None
                and all(s.get(k) == v for k, v in match.items())]

    def subtree(self, span_id: int) -> set[int]:
        ids = {span_id}
        for s in self.spans:  # children always follow their parent
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids


# ---------------------------------------------------------------------------
# Spark session lifecycle
# ---------------------------------------------------------------------------


def open_session():
    from loongcollector_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=NPROC)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the session, then the JVM and every process under it, and wait."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    pids = descendants()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in pids:
        while time.monotonic() < deadline:
            f = _stat_fields(pid)
            if f is None or f[0] == "Z":
                break
            time.sleep(0.05)
        f = _stat_fields(pid)
        if f is not None and f[0] != "Z":
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def env_evidence(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": NPROC,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
    }


# ---------------------------------------------------------------------------
# Spark status store (stage task metrics)
# ---------------------------------------------------------------------------


class StageMetrics:
    """Stage-level task metrics read from the SparkContext's status store."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()

    def stages(self, after: int = -1) -> list[dict]:
        """Every retained stage with an id above ``after``."""
        jvm = self._gw.jvm
        seq = self._store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        out = []
        for i in range(seq.size()):
            s = seq.apply(i)
            if s.stageId() <= after:
                continue
            out.append({
                "stage": s.stageId(), "attempt": s.attemptId(), "tasks": s.numCompleteTasks(),
                "run_ms": s.executorRunTime(), "cpu_ns": s.executorCpuTime(),
                "gc_ms": s.jvmGcTime(), "shuffle_write": s.shuffleWriteBytes(),
                "shuffle_read": s.shuffleReadBytes(),
                "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            })
        return out

    def last_stage_id(self) -> int:
        return max((s["stage"] for s in self.stages()), default=-1)

    def stage_ids_by_group(self) -> dict[str, set[int]]:
        """Stage ids of every retained job, keyed by the job's group."""
        seq = self._store.jobsList(self._gw.jvm.java.util.ArrayList())
        out: dict[str, set[int]] = {}
        for i in range(seq.size()):
            j = seq.apply(i)
            if j.jobGroup().isDefined():
                ids = j.stageIds()
                out.setdefault(j.jobGroup().get(), set()).update(ids.apply(k) for k in range(ids.size()))
        return out

    def task_ms(self, stage: int, attempt: int) -> list[float]:
        seq = self._store.taskList(stage, attempt, 1 << 30)
        out = []
        for i in range(seq.size()):
            m = seq.apply(i).taskMetrics()
            if m.isDefined():
                out.append(float(m.get().executorRunTime()))
        return out

    def persisted_mb(self) -> float:
        """Memory plus disk held by persisted RDDs right now."""
        return sum(r.memSize() + r.diskSize() for r in self._sc.getRDDStorageInfo()) / 2**20


def spans_stages(tracer: Tracer, groups: dict[str, set[int]], stages: list[dict], span_ids) -> list[dict]:
    """The stages run by jobs started inside any of ``span_ids``."""
    ids: set[int] = set()
    for sid in span_ids:
        ids |= groups.get(f"span-{sid}", set())
    return [s for s in stages if s["stage"] in ids]


def spark_totals(stages: list[dict]) -> dict:
    return {
        "spark.executor_run_s": sum(s["run_ms"] for s in stages) / 1e3,
        "spark.executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "spark.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "spark.spill_mb": sum(s["spill"] for s in stages) / 2**20,
        "spark.tasks": float(sum(s["tasks"] for s in stages)),
    }


def task_skew(metrics: StageMetrics, stages: list[dict]) -> float:
    """max ÷ median task time of the busiest stage that reads a shuffle."""
    reduce_side = [s for s in stages if s["shuffle_read"] > 0 and s["tasks"] > 0]
    if not reduce_side:
        return 0.0
    s = max(reduce_side, key=lambda s: s["run_ms"])
    ms = metrics.task_ms(s["stage"], s["attempt"])
    med = median(ms)
    return max(ms) / med if med > 0 else 0.0


# ---------------------------------------------------------------------------
# layer self times by cumulative prefix materialization
# ---------------------------------------------------------------------------


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def prefix_self_times(tracer: Tracer, prefixes: list[tuple[str, object]], observe: dict | None = None) -> dict[str, float]:
    """Cumulative prefix materialization: each ``(layer, df)`` is the plan up
    to and including that layer, run once into the ``noop`` sink after the
    timed iterations have warmed the engine. A layer's self time is its
    prefix's time minus that of the prefix before it, so a layer cheaper than
    the run-to-run noise can read slightly negative. ``observe`` maps a layer
    to an ``Observation`` and the expressions it counts at that boundary."""
    out, prev = {}, 0.0
    for name, df in prefixes:
        if observe and name in observe:
            obs, exprs = observe[name]
            df = df.observe(obs, *exprs)
        with tracer.span("prefix", layer=name) as sp:
            noop(df)
        cur = sp["end"] - sp["start"]
        out[name] = cur - prev
        prev = cur
    return out


def pipeline_layers(spark, tracer: Tracer, scan, enrich: bool = False, aggregate: bool = False) -> tuple[dict, dict]:
    """Self times of the pipeline's public stages over ``scan``: decode →
    parse → (enrich) → route → (sink counts), with ``observe`` counters at
    the parse and route boundaries. Returns the self times by layer and the
    per-layer metrics they give."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from loongcollector_spark.codec import with_content
    from loongcollector_spark.operators.aggregate import sink_counts
    from loongcollector_spark.operators.parse import PARSE_OK
    from loongcollector_spark.operators.route import route_rows
    from loongcollector_spark.plans.pipeline import DEFAULT_PARSERS, DEFAULT_ROUTES, default_enrich, parse_by_source

    chain = [("scan", scan), ("decode", with_content(scan))]
    chain.append(("parse", parse_by_source(chain[-1][1], DEFAULT_PARSERS)))
    if enrich:
        chain.append(("enrich", default_enrich(spark)(chain[-1][1])))
    routed = route_rows(chain[-1][1], DEFAULT_ROUTES, source_key="source", default_sink="sink_default")
    chain.append(("route", routed))
    if aggregate:
        chain.append(("aggregate", sink_counts(routed)))
    obs_parse, obs_route = Observation("parse"), Observation("route")
    self_s = prefix_self_times(tracer, chain, observe={
        "parse": (obs_parse, [F.count(F.lit(1)).alias("n"), F.sum(F.col(PARSE_OK).cast("long")).alias("ok")]),
        "route": (obs_route, [F.count(F.col("route")).alias("routed")]),
    })
    p = obs_parse.get
    layers = {
        "io.scan_s": self_s["scan"],
        "codec.decode_s": self_s["decode"],
        "parse.self_s": self_s["parse"],
        "parse.ok_frac": p["ok"] / p["n"],
        "route.self_s": self_s["route"],
        "route.sink_rows": float(obs_route.get["routed"]),
    }
    if enrich:
        layers["enrich.self_s"] = self_s["enrich"]
    if aggregate:
        layers["aggregate.sink_counts_s"] = self_s["aggregate"]
    return self_s, layers


def dir_size(path) -> tuple[float, int]:
    """(MB, data files) under a sink directory, ignoring checksums/markers."""
    mb, files = 0, 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                mb += os.path.getsize(os.path.join(dp, f))
                files += 1
    return mb / 2**20, files


def write_json(path: Path, obj) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, default=str)
