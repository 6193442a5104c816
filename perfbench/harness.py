"""Measurement plumbing for the on-box benchmark: the Spark session
factory, the per-job-group status-store reader, spans, the /proc RSS
sampler, host run conditions and the tail-percentile rule.

Nothing here knows about a workload; ``workloads.py`` drives it."""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import contextmanager
from fractions import Fraction

# ------------------------------------------------------------- statistics --


def _rank(pct: float, n: int) -> int:
    """1-based nearest-rank index of percentile ``pct`` among ``n``
    samples, in exact arithmetic (``99.9 / 100 * 10000`` is not 9990 in
    binary floating point)."""
    return max(1, math.ceil(Fraction(str(pct)) * n / 100))


TAIL_LADDER = (99.9, 99, 90, 50)
MIN_BEYOND = 10


def tail_percentile(samples):
    """The highest percentile of ``TAIL_LADDER`` that has at least
    ``MIN_BEYOND`` samples beyond it, as ``(pct, value)``; ``(None,
    None)`` when even the median lacks that many. Values are nearest-rank
    order statistics, so they are always observed samples."""
    xs = sorted(samples)
    n = len(xs)
    for pct in TAIL_LADDER:
        if n and n - _rank(pct, n) >= MIN_BEYOND:
            return pct, xs[_rank(pct, n) - 1]
    return None, None


def quantile(samples, pct: float) -> float:
    """Nearest-rank percentile (0 for an empty list)."""
    xs = sorted(samples)
    return xs[_rank(pct, len(xs)) - 1] if xs else 0.0


def median(samples) -> float:
    return statistics.median(samples) if samples else 0.0


# -------------------------------------------------------------- host facts --


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class HostConditions:
    """Steal share and load average over a run, from ``/proc`` only (no
    spin probe). A run-condition record, not a metric."""

    def __init__(self):
        self.before = self._snap()

    @staticmethod
    def _snap() -> dict:
        with open("/proc/loadavg") as fh:
            load = [float(x) for x in fh.read().split()[:3]]
        return {"cpu": _cpu_times(), "loadavg": load}

    def finish(self) -> dict:
        after = self._snap()
        delta = [b - a for a, b in zip(self.before["cpu"], after["cpu"])]
        total = sum(delta[:8])  # user..steal; guest is inside user
        steal = delta[7] if len(delta) > 7 else 0
        return {
            "steal_share": round(steal / total, 5) if total else 0.0,
            "loadavg_before": self.before["loadavg"],
            "loadavg_after": after["loadavg"],
        }


# ------------------------------------------------------------ RSS sampler --


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # the command name may hold spaces; ppid follows the closing paren
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    Spark JVM and its Python workers), sampled from ``/proc`` on a
    daemon thread between ``start()`` and ``stop()``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> int:
        kb = sum(_rss_kb(p) for p in _descendants(os.getpid()))
        self.peak_kb = max(self.peak_kb, kb)
        return kb

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.sample()
        return self.peak_kb / 1024


# ------------------------------------------------------------------ spans --


class Tracer:
    """In-memory spans ``(name, start, end, parent, run)``, written out
    once when the run ends. Disabled tracers record nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.monotonic(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ---------------------------------------------------------------- session --

#: status-store retention for the benchmark's own session: far above the
#: jobs and stages one run launches, so no stage is evicted mid-run
RETAINED = 1_000_000


def configure_process_env(root: str, work: str) -> None:
    """Process environment the Spark JVM and its Python workers inherit:
    the repository on the workers' path (the curation UDFs import
    ``giraph_spark``), and every scratch directory inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # gettempdir() may have cached /tmp already
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the short-lived JVM spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def session_conf(work: str, cores: int | None = None, mem_mb: int | None = None) -> dict:
    """``local[nproc]`` with one shuffle partition per core and a driver
    heap of a quarter of ``MemTotal`` (the box's memory is shared). The
    heap is committed up front and the young generation fixed at an
    eighth of it, so peak RSS follows the live data rather than the
    collector's adaptive resizing."""
    cores = cores or nproc()
    heap_mb = max(1024, (mem_mb or mem_total_mb()) // 4)
    tmp = os.path.join(work, "tmp")
    jvm = f"-Xms{heap_mb}m -Xmn{heap_mb // 8}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions": jvm,
        "spark.sql.shuffle.partitions": str(cores),
        "spark.default.parallelism": str(cores),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": str(RETAINED),
        "spark.ui.retainedStages": str(RETAINED),
    }


def start_session(conf: dict):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ------------------------------------------------------- status-store read --


class EvictedStageError(RuntimeError):
    """A job group's jobs or stages no longer resolve in the status store
    (retention exceeded); its numbers would be silently wrong. Evicted
    jobs drop out of ``getJobIdsForGroup`` without a trace, and evicted
    stages made cumulative deltas go negative, so the reader refuses to
    report once the first job it saw is gone."""


class JobGroupReader:
    """Spark counters for one job group, read from the status store.

    Uses ``statusTracker().getJobIdsForGroup`` plus
    ``statusStore().lastStageAttempt(sid)``, which resolve through py4j
    with ``spark.ui.enabled=false`` (``stageList(None)`` does not). Each
    stage is counted once per group even when a later job of the group
    skips it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self._jsc = self.sc._jsc.sc()
        self._oldest: int | None = None  # first job id this reader saw

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group, interruptOnCancel=False)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def _drain(self) -> None:
        # the status store is filled by the asynchronous listener bus
        self._jsc.listenerBus().waitUntilEmpty()

    def read(self, group: str) -> dict:
        from py4j.protocol import Py4JJavaError

        self._drain()
        tracker = self.sc.statusTracker()
        job_ids = sorted(tracker.getJobIdsForGroup(group))
        if not job_ids:
            raise EvictedStageError(f"group {group}: no jobs in the status store")
        if self._oldest is None:
            self._oldest = job_ids[0]
        elif tracker.getJobInfo(self._oldest) is None:
            raise EvictedStageError(
                f"group {group}: job {self._oldest} evicted, retention exceeded"
            )
        store = self._jsc.statusStore()
        stage_ids: set[int] = set()
        job_s = []
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                raise EvictedStageError(f"group {group}: job {jid} evicted")
            stage_ids.update(info.stageIds)
            job = store.job(jid)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                done = job.completionTime().get().getTime()
                job_s.append((done - job.submissionTime().get().getTime()) / 1e3)
        tot = {
            "jobs": len(job_ids),
            "job_s": job_s,  # submission to completion, per Spark job
            "stages": 0,
            "tasks": 0,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "gc_s": 0.0,
            "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0,
            "spill_mb": 0.0,
        }
        mb = 1 << 20
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # wraps the store's NoSuchElementException
                raise EvictedStageError(f"group {group}: stage {sid} evicted") from None
            if str(st.status()) == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += st.numCompleteTasks()
            tot["executor_run_s"] += st.executorRunTime() / 1e3
            tot["executor_cpu_s"] += st.executorCpuTime() / 1e9
            tot["gc_s"] += st.jvmGcTime() / 1e3
            tot["shuffle_read_mb"] += st.shuffleReadBytes() / mb
            tot["shuffle_write_mb"] += st.shuffleWriteBytes() / mb
            tot["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / mb
        return tot
