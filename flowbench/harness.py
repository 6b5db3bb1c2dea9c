"""Pieces every workload shares: the run context, spans, peak memory,
the conditions block, percentiles and session set-up."""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# cold set-ups per run; setup_s is their median. Each costs 7-10 s on a
# 4-core box, so more would lengthen every run.
SETUPS = 2


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    attrs: dict


@dataclass
class Run:
    """One benchmark run: arguments, workspace, spans and failure counts."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    spans: list[Span] = field(default_factory=list)
    detail: dict = field(default_factory=dict)
    _stack: list[str] = field(default_factory=list)

    def path(self, *parts: str) -> str:
        """A file path in the workspace; its directory is created."""
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        """A directory in the workspace, created."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def check(self, ok: bool, what: str) -> bool:
        """Count one attempted operation; record it as failed unless ``ok``."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok

    @contextmanager
    def span(self, name: str, **attrs):
        """Time a call into one layer. Spans are kept only in traced runs,
        but the wall time is always returned through ``attrs['wall_s']``."""
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.monotonic()
        try:
            yield attrs
        finally:
            t1 = time.monotonic()
            self._stack.pop()
            attrs["wall_s"] = t1 - t0
            if self.trace:
                self.spans.append(Span(name, t0, t1, parent, attrs))

    def span_walls(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def write_spans(self) -> str:
        out = self.path("spans.json")
        with open(out, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh, default=str)
        return out


# -- resource use -------------------------------------------------------------

def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> dict[str, float]:
    """Peak resident set (``VmHWM``) of this process and of every live
    descendant, summed per kind: ``python_driver`` (this process), ``jvm`` and
    ``python_workers``. Read once, before the session stops, so nothing
    samples while the engine runs."""
    me = os.getpid()
    out = {"python_driver": 0.0, "jvm": 0.0, "python_workers": 0.0, "python_worker_count": 0}
    for pid in _descendants(me):
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        mb = int(fields.get("VmHWM", "0 kB").split()[0]) / 1024.0
        if pid == me:
            out["python_driver"] += mb
        elif fields["Name"].strip() == "java":
            out["jvm"] += mb
        else:
            out["python_workers"] += mb
            out["python_worker_count"] += 1
    return out


# -- conditions ---------------------------------------------------------------

def single_core_probe() -> float:
    """A fixed pure-Python loop: moves with host speed and load, never with
    this repository's code."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc * 1103515245 + i) % 2_147_483_647
    return time.perf_counter() - t0


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the whole machine from ``/proc/stat``.
    Steal is time a virtual CPU was ready but the host ran someone else."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def conditions(run: Run) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg": list(os.getloadavg()),
        "single_core_probe_s": single_core_probe(),
        "seed": run.seed,
        "workload": run.workload,
    }


# -- session ------------------------------------------------------------------

def session_conf(run: Run, event_log: bool = False) -> dict[str, str]:
    """Confs the benchmark adds to ``get_spark``: keep every file the JVM
    writes inside the workspace, and enable the uncompressed event log for
    traced catalog passes."""
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run.dir('tmp')}",
        "spark.local.dir": run.dir("local"),
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + run.dir("events"),
        })
    return conf


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the driver JVM to exit, so a run
    leaves no process behind. The JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def set_up(run: Run, build):
    """Set the engine up ``SETUPS`` times from cold. Each set-up launches a
    fresh driver JVM, creates the session and calls ``build(spark)``, which
    builds the workload's first pipeline without running it. Every session
    but the last is stopped and its JVM shut down. Returns the live session
    and each set-up's wall time."""
    from kafka_streams_demo_spark import get_spark

    walls = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
            stop_jvm()
        t0 = time.monotonic()
        with run.span("session.get_spark"):
            spark = get_spark(app_name=f"flowbench-{run.workload}", extra_conf=session_conf(run))
        spark.sparkContext.setLogLevel("ERROR")
        build(spark)
        walls.append(time.monotonic() - t0)
    return spark, walls
