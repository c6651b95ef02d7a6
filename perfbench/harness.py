"""Shared machinery: the Spark session, timed ops, Spark job counting,
the measurement window and the statistics every workload reports."""
from __future__ import annotations

import itertools
import os
import shutil
import statistics
import threading
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass

from tracing import Tracer, install

# Spark jobs are registered with the status tracker by an asynchronous
# listener; wait this long after an op before diffing job ids
JOB_SETTLE_S = 0.25
# the workload's store is built this many times in set-up; setup_s
# counts the median build
SETUP_REPEATS = 3
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


@dataclass
class Op:
    kind: str
    latency: float
    ok: bool
    traced: bool
    rows: int = 0
    nbytes: int = 0
    wait: float = 0.0  # part of the latency spent waiting on the benchmark's own lock
    op_id: int = 0
    cpu: float = 0.0  # CPU seconds of the process tree during the op, JIT excluded
    jit: float = 0.0  # CPU seconds of the JVM's JIT compiler threads during the op
    steal: float = 0.0  # share of the vCPUs' time the hypervisor stole during the op


def tail(samples: list[float]) -> tuple[float | None, str]:
    """The highest percentile with at least ten samples beyond it, and
    its label; None when there are fewer than eleven samples."""
    xs = sorted(samples)
    n = len(xs)
    if n >= 11:
        return xs[n - 11], f"p{100 * (n - 10) / n:.0f}"
    return None, "no percentile has 10 samples beyond it"


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of process ``root`` and every process
    below it (the JVM and its Python workers), including their reaped
    children. On a guest kernel without steal-time accounting for tasks
    these counters include the time the hypervisor stole while the
    process was running (see README.md, Noise)."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        # fields after "(comm)": state ppid ... utime stime cutime cstime
        fields = stat[stat.rindex(")") + 2:].split()
        procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return ticks / CLOCK_TICKS


def jit_cpu_s(jvm: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads ("C1/C2 CompilerThre"
    in /proc). They stay alive for the JVM's life
    (-XX:-UseDynamicNumberOfCompilerThreads), so none of their time is
    lost when one would otherwise exit."""
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if "CompilerThre" in stat[stat.index("(") + 1:stat.rindex(")")]:
            fields = stat[stat.rindex(")") + 2:].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks / CLOCK_TICKS


def host_cpu_ticks() -> tuple[int, int]:
    """(stolen, total) ticks of all vCPUs from the first line of
    /proc/stat: the hypervisor's steal is the 8th counter."""
    with open("/proc/stat") as f:
        counters = [int(x) for x in f.readline().split()[1:9]]
    return counters[7], sum(counters)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of all vCPUs' time stolen between two ``host_cpu_ticks``."""
    return (after[0] - before[0]) / max(after[1] - before[1], 1)


def midmean(samples: list[float]) -> float:
    """Mean of the middle half of ``samples`` (the interquartile mean).
    The host's speed switches between regimes a few seconds long, so op
    times are bimodal: a median of a few ops jumps from one mode to the
    other, while this mean moves with the share of time spent in each and
    ignores single stalls."""
    xs = sorted(samples)
    cut = len(xs) // 4
    return mean(xs[cut:len(xs) - cut])


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class JobCounter:
    """Spark jobs and completed tasks since the last ``take``, read from
    ``sparkContext.statusTracker()`` (works with the UI disabled)."""

    def __init__(self, sc) -> None:
        self.tracker = sc.statusTracker()
        self.seen = set(self.tracker.getJobIdsForGroup(None))

    def take(self) -> tuple[int, int]:
        time.sleep(JOB_SETTLE_S)
        ids = set(self.tracker.getJobIdsForGroup(None))
        new, self.seen = ids - self.seen, ids
        tasks = 0
        for jid in new:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                stage = self.tracker.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks
        return len(new), tasks


class Bench:
    """One benchmark run: owns the Spark session, the work directory, the
    op log and (with ``--trace 1``) the tracer."""

    def __init__(self, *, seed: int, seconds: float, trace: bool, work: str,
                 cpus: int) -> None:
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.cpus = cpus
        self.tracer = Tracer() if trace else None
        self.ops: list[Op] = []
        self.jobs: dict[str, list[tuple[int, int]]] = {}
        self.checks: list[tuple[str, bool, str]] = []
        self.report: list[tuple[str, float, str, str]] = []
        self.layer: dict[str, float] = {}
        self.segments: list[tuple[float, float]] = []  # traced windows
        self.first_op_at: float | None = None
        self.store_builds: list[float] = []
        self.steal_frac = 0.0  # share of the vCPUs' time stolen during the window
        self.marks: list[tuple[str, float]] = []  # (phase that just ended, time)
        self._op_ids = itertools.count(1)
        self._lock = threading.Lock()
        self.spark = None
        self.counter: JobCounter | None = None

    # -- session ----------------------------------------------------------
    def start_spark(self) -> None:
        if self.tracer is not None:
            install(self.tracer)
        from feast_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            cores=self.cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        self.session_start_s = time.perf_counter() - t0
        self.mark("session")
        self.jvm = self.jvm_pid()
        if self.trace:
            self.counter = JobCounter(self.spark.sparkContext)

    def stop_spark(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers it forked) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
        self.spark = None

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def mark(self, phase: str) -> None:
        """Note that ``phase`` of the run ended now (printed per phase)."""
        self.marks.append((phase, time.perf_counter()))

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def build_store(self, build):
        """Run ``build(i)`` for i in 0..SETUP_REPEATS-1, timing each; every
        build writes its own paths. Returns the last build's result;
        ``setup_s`` counts the median build time instead of their sum."""
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            out = build(i)
            self.store_builds.append(time.perf_counter() - t0)
        self.mark("store builds")
        return out

    def setup_s(self, process_start: float) -> float:
        """Process start to first timed op, with the repeated store build
        counted once, at its median."""
        builds = self.store_builds
        return (self.first_op_at - process_start) - sum(builds) + statistics.median(builds)

    # -- ops ----------------------------------------------------------------
    def run_op(self, kind: str, fn, *, timed: bool = True, count_jobs: bool = False) -> Op:
        """Run ``fn`` as one op of ``kind``. ``fn`` returns a dict with
        optional ``rows``/``bytes``/``wait``; an exception counts as a
        failed op.
        Only ``timed`` ops enter the metrics."""
        tr = self.tracer
        op_id = next(self._op_ids)
        if tr is not None:
            tr.set_op(op_id)
        if timed and self.first_op_at is None:
            self.mark("warm-up and checks")
            self.first_op_at = time.perf_counter()
        traced = tr is not None and tr.enabled
        ticks0 = host_cpu_ticks()
        cpu0, jit0 = tree_cpu_s(os.getpid()), jit_cpu_s(self.jvm)
        t0 = time.perf_counter()
        ok, out = True, {}
        try:
            with self.span(f"op.{kind}"):
                out = fn() or {}
        except Exception:
            traceback.print_exc()
            ok = False
        latency = time.perf_counter() - t0
        jit = jit_cpu_s(self.jvm) - jit0
        cpu = tree_cpu_s(os.getpid()) - cpu0 - jit
        op = Op(kind, latency, ok, traced, out.get("rows", 0), out.get("bytes", 0),
                out.get("wait", 0.0), op_id, cpu, jit, steal_share(ticks0, host_cpu_ticks()))
        if tr is not None:
            tr.set_op(None)
        if timed:
            with self._lock:
                self.ops.append(op)
        if count_jobs and self.counter is not None:
            self.jobs.setdefault(kind, []).append(self.counter.take())
        return op

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def measure(self, segment) -> None:
        """Run the timed window. ``segment(seconds)`` issues ops until its
        time is up. Untraced runs measure one window of ``--seconds``;
        traced runs split the same time into untraced/traced/traced/
        untraced quarters, so the tracing overhead is a same-process
        difference with linear drift cancelled."""
        ticks0 = host_cpu_ticks()
        try:
            self._measure(segment)
        finally:
            self.steal_frac = steal_share(ticks0, host_cpu_ticks())
            self.mark("window")

    def _measure(self, segment) -> None:
        if self.tracer is None:
            segment(self.seconds)
            return
        if self.counter is not None:
            self.counter.take()  # forget set-up and warm-up jobs
        for traced in (False, True, True, False):
            self.tracer.enabled = traced
            start = self.tracer.now()
            segment(self.seconds / 4)
            if traced:
                self.segments.append((start, self.tracer.now()))
        self.tracer.enabled = False

    def timed(self, kind: str, *, traced: bool = False) -> list[Op]:
        return [o for o in self.ops if o.kind == kind and o.traced == traced]

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    # -- reporting ----------------------------------------------------------
    def latency_stats(self, kind: str) -> dict:
        """Midmean, median and tail latency, the midmean CPU time less
        the steal share (``cpu``) and as counted (``cpu_raw``), the
        midmean JIT CPU time and the median steal share of the
        successful untraced ops of ``kind``, with the sample count."""
        ops = [o for o in self.timed(kind) if o.ok]
        if not ops:
            raise RuntimeError(f"no successful {kind} op in the window; raise --seconds")
        lat = [o.latency for o in ops]
        t, label = tail(lat)
        return {
            "midmean": midmean(lat), "p50": statistics.median(lat), "tail": t,
            "tail_label": label, "n": len(lat),
            "cpu": midmean([o.cpu * (1 - o.steal) for o in ops]),
            "cpu_raw": midmean([o.cpu for o in ops]),
            "jit": midmean([o.jit for o in ops]),
            "steal": statistics.median(o.steal for o in ops),
        }

    def say(self, name: str, value: float, unit: str, note: str = "") -> None:
        self.report.append((name, value, unit, note))

    def set_layer(self, name: str, value: float) -> None:
        self.layer[name] = float(value)

    def spark_layer_metrics(self) -> None:
        for kind in ("ingest", "small", "large", "read", "push"):
            counts = self.jobs.get(kind, [])
            self.set_layer(f"spark.jobs_per_op.{kind}", mean(c[0] for c in counts))
            self.set_layer(f"spark.tasks_per_op.{kind}", mean(c[1] for c in counts))

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this driver process plus the JVM."""
        total_kb = 0
        for pid in ("self", str(self.jvm_pid())):
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        return total_kb / 1024.0
