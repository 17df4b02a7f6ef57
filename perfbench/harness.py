"""Measurement plumbing shared by the workloads: the Spark session the
benchmark owns, host-noise stamps, the in-memory span tracer and the
per-operation Spark counters."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

CPUS = 4  # local[4]: the benchmark fixes its parallelism, not the host's
SPIN_ROUNDS, SPIN_LOOP = 7, 200_000  # spin probe: median of 7 loops of 200k steps
FLOOR_JOBS = 5  # one-row noop jobs behind spark.floor_s


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------------
# host noise
# ---------------------------------------------------------------------------

def spin_probe_ms() -> float:
    """Median wall time of a fixed single-core Python busy loop. On an
    idle core it is a constant of the CPU; a rise between the start and
    the end of a run, or against other runs, shows a busy host."""
    samples = []
    for _ in range(SPIN_ROUNDS):
        t0 = time.perf_counter()
        acc = 0
        for i in range(SPIN_LOOP):
            acc += i * i
        samples.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(samples)


def _cpu_ticks() -> list[int]:
    """Aggregate /proc/stat CPU counters; index 7 is steal time, the
    time a virtual CPU was runnable but the hypervisor ran someone else."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_stamp() -> dict:
    one, five, fifteen = os.getloadavg()
    return {
        "loadavg": [round(one, 2), round(five, 2), round(fifteen, 2)],
        "spin_ms": spin_probe_ms(),
        "cpu_ticks": _cpu_ticks(),
    }


def steal_share(start: dict, end: dict) -> float:
    """Share of CPU time stolen by the hypervisor between two stamps."""
    delta = [b - a for a, b in zip(start["cpu_ticks"], end["cpu_ticks"])]
    return delta[7] / max(sum(delta), 1)


def host_flags(start: dict, end: dict) -> list[str]:
    """Reasons to distrust a run's timings. The run itself keeps CPUS
    cores busy, so only load beyond that counts."""
    flags = []
    if start["loadavg"][0] > CPUS + 1:
        flags.append(f"1-min loadavg {start['loadavg'][0]} > {CPUS + 1} at start")
    if end["spin_ms"] > 1.25 * start["spin_ms"]:
        flags.append(f"spin probe rose {start['spin_ms']:.1f} -> {end['spin_ms']:.1f} ms")
    if steal_share(start, end) > 0.05:
        flags.append(f"hypervisor stole {steal_share(start, end):.1%} of CPU time")
    return flags


# ---------------------------------------------------------------------------
# Spark session owned by the benchmark
# ---------------------------------------------------------------------------

def start_session(work_dir: str):
    """local[4] session with every scratch path inside ``work_dir``:
    Python and JVM temp files, Spark's local dirs and warehouse."""
    from etl_rj_spark.session import get_spark

    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = local
    tempfile.tempdir = None  # re-read TMPDIR
    # every JVM the launcher starts: temp files here, no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={local}"
    return get_spark(
        app_name="perfbench",
        cpus=CPUS,
        shuffle_partitions=CPUS,
        extra_conf={
            # a fixed-size heap: peak RSS then tracks the heap the run
            # actually touches, not when G1 chose to grow it
            "spark.driver.memory": "2g",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms2g -Dderby.system.home={local}",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def noop(df) -> None:
    """Materialize a DataFrame without collecting it."""
    df.write.mode("overwrite").format("noop").save()


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM (peak resident set) of the JVM Spark runs in, from /proc."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def jvm_gc_s(spark) -> float:
    """Collection time of every JVM garbage collector since the JVM
    started (in local mode the executors share the driver's JVM)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(b.getCollectionTime(), 0) for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def floor_s(spark) -> float:
    """Median cost of a one-row noop job: the fixed price of any job."""
    samples = []
    for _ in range(FLOOR_JOBS):
        t0 = time.perf_counter()
        noop(spark.range(1))
        samples.append(time.perf_counter() - t0)
    return median(samples)


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    op: str


@dataclass
class OpCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    cpu_s: float = 0.0


class Tracer:
    """Spans around the benchmark's own calls into each layer, kept in
    memory and written out once at the end. Each operation runs in its
    own Spark job group, so its jobs, stages and tasks can be counted
    from the status tracker afterwards."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.counters: dict[str, OpCounters] = {}
        self._stack: list[str] = []
        self._op: str | None = None
        self._n = 0

    @contextmanager
    def op(self, kind: str):
        self._n += 1
        op_id = f"{kind}#{self._n}"
        self._op = op_id
        self.sc.setJobGroup(op_id, op_id)
        try:
            with self.span(kind):
                yield op_id
        finally:
            self.sc.setJobGroup("perfbench-idle", "perfbench-idle")
            self.counters[op_id] = self._collect(op_id)
            self._op = None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(name, t0, time.perf_counter(), parent, self._op or ""))

    @contextmanager
    def aside(self):
        """Jobs the tracing itself runs (prefix materializations, counts)
        go to another job group, so per-operation counters hold only the
        jobs the operation's own calls started."""
        self.sc.setJobGroup("perfbench-instrumentation", "perfbench-instrumentation")
        try:
            yield
        finally:
            self.sc.setJobGroup(self._op, self._op)

    def in_current_op(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name and s.op == self._op]

    def _collect(self, op_id: str) -> OpCounters:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        c = OpCounters()
        for jid in tracker.getJobIdsForGroup(op_id):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            c.jobs += 1
            for sid in info.stageIds:
                c.stages += 1
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    c.tasks += stage.numTasks
                try:  # skipped stages have no attempt in the store
                    data = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                c.shuffle_bytes += data.shuffleWriteBytes()
                c.cpu_s += data.executorCpuTime() / 1e9
        return c

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {"name": s.name, "start": s.start - t0, "end": s.end - t0,
                         "parent": s.parent, "op": s.op}
                        for s in self.spans
                    ],
                    "counters": {k: vars(v) for k, v in self.counters.items()},
                },
                f,
            )


@dataclass
class Results:
    """One run's operations and check outcomes."""

    #: (kind, traced, seconds, input rows) of every operation that returned
    ops: list[tuple[str, bool, float, int]] = field(default_factory=list)
    cycles: int = 0
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def per_kind(self, traced: bool = False) -> dict[str, tuple[float, float]]:
        """{operation kind: (median seconds, median input rows)}."""
        kinds: dict[str, list[tuple[float, int]]] = {}
        for kind, tr, sec, rows in self.ops:
            if tr == traced:
                kinds.setdefault(kind, []).append((sec, rows))
        return {k: (median([s for s, _ in v]), median([r for _, r in v])) for k, v in kinds.items()}

    def cycle_s(self, traced: bool = False) -> float:
        """The sum of the per-kind median times: the median business day
        or round of reads. Any one kind getting slower moves it."""
        return sum(s for s, _ in self.per_kind(traced).values())

    def cycle_rows(self) -> float:
        """Input rows of the median cycle, summed over kinds."""
        return sum(r for _, r in self.per_kind().values())
