"""Closed-loop driver shared by the workloads: times and checks ops,
alternates traced and untraced ops in a traced run, and owns the
Spark session's lifetime."""

from __future__ import annotations

import os
import signal
import time
from collections import defaultdict

from perfbench.sparkstats import group_of, status_counts
from perfbench.trace import Tracer


class Harness:
    """One client thread. An *op* is one timed call into the engine
    (a statement, a commit, a query); a *unit* is the workload's
    repeated job made of ops. In a traced run every other op inside the
    units is traced, so the run also measures its own tracing overhead;
    with an odd number of ops per unit, each op position is traced in
    one unit and untraced in the next."""

    def __init__(self, spark, trace: bool):
        self.sc = spark.sparkContext
        self.tracer = Tracer() if trace else None
        self.tracing = False
        self._in_units = False
        self._unit_ops = 0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        # kind -> [(ms, traced)]
        self.samples: dict[str, list[tuple[float, bool]]] = defaultdict(list)
        self.unit_ms: list[float] = []
        # "<thread category>:<kind>" -> [CPU ms]; categories work, jit, gc
        self.cpu_samples: dict[str, list[float]] = defaultdict(list)
        # traced ops: id, kind, epoch start/end, statusTracker counts
        self.op_records: list[dict] = []
        self.measured_s = 0.0
        self._next_op = 0

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what[:400])

    @property
    def next_op_traced(self) -> bool:
        return self.tracer is not None and self._in_units and self._unit_ops % 2 == 0

    def op(self, kind: str, fn, check=None, record: bool = True):
        """Run ``fn`` as one op. ``check(result, error)`` returns True
        when the outcome is the expected one; without it any exception
        is a failure. Returns (result, ms)."""
        self.attempted += 1
        op_id = self._next_op
        self._next_op += 1
        traced = self.next_op_traced
        self._unit_ops += self._in_units
        if traced:
            self.tracer.op_id = op_id
            self.sc.setJobGroup(group_of(op_id), kind)
            self.tracer.install()
            self.tracing = True
        result = err = None
        c0 = self.cpu_snapshot()
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span("op", kind=kind):
                    result = fn()
            else:
                result = fn()
        except Exception as e:  # an op's failure is counted, the loop goes on
            err = e
        t1 = time.perf_counter()
        ms = (t1 - t0) * 1000.0
        c1 = self.cpu_snapshot()
        cpu_ms = defaultdict(float)
        for key, (sec, cat) in c1.items():
            cpu_ms[cat] += (sec - c0.get(key, (0.0, cat))[0]) * 1000.0
        if traced:
            self.tracing = False
            self.tracer.uninstall()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.tracer.op_id = None
            off = self.tracer.epoch_offset
            self.op_records.append(
                {
                    "id": op_id,
                    "kind": kind,
                    "start": t0 + off,
                    "end": t1 + off,
                    **status_counts(self.sc, group_of(op_id)),
                }
            )
        try:
            ok = check(result, err) if check else err is None
        except Exception as e:  # a check that cannot run is a wrong result
            ok, err = False, e
        if not ok:
            self.fail(f"{kind}: {'wrong result' if err is None else repr(err)}")
        if record:
            self.samples[kind].append((ms, traced))
            for cat, v in cpu_ms.items():
                self.cpu_samples[f"{cat}:{kind}"].append(v)
        return result, ms

    def units(self, seconds: float, multiple_of: int = 1):
        """Yield unit indices until ``seconds`` have passed and a whole
        number of ``multiple_of`` units has run: at least one group, or
        two in a traced run, so that every op is seen both traced and
        untraced."""
        start = time.perf_counter()
        least = multiple_of * (2 if self.tracer is not None else 1)
        i = 0
        self._in_units = True
        try:
            while i < least or i % multiple_of or time.perf_counter() - start < seconds:
                t0 = time.perf_counter()
                yield i
                self.unit_ms.append((time.perf_counter() - t0) * 1000.0)
                i += 1
        finally:
            self._in_units = False
        self.measured_s = time.perf_counter() - start

    def cpu_snapshot(self) -> dict:
        """(pid, tid) -> (CPU seconds, category) for this process, its
        descendants and, thread by thread, the JVM."""
        jvm = gateway_pid()
        out = {}
        for p in [os.getpid(), *descendants_of(os.getpid())]:
            if p == jvm:
                out.update(jvm_thread_cpu(p))
            else:
                out[(p, 0)] = (cpu_seconds(f"/proc/{p}/stat"), "work")
        return out

    def kind_ms(self, kind: str, traced: bool | None = None) -> list[float]:
        return [ms for ms, t in self.samples.get(kind, ()) if traced is None or t == traced]


# ---------------------------------------------------------------------------
# processes


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(stat_path: str) -> float:
    """User plus system CPU seconds from a /proc stat file, 0 once the
    process or thread is gone."""
    try:
        with open(stat_path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[11]) + int(fields[12])) / _TICK


def _thread_category(name: str) -> str:
    if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
        return "jit"
    if name.startswith(("GC Thread", "G1 ", "VM Thread")):
        return "gc"
    return "work"


def jvm_thread_cpu(pid: int) -> dict:
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                cat = _thread_category(f.read())
        except OSError:
            continue
        out[(pid, int(tid))] = (cpu_seconds(f"/proc/{pid}/task/{tid}/stat"), cat)
    return out


def children_of(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # field 4 (ppid) follows the parenthesized command name
            if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
                out.append(int(entry))
    return out


def descendants_of(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = children_of(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def gateway_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """High-water RSS of this process plus its JVM, in MB."""
    kb = _status_kb(os.getpid(), "VmHWM")
    jvm = gateway_pid()
    if jvm is not None:
        kb += _status_kb(jvm, "VmHWM")
    return kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, the JVM gateway and every process they
    started, and wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = descendants_of(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    for pid in started:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None
